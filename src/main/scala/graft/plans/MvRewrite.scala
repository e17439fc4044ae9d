package graft.plans

import java.nio.file.Files
import graft.Tables

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{avg => favg, coalesce, col, count,
  greatest, least, lit, max, min, sum, when}
import org.apache.spark.sql.types.DoubleType

/** Aggregate-to-materialized-view rewrite.
  *
  * The reference keeps gold-layer summary tables current and queries THEM
  * instead of the raw stream (gold aggregation tables,
  * reference: notebooks/demo/unity_catalog_cdc_demo.py:400-470); its
  * consumers must know to point at the summary table. The Spark-native
  * version inverts that: users keep writing the query against the 100 TB
  * fact table, and a Catalyst optimizer rule swaps the scan for a
  * registered pre-aggregation when — and only when — the answer is
  * derivable from it. This is the classic summary-table rewrite
  * (Goldstein & Larson, SIGMOD'01) in its distributive-aggregate form.
  *
  * Derivability contract (all-or-nothing per Aggregate — one
  * non-derivable term keeps the whole query on the fact table):
  *   - grouping keys ⊆ the MV's grouping keys (subset grouping re-rolls
  *     the MV: sum of sums, min of mins, sum of counts),
  *   - every filter references grouping keys only (then it partitions
  *     MV rows exactly as it partitions fact rows),
  *   - `sum(x)`/`avg(x)` only for registered sum columns, `min(x)`/
  *     `max(x)` only for registered min/max or grouping columns,
  *     `count(*)`/`count(lit)` always; no DISTINCT, no FILTER clauses.
  *
  * At 100 TB this is the highest-leverage rewrite in the library: a
  * terabyte-scale scan+shuffle collapses to a scan of a cardinality-of-
  * the-group-by-sized parquet — same answer, proven by the driver's
  * DuckDB oracle which runs the SQL against the BASE table.
  *
  * Output attribute ExprIds are preserved (each rewritten aggregate is
  * re-aliased under the original ExprId), so parent operators resolve
  * unchanged.
  */
object RewriteAggToMv extends Rule[LogicalPlan] with PredicateHelper {

  private final class Bail extends RuntimeException

  /** Unwraps attribute-only Projects and Filters above a v1 file scan,
    * collecting filter conjuncts on the way down.
    */
  private object BaseScan {
    def unapply(plan: LogicalPlan): Option[(Seq[Expression], LogicalRelation)] =
      plan match {
        case l: LogicalRelation => Some((Nil, l))
        case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          unapply(child)
        case Filter(cond, child) => unapply(child).map { case (cs, l) =>
          (splitConjunctivePredicates(cond) ++ cs, l)
        }
        case _ => None
      }
  }

  private def scanPath(l: LogicalRelation): Option[String] = l.relation match {
    case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
        // a multi-path scan (read.parquet(a, b)) must never match an MV
        // registered for its FIRST root alone — that would silently drop
        // the other paths' rows from the rewritten aggregate
        if fs.location.rootPaths.size == 1 =>
      fs.location.rootPaths.headOption.map(p => Mv.normalizePath(p.toString))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => agg.child match {
        case BaseScan(filters, rel) =>
          scanPath(rel).flatMap(MvCatalog.find)
            .flatMap(e => tryRewrite(agg, filters, e)).getOrElse(agg)
        case exp @ Expand(_, _, BaseScan(filters, rel)) =>
          scanPath(rel).flatMap(MvCatalog.find)
            .flatMap(e => tryRewriteExpand(agg, exp, filters, e)).getOrElse(agg)
        case _ => agg
      }
    }

  /** ROLLUP / CUBE / GROUPING SETS over the fact table, served from the
    * MV: the analyzer lowers them to `Aggregate ← Expand ← scan`, where
    * Expand replicates each input row once per grouping set (null-masking
    * the absent keys, appending spark_grouping_id). Replication commutes
    * with re-aggregation, so the SAME Expand shape over MV rows — with
    * measures swapped for their pre-aggregates and count(1) for
    * sum(__cnt) — yields identical results at group-by-cardinality input
    * size. The Expand's own output layout is Spark-internal but stable:
    * measure positions pass the base attribute through under its own
    * ExprId, grouping positions get fresh ExprIds; we bail on anything
    * that doesn't look exactly like that.
    */
  private def tryRewriteExpand(agg: Aggregate, exp: Expand,
      filters: Seq[Expression], e: MvEntry): Option[Aggregate] = try {
    val mvRel = e.relation.newInstance()
    val mvAttr = mvRel.output.map(a => a.name -> a).toMap
    def bail(): Nothing = throw new Bail

    // classify each Expand output position
    sealed trait Pos
    case class Constant(idx: Int) extends Pos
    case class Measure(src: AttributeReference) extends Pos
    case class Grouping(idx: Int, src: AttributeReference) extends Pos
    val positions: Seq[Pos] = exp.output.indices.map { i =>
      val vals = exp.projections.map(_(i))
      if (vals.forall(_.isInstanceOf[Literal])) Constant(i)
      else {
        val srcs = vals.collect { case a: AttributeReference => a }.distinct
        if (srcs.size != 1) bail()
        val ok = vals.forall {
          case _: AttributeReference => true
          case l: Literal => l.value == null
          case _ => false
        }
        if (!ok) bail()
        if (exp.output(i).exprId == srcs.head.exprId) Measure(srcs.head)
        else Grouping(i, srcs.head)
      }
    }
    val measureIds = positions.collect { case Measure(s) => s.exprId }.toSet
    val groupingIds = positions.collect { case Grouping(i, _) =>
      exp.output(i).exprId }.toSet
    positions.foreach {
      case Grouping(_, s) if !e.groupCols.contains(s.name) => bail()
      case _ => ()
    }
    filters.foreach { f =>
      // reference check alone lets a REFERENCE-FREE non-deterministic
      // conjunct (rand() < 0.5) through — it would re-evaluate against
      // MV rows instead of fact rows, changing the sample population
      if (!f.deterministic) bail()
      if (!f.references.forall(r => e.groupCols.contains(r.name))) bail()
    }

    // which mv measure columns the aggregates need (each becomes one
    // passthrough position in the rebuilt Expand)
    val needed = scala.collection.mutable.LinkedHashMap[String, AttributeReference]()
    def need(mvCol: String): AttributeReference =
      needed.getOrElseUpdate(mvCol,
        mvAttr.getOrElse(mvCol, bail()))
    def fresh(f: AggregateFunction): AggregateExpression =
      AggregateExpression(f, Complete, isDistinct = false)
    def rwAgg(ae: AggregateExpression): Expression = {
      if (ae.isDistinct || ae.filter.nonEmpty) bail()
      ae.aggregateFunction match {
        case Sum(a: AttributeReference, _)
            if measureIds.contains(a.exprId) && e.sumCols.contains(a.name) =>
          fresh(Sum(need("__sum_" + a.name)))
        case c: Count if c.children.nonEmpty && c.children.forall {
            case l: Literal => l.value != null
            case _ => false } =>
          Coalesce(Seq(fresh(Sum(need("__cnt"))), Literal(0L)))
        case Min(a: AttributeReference)
            if measureIds.contains(a.exprId) && e.minCols.contains(a.name) =>
          fresh(Min(need("__min_" + a.name)))
        case Max(a: AttributeReference)
            if measureIds.contains(a.exprId) && e.maxCols.contains(a.name) =>
          fresh(Max(need("__max_" + a.name)))
        case Min(a: AttributeReference) if groupingIds.contains(a.exprId) => ae
        case Max(a: AttributeReference) if groupingIds.contains(a.exprId) => ae
        case Average(a: AttributeReference, _)
            if measureIds.contains(a.exprId) && e.sumCols.contains(a.name) &&
              ae.dataType == DoubleType =>
          // Average divides by the NON-NULL count of the measure, not by
          // count(*) — divide by the per-column non-null count the layout
          // stores (need() bails on MVs predating __cntnn_)
          Divide(Cast(fresh(Sum(need("__sum_" + a.name))), DoubleType),
            Cast(fresh(Sum(need("__cntnn_" + a.name))), DoubleType))
        case _ => bail()
      }
    }
    def rw(x: Expression): Expression = x match {
      case ae: AggregateExpression =>
        val r = rwAgg(ae)
        if (r.dataType == ae.dataType) r else Cast(r, ae.dataType)
      case a: AttributeReference =>
        if (groupingIds.contains(a.exprId)) a
        else if (measureIds.contains(a.exprId)) bail()  // raw measure outside agg
        else a
      case other => other.mapChildren(rw)
    }
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        if (groupingIds.contains(a.exprId) || !measureIds.contains(a.exprId)) a
        else bail()
      case al: Alias =>
        val nc = rw(al.child)
        val typed =
          if (nc.dataType == al.child.dataType) nc else Cast(nc, al.child.dataType)
        Alias(typed, al.name)(exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case _ => bail()
    }
    // grouping expressions may only touch grouping/constant outputs
    agg.groupingExpressions.foreach(_.references.foreach { r =>
      if (measureIds.contains(r.exprId)) bail()
    })

    // rebuild the Expand: needed mv measures pass through every
    // projection row; grouping/constant positions keep their original
    // output attrs with base attrs swapped for mv attrs
    val keptPositions = positions.collect {
      case g: Grouping => g
      case c: Constant => c
    }
    val newOutput: Seq[Attribute] = needed.values.toSeq ++ keptPositions.map {
      case Grouping(i, _) => exp.output(i)
      case Constant(i) => exp.output(i)
    }
    val newProjections = exp.projections.map { row =>
      needed.values.toSeq ++ keptPositions.map {
        case Grouping(i, src) => row(i) match {
          case _: AttributeReference => mvAttr.getOrElse(src.name, bail())
          case l: Literal => l
          case _ => bail()
        }
        case Constant(i) => row(i)
      }
    }
    val newFilters = filters.map(_.transformUp {
      case a: AttributeReference => mvAttr.getOrElse(a.name, bail())
    })
    val child =
      if (newFilters.isEmpty) mvRel else Filter(newFilters.reduce(And), mvRel)
    Some(agg.copy(aggregateExpressions = newAggExprs,
      child = Expand(newProjections, newOutput, child)))
  } catch { case _: Bail => None }

  private def tryRewrite(agg: Aggregate, filters: Seq[Expression],
      e: MvEntry): Option[Aggregate] = try {
    // fresh ExprIds per use: the same MV may appear twice in one query
    val mvRel = e.relation.newInstance()
    val mvAttr = mvRel.output.map(a => a.name -> a).toMap
    def bail(): Nothing = throw new Bail
    def groupAttr(a: AttributeReference): AttributeReference =
      if (e.groupCols.contains(a.name)) mvAttr(a.name) else bail()

    val newG = agg.groupingExpressions.map {
      case a: AttributeReference => groupAttr(a)
      case _ => bail()
    }
    // same non-determinism hole as the Expand path: a conjunct with no
    // references (rand() < 0.5) passes the attribute transform untouched
    filters.foreach(f => if (!f.deterministic) bail())
    val newFilters = filters.map(_.transformUp {
      case a: AttributeReference => groupAttr(a)
    })
    def fresh(f: AggregateFunction): AggregateExpression =
      AggregateExpression(f, Complete, isDistinct = false)
    def rwAggFn(ae: AggregateExpression): Expression = {
      if (ae.isDistinct || ae.filter.nonEmpty) bail()
      ae.aggregateFunction match {
        case Sum(a: AttributeReference, _) if e.sumCols.contains(a.name) =>
          fresh(Sum(mvAttr("__sum_" + a.name)))
        case c: Count if c.children.nonEmpty && c.children.forall {
            case l: Literal => l.value != null
            case _ => false } =>
          // count(*) == sum of per-group counts; coalesce keeps the
          // global-aggregation-over-zero-groups case at 0, like Count
          Coalesce(Seq(fresh(Sum(mvAttr("__cnt"))), Literal(0L)))
        case Min(a: AttributeReference) if e.minCols.contains(a.name) =>
          fresh(Min(mvAttr("__min_" + a.name)))
        case Min(a: AttributeReference) if e.groupCols.contains(a.name) =>
          fresh(Min(mvAttr(a.name)))
        case Max(a: AttributeReference) if e.maxCols.contains(a.name) =>
          fresh(Max(mvAttr("__max_" + a.name)))
        case Max(a: AttributeReference) if e.groupCols.contains(a.name) =>
          fresh(Max(mvAttr(a.name)))
        case Average(a: AttributeReference, _)
            if e.sumCols.contains(a.name) && ae.dataType == DoubleType =>
          // avg is algebraic, not distributive: derive from (sum, count).
          // The divisor must be the measure's NON-NULL count (__cntnn_),
          // not __cnt = count(*): Spark's Average skips nulls, so for a
          // nullable measure the two differ and count(*) silently skews
          // the rewritten average low
          Divide(Cast(fresh(Sum(mvAttr("__sum_" + a.name))), DoubleType),
            Cast(fresh(Sum(mvAttr.getOrElse("__cntnn_" + a.name, bail()))),
              DoubleType))
        case _ => bail()
      }
    }
    def rw(x: Expression): Expression = x match {
      case ae: AggregateExpression =>
        val r = rwAggFn(ae)
        // re-aggregated sums widen decimal precision; pin the original type
        if (r.dataType == ae.dataType) r else Cast(r, ae.dataType)
      case a: AttributeReference => groupAttr(a)
      case other => other.mapChildren(rw)
    }
    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        Alias(groupAttr(a), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case al: Alias =>
        val nc = rw(al.child)
        val typed =
          if (nc.dataType == al.child.dataType) nc else Cast(nc, al.child.dataType)
        Alias(typed, al.name)(exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case _ => bail()
    }
    val child =
      if (newFilters.isEmpty) mvRel else Filter(newFilters.reduce(And), mvRel)
    Some(agg.copy(groupingExpressions = newG,
      aggregateExpressions = newAggExprs, child = child))
  } catch { case _: Bail => None }
}

/** Exact view matching — the join-shape complement of [[RewriteAggToMv]].
  *
  * [[RewriteAggToMv]] re-rolls single-table summaries under subset
  * grouping; this rule instead matches a query's WHOLE Aggregate subtree
  * against a registered definition with Catalyst's own
  * `LogicalPlan.sameResult` (canonicalized comparison: ExprIds, aliases,
  * and cosmetic differences normalized away) and swaps in the stored
  * result. Because the match is semantic equality of the full subtree, it
  * covers shapes the derivation rule cannot — star joins, filtered joins,
  * arbitrary grouping expressions — at the price of no re-rolling: the
  * query must BE the view. That trade (exact match over arbitrary plans,
  * derivation over single scans) is the standard two-tier design of
  * warehouse MV engines (Goldstein & Larson §3: "view-matching on
  * canonical forms").
  *
  * Both sides compare post-main-optimizer (the stored plan is the
  * definition's `optimizedPlan`; the rule runs in the pre-CBO batch,
  * after the main operator batches), so both saw the same filter
  * pushdown and join ordering. Output attributes keep the query's ExprIds via positional
  * re-aliasing — canonical equality implies positionally equal outputs.
  */
object RewriteExactView extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ViewCatalog.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate =>
        ViewCatalog.all.find(e => agg.sameResult(e.defPlan)) match {
          case Some(e) =>
            val mv = e.relation.newInstance()
            Project(agg.output.zip(mv.output).map { case (o, m) =>
              Alias(m, o.name)(exprId = o.exprId, qualifier = o.qualifier)
            }, mv)
          case None => agg
        }
    }
}

/** A registered exact view: the optimized definition plan and the scan of
  * its stored result.
  */
case class ViewEntry(name: String, defPlan: LogicalPlan,
    relation: LogicalRelation)

object ViewCatalog {
  private val entries = new scala.collection.concurrent.TrieMap[String, ViewEntry]()
  def register(e: ViewEntry): Unit = entries.put(e.name, e)
  def deregister(name: String): Unit = entries.remove(name)
  def clear(): Unit = entries.clear()
  def isEmpty: Boolean = entries.isEmpty
  def all: Iterable[ViewEntry] = entries.values
}

/** One registered materialized view: which fact-table path it summarizes,
  * its grouping keys, which measures it stores, and the analyzed scan of
  * the stored summary.
  */
case class MvEntry(
    name: String,
    basePath: String,
    mvPath: String,
    groupCols: Seq[String],
    sumCols: Set[String],
    minCols: Set[String],
    maxCols: Set[String],
    relation: LogicalRelation)

/** Process-wide MV registry the rule consults. Keyed by MV name;
  * looked up by normalized base path.
  */
object MvCatalog {
  private val entries = new scala.collection.concurrent.TrieMap[String, MvEntry]()
  def register(e: MvEntry): Unit = entries.put(e.name, e)
  def get(name: String): Option[MvEntry] = entries.get(name)
  def deregister(name: String): Unit = entries.remove(name)
  def clear(): Unit = entries.clear()
  def isEmpty: Boolean = entries.isEmpty
  def find(basePath: String): Option[MvEntry] =
    entries.values.find(_.basePath == basePath)
}

object Mv {

  private[plans] def normalizePath(p: String): String = {
    val noScheme = if (p.startsWith("file:")) p.stripPrefix("file:") else p
    new java.io.File(noScheme).getAbsolutePath.stripSuffix("/")
  }

  /** Build the summary table (ONE shuffle over the fact table: partial
    * aggregation map-side, group-by-cardinality rows out), write it, and
    * register it for the rewrite. MV column layout: grouping keys under
    * their own names, `__cnt`, and per sum column `__sum_<c>` plus
    * `__cntnn_<c>` (its NON-NULL count — what Average divides by; count(*)
    * would be wrong whenever the measure is nullable), `__min_<c>`,
    * `__max_<c>`.
    */
  def create(spark: SparkSession, name: String, basePath: String,
      mvPath: String, groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil): MvEntry = {
    val base = spark.read.parquet(basePath)
    val aggs = Seq(count(lit(1)).as("__cnt")) ++
      sumCols.map(c => sum(col(c)).as(s"__sum_$c")) ++
      sumCols.map(c => count(col(c)).as(s"__cntnn_$c")) ++
      minCols.map(c => min(col(c)).as(s"__min_$c")) ++
      maxCols.map(c => max(col(c)).as(s"__max_$c"))
    base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val entry = MvEntry(name, normalizePath(basePath), mvPath, groupCols,
      sumCols.toSet, minCols.toSet, maxCols.toSet, scanOf(spark, mvPath))
    MvCatalog.register(entry)
    entry
  }

  private def scanOf(spark: SparkSession, path: String): LogicalRelation =
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l
    }.getOrElse(sys.error(s"MV scan of $path did not plan as a v1 relation"))

  /** Incremental MV maintenance: fold a CDC delta into the stored summary
    * WITHOUT touching the base table. `delta` carries the base schema plus
    * a signed `weightCol` (+1 insert, −1 delete; an update is a −1/+1
    * pair). sum and count are self-maintainable under retraction
    * (sum += Σ w·x, cnt += Σ w; a group whose count reaches 0 is
    * dropped); min/max are NOT — they only refresh on insert-only deltas
    * (`insertOnly = true`, folded via least/greatest), the classic IVM
    * limitation (Gupta & Mumick, "Maintenance of Materialized Views").
    *
    * Scale shape: ONE aggregation over the DELTA (usually millions of
    * rows, not the 100 TB base) + one join at MV cardinality, written
    * retire-then-promote to `outPath`. The refreshed entry replaces the
    * registration, so the NEXT query against the fact table reads the
    * refreshed summary — correct exactly when the base table receives
    * the same delta (the normal CDC-apply case, where fact and summary
    * advance together). If the delta is hypothetical, deregister after
    * reading the refreshed frame.
    */
  def refresh(spark: SparkSession, name: String, delta: DataFrame,
      weightCol: String, outPath: String,
      insertOnly: Boolean = false): MvEntry = {
    val e = MvCatalog.get(name).getOrElse(sys.error(s"no MV named $name"))
    require(insertOnly || (e.minCols ++ e.maxCols).isEmpty,
      "min/max measures are not maintainable under deletes; " +
        "pass insertOnly = true or re-create the MV")
    val w = col(weightCol)
    val dAggs = Seq(sum(w).cast("long").as("__d_cnt")) ++
      e.sumCols.toSeq.sorted.map(c => sum(col(c) * w).as(s"__d_sum_$c")) ++
      e.sumCols.toSeq.sorted.map(c =>
        sum(when(col(c).isNotNull, w).otherwise(lit(0))).cast("long")
          .as(s"__d_cntnn_$c")) ++
      (if (insertOnly)
        e.minCols.toSeq.sorted.map(c => min(col(c)).as(s"__d_min_$c")) ++
          e.maxCols.toSeq.sorted.map(c => max(col(c)).as(s"__d_max_$c"))
      else Nil)
    val d = delta.groupBy(e.groupCols.map(col): _*).agg(dAggs.head, dAggs.tail: _*)
    val old = spark.read.parquet(e.mvPath)
    val folded = old.join(d, e.groupCols, "full_outer")
      .select(e.groupCols.map(col) ++
        Seq((coalesce(col("__cnt"), lit(0L)) + coalesce(col("__d_cnt"), lit(0L)))
          .as("__cnt")) ++
        e.sumCols.toSeq.sorted.map { c =>
          val oldT = old.schema(s"__sum_$c").dataType
          (coalesce(col(s"__sum_$c"), lit(0).cast(oldT)) +
            coalesce(col(s"__d_sum_$c"), lit(0).cast(oldT)))
            .cast(oldT).as(s"__sum_$c")
        } ++
        e.sumCols.toSeq.sorted.map(c =>
          (coalesce(col(s"__cntnn_$c"), lit(0L)) +
            coalesce(col(s"__d_cntnn_$c"), lit(0L))).as(s"__cntnn_$c")) ++
        e.minCols.toSeq.sorted.map(c =>
          (if (insertOnly) least(col(s"__min_$c"), col(s"__d_min_$c"))
          else col(s"__min_$c")).as(s"__min_$c")) ++
        e.maxCols.toSeq.sorted.map(c =>
          (if (insertOnly) greatest(col(s"__max_$c"), col(s"__d_max_$c"))
          else col(s"__max_$c")).as(s"__max_$c")): _*)
      .filter(col("__cnt") > 0)
    folded.write.mode("overwrite").parquet(outPath)
    val refreshed = e.copy(mvPath = outPath, relation = scanOf(spark, outPath))
    MvCatalog.register(refreshed)
    refreshed
  }

  /** Materialize an arbitrary definition frame and register it for
    * [[RewriteExactView]]. Any query whose Aggregate subtree is
    * `sameResult` with the definition reads the stored parquet instead
    * of recomputing — joins and all.
    */
  def createExact(spark: SparkSession, name: String, defDf: DataFrame,
      mvPath: String): ViewEntry = {
    // deregister first: otherwise re-creating the same view would let the
    // rewrite fire inside its own definition and store a self-referential
    // plan that never matches an Aggregate again
    ViewCatalog.deregister(name)
    defDf.write.mode("overwrite").parquet(mvPath)
    val entry = ViewEntry(name, defDf.queryExecution.optimizedPlan,
      scanOf(spark, mvPath))
    ViewCatalog.register(entry)
    entry
  }

  /** #314 Registered query: star-join exact view. The definition is
    * supplier-side revenue by nation (lineitem ⋈ supplier ⋈ nation, the
    * Q5 family); the returned query is built independently by the same
    * builder and matches via canonicalized sameResult, so the three-table
    * join collapses to a nation-cardinality scan. Oracle recomputes the
    * join + aggregation from the base tables in DuckDB.
    */
  def starDemo(spark: SparkSession, dir: String): DataFrame = {
    val mvPath = Files.createTempDirectory("graft-mv-star").toString
    createExact(spark, "star_nation_rev", starQuery(spark, dir),
      s"$mvPath/mv.parquet")
    scoped(spark, starQuery(spark, dir))(ViewCatalog.deregister("star_nation_rev"))
  }

  /** A demo's catalog entry lives exactly as long as the demo: `query` is
    * optimized (the rewrite fires) while the entry is registered, the
    * entry is dropped, and the returned frame runs the rewritten plan. So
    * no query built later — in any order — is rerouted by a demo's MV.
    */
  private def scoped(spark: SparkSession, query: => DataFrame)(
      deregister: => Unit): DataFrame =
    try GraftSqlBridge.ofRows(spark, query.queryExecution.optimizedPlan)
    finally deregister

  /** The Q5-family supplier-side star aggregate (def and query both come
    * from here — exact view matching's contract is "the query IS the
    * view"; sameResult still has to see through fresh ExprIds, alias
    * positions, and both sides' independent optimizer runs).
    */
  private[graft] def starQuery(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    import org.apache.spark.sql.functions.{broadcast, round, sum => fsum}
    l.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(fsum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** #311 Streaming MV maintenance: a weighted-delta stream keeps the
    * summary current through per-micro-batch [[refresh]] inside
    * foreachBatch. Each batch writes generation `gen<batchId>` under
    * `genRoot`; a replayed epoch (post-crash re-delivery) finds its
    * generation's `_SUCCESS` marker already on disk and re-points the
    * registration instead of double-folding — the same
    * ledger-by-artifact idempotence the JDBC sink uses, with the
    * filesystem as the ledger. Caller owns checkpointing and stop.
    */
  def streamingRefresh(deltas: DataFrame, name: String, weightCol: String,
      genRoot: String): org.apache.spark.sql.streaming.StreamingQuery =
    deltas.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val genPath = s"$genRoot/gen$batchId"
        // resolve the marker through the session's Hadoop FS — java.io.File
        // only sees the local filesystem, so on hdfs://, s3a:// genRoots the
        // replay guard would always miss and double-fold the delta
        val marker = new org.apache.hadoop.fs.Path(genPath, "_SUCCESS")
        val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(marker)) {
          MvCatalog.get(name).foreach(e => MvCatalog.register(
            e.copy(mvPath = genPath, relation = scanOf(spark, genPath))))
        } else {
          refresh(spark, name, batch, weightCol, genPath)
        }
        ()
      }
      .start()

  /** #297 Registered query: INCREMENTAL refresh. Build the summary, apply
    * a deterministic CDC delta — retract every lineitem row with
    * `l_orderkey % 100 = 0`, insert a copy of every row with
    * `l_orderkey % 100 = 50` at quantity+1 — via [[refresh]] (delta-sized
    * work only), and emit the refreshed summary. The oracle recomputes
    * the same post-delta state from scratch over the base table, so the
    * hash match proves the fold's retraction arithmetic.
    */
  def incrementalDemo(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-mv-ivm").toString
    create(spark, "lineitem_ivm", s"$dir/lineitem.parquet", s"$root/mv0",
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sumCols = Seq("l_quantity"))
    val base = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"))
    val deletes = base.filter(col("l_orderkey") % 100 === 0)
      .withColumn("w", lit(-1.0))
    val inserts = base.filter(col("l_orderkey") % 100 === 50)
      .withColumn("l_quantity", col("l_quantity") + 1)
      .withColumn("w", lit(1.0))
    val refreshed = refresh(spark, "lineitem_ivm",
      deletes.unionByName(inserts), "w", s"$root/mv1")
    // the refreshed summary is POST-delta state — it no longer answers
    // queries about the base table, so it must not stay registered for
    // the rewrite (the returned frame reads the parquet path directly)
    MvCatalog.deregister("lineitem_ivm")
    spark.read.parquet(refreshed.mvPath)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("__sum_l_quantity").as("sum_qty"), col("__cnt").as("n_rows"))
  }

  /** Workload-driven MV advisor: read each query's ANALYZED plan (no
    * execution), extract every aggregate-over-file-scan shape, and emit
    * one candidate per distinct (table, grain, sum-measures) — grain is
    * grouping keys ∪ filter columns, so the candidate also serves the
    * filtered form of the query (a filter on a grain column partitions
    * MV rows exactly). Serving counts apply the same subset test
    * [[RewriteAggToMv]] enforces at rewrite time.
    *
    * Sizing is ONE scan per distinct base table computing every
    * candidate grain's exact group cardinality in a single aggregation;
    * at 100 TB swap `countDistinct(struct(...))` for
    * `approx_count_distinct` — the advice needs magnitude, not
    * exactness. Output is candidate-count-sized (driver-built).
    */
  def advise(spark: SparkSession, workload: Seq[DataFrame]): DataFrame = {
    final case class Shape(path: String, grain: Set[String], sums: Set[String])
    def unwrap(p: LogicalPlan, fcols: Set[String]): Option[(Set[String], LogicalRelation)] =
      p match {
        case l: LogicalRelation => Some((fcols, l))
        case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          unwrap(c, fcols)
        case Filter(cond, c) =>
          unwrap(c, fcols ++ cond.references.map(_.name))
        case SubqueryAlias(_, c) => unwrap(c, fcols)
        case _ => None
      }
    val shapes: Seq[Shape] = workload.flatMap { df =>
      df.queryExecution.analyzed.collect { case agg: Aggregate =>
        unwrap(agg.child, Set.empty).flatMap { case (fcols, rel) =>
          rel.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              val path = fs.location.rootPaths.headOption
                .map(_.toString).getOrElse("")
              val gcols = agg.groupingExpressions
                .flatMap(_.references.map(_.name)).toSet
              val sums = agg.aggregateExpressions.flatMap(_.collect {
                case ae: AggregateExpression => ae.aggregateFunction match {
                  case Sum(a: AttributeReference, _) => Seq(a.name)
                  case Average(a: AttributeReference, _) => Seq(a.name)
                  case _ => Nil
                }
              }.flatten).toSet
              Some(Shape(path, gcols ++ fcols, sums))
            case _ => None
          }
        }
      }.flatten
    }
    val candidates = shapes.distinct
    // exact candidate sizing: one scan per base table covers all its grains
    val sizes: Map[(String, Set[String]), (Long, Long)] =
      candidates.groupBy(_.path).flatMap { case (path, cs) =>
        val grains = cs.map(_.grain).distinct
        val base = spark.read.parquet(path)
        val aggs = count(lit(1)).as("__rows") +: grains.zipWithIndex.map {
          case (g, i) =>
            org.apache.spark.sql.functions.countDistinct(
              org.apache.spark.sql.functions.struct(
                g.toSeq.sorted.map(col): _*)).as(s"__g$i")
        }
        val row = base.agg(aggs.head, aggs.tail: _*).head()
        val rows = row.getLong(0)
        grains.zipWithIndex.map { case (g, i) =>
          (path, g) -> (rows, row.getLong(i + 1))
        }
      }
    import spark.implicits._
    candidates.map { c =>
      val (baseRows, mvRows) = sizes((c.path, c.grain))
      val served = shapes.count(q => q.path == c.path &&
        q.grain.subsetOf(c.grain) && q.sums.subsetOf(c.sums))
      val tbl = c.path.split('/').last.stripSuffix(".parquet")
      (tbl, c.grain.toSeq.sorted.mkString(","),
        c.sums.toSeq.sorted.mkString(","), served.toLong, baseRows, mvRows,
        if (mvRows == 0) 0L else baseRows * 100L / mvRows)
    }.sortBy(r => (r._1, r._2, r._3))
      .toDF("tbl", "grain", "sum_cols", "n_queries", "base_rows", "mv_rows",
        "reduction_e2")
  }

  /** #312 Registered query: the advisor over a fixed four-query demo
    * workload (two lineitem shapes that merge into one candidate — the
    * filtered subset-grouping query folds into the same grain — plus a
    * different-measure lineitem shape and an orders shape). Oracle
    * recomputes each candidate's sizing row in plain SQL.
    */
  def advisorDemo(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ords = Tables.orders(spark, dir)
    advise(spark, Seq(
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("s")),
      li.filter(col("l_returnflag") =!= "N").groupBy("l_linestatus")
        .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n")),
      li.groupBy("l_returnflag").agg(sum(col("l_extendedprice")).as("s")),
      ords.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))))
  }

  /** #315 Registered query: ROLLUP served from the MV. The rollup's
    * Expand replicates MV rows instead of fact rows (replication commutes
    * with re-aggregation), so all three grouping-set levels price at
    * group-by cardinality. DuckDB recomputes `GROUP BY ROLLUP` from the
    * base table.
    */
  def rollupDemo(spark: SparkSession, dir: String): DataFrame = {
    val mvPath = Files.createTempDirectory("graft-mv-rollup").toString
    create(spark, "lineitem_rf_ls", s"$dir/lineitem.parquet", mvPath,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sumCols = Seq("l_quantity"))
    scoped(spark, Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        favg(col("l_quantity")).as("avg_qty")))(
      MvCatalog.deregister("lineitem_rf_ls"))
  }

  /** #296 Registered query: build a (l_returnflag, l_linestatus) summary
    * of lineitem, register it, then plan a filtered SUBSET-grouping
    * aggregate written against the BASE table — the rule reroutes it to
    * the summary, and the registration is dropped again ([[scoped]]).
    * MvRewriteSpec pins the plan: the optimized scan reads the MV path,
    * not lineitem. The driver's oracle runs the same SQL on the base
    * table in DuckDB, so the hash match IS the rewrite's exactness
    * proof. l_quantity is integer-valued, so its double sums are
    * order-independent and bit-exact across engines and plans.
    */
  def demoQuery(spark: SparkSession, dir: String): DataFrame = {
    val mvPath = Files.createTempDirectory("graft-mv").toString
    create(spark, "lineitem_rf_ls", s"$dir/lineitem.parquet", mvPath,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sumCols = Seq("l_quantity"))
    scoped(spark, Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        favg(col("l_quantity")).as("avg_qty")))(
      MvCatalog.deregister("lineitem_rf_ls"))
  }
}
