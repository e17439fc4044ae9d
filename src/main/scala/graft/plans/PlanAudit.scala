package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Plan-quality introspection as a library API — the audit the PlanSpec
  * regression suite runs, productized so a user can gate THEIR OWN
  * pipelines on the same properties before pointing them at 100 TB
  * ("no sort-merge join crept in", "the scan is pushed-filtered",
  * "row-local stage stayed exchange-free") instead of eyeballing
  * `.explain` output.
  */
object PlanAudit {

  /** One row per metric for `df`'s physical plan (the pre-execution AQE
    * plan — deterministic, no job runs):
    * shuffle_exchanges, broadcast_exchanges, sort_merge_joins,
    * broadcast_hash_joins, nested_loop_joins, cartesian_products,
    * parquet_scans, pushed_filter_scans, codegen_eligible_nodes (AQE
    * collapses WholeStageCodegen per stage at execution, so the
    * pre-execution audit counts nodes that will fuse, not the spans),
    * topk_exec (final TopKPerGroupExec instances: where the window →
    * TopK rewrite fired).
    */
  def summarize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val root = unwrap(df.queryExecution.executedPlan)
    def walk(p: SparkPlan): Seq[SparkPlan] =
      unwrap(p) +: unwrap(p).children.flatMap(walk)
    val nodes = walk(root)
    val names = nodes.map(_.getClass.getSimpleName)
    // pushed filters only show in the scan's metadata string
    val scanStrings = nodes.filter(_.getClass.getSimpleName.contains("FileSourceScan"))
      .map(_.toString)
    val metrics: Seq[(String, Long)] = Seq(
      "shuffle_exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toLong,
      "broadcast_exchanges" -> nodes.count(_.isInstanceOf[BroadcastExchangeExec]).toLong,
      "sort_merge_joins" -> names.count(_.startsWith("SortMergeJoin")).toLong,
      "broadcast_hash_joins" -> names.count(_.startsWith("BroadcastHashJoin")).toLong,
      "nested_loop_joins" -> names.count(_.contains("NestedLoopJoin")).toLong,
      "cartesian_products" -> names.count(_.startsWith("CartesianProduct")).toLong,
      "parquet_scans" -> scanStrings.size.toLong,
      "pushed_filter_scans" -> scanStrings.count(s =>
        s.contains("PushedFilters: [") && !s.contains("PushedFilters: []")).toLong,
      "codegen_eligible_nodes" -> nodes.count {
        case c: org.apache.spark.sql.execution.CodegenSupport => c.supportCodegen
        case _ => false
      }.toLong,
      "topk_exec" -> nodes.count {
        case t: TopKPerGroupExec => !t.partial
        case _ => false
      }.toLong)
    metrics.toDF("metric", "value")
  }

  /** Driver demo: audit a broadcast-heavy star query — the frame a CI
    * gate would assert on (and the oracle can check: the plan for a fixed
    * query at a fixed SF is deterministic pre-execution).
    */
  def auditDemo(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    summarize(graft.operators.Tpch.q5RegionRevenue(spark, dir))

  /** Join-safety classification for the whole-inventory sweep gate
    * (PlanAuditSpec): counts, off the pre-execution plan,
    *
    *  - `cartesian_products` — CartesianProductExec anywhere: a SHUFFLED
    *    all-pairs product, never acceptable outside a scaladoc'd quadratic
    *    oracle baseline;
    *  - `scalar_bnlj`        — BroadcastNestedLoopJoinExec whose build side
    *    bottoms out in a grouping-free aggregate (exactly one row by plan
    *    shape): the `crossJoin(broadcast(scalarAgg))` denominator idiom;
    *  - `bounded_bnlj`       — build side provably ≤1024 rows by shape
    *    (small Range / LocalTableScan / global Limit under row-preserving
    *    unary nodes): the lag-offset / calendar-frame idiom — constant row
    *    amplification, independent of data scale;
    *  - `filtered_bnlj`      — build side is a scan (or join of scans)
    *    where EVERY leaf carries a pushed data filter: the ANN
    *    "broadcast the small query set against the corpus" design. Not
    *    provably bounded by shape, but bounded by the author's explicit
    *    selection — distinguishable from an accidental whole-table
    *    broadcast;
    *  - `unsafe_bnlj`        — everything else, in particular a broadcast
    *    of an UNFILTERED scan or of an unbounded intermediate result: the
    *    shape that OOMs the driver or degenerates to O(n·m) at 100 TB.
    *
    * The four-way split matters for a CI gate: a naive "no BNLJ" assertion
    * outlaws the cheapest way to attach a query-wide denominator or a
    * 7-row offset frame to every row, while "BNLJ ok" waves through a
    * genuine disaster. Shape-keyed, so deterministic at any scale factor.
    */
  def joinSafety(df: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case e: BroadcastExchangeExec => e.child
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r.child
      case other => other
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val u = unwrap(p)
      u +: u.children.flatMap(walk)
    }
    // rows this subtree provably emits, by shape alone (None = unbounded)
    def boundShaped(p: SparkPlan): Option[Long] = {
      val u = unwrap(p)
      u match {
        case agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          if (agg.groupingExpressions.isEmpty) Some(1L) else None
        case l: org.apache.spark.sql.execution.LocalTableScanExec => Some(l.rows.size.toLong)
        case r: org.apache.spark.sql.execution.RangeExec => Some(r.numElements.longValue)
        case g: org.apache.spark.sql.execution.GlobalLimitExec => Some(g.limit.toLong)
        case c: org.apache.spark.sql.execution.CollectLimitExec => Some(c.limit.toLong)
        // orderBy().limit(n) plans as TakeOrderedAndProject — provably ≤ n
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
          Some(t.limit.toLong)
        case j if j.children.length == 2 =>
          // a join can only multiply its inputs' bounds
          for (a <- boundShaped(j.children.head); b <- boundShaped(j.children.last))
            yield a * b
        // Generate (explode) and Expand (rollup/cube/grouping-sets) MULTIPLY
        // rows — passing the child's bound through would let an
        // explode-over-limit build side masquerade as bounded and wave an
        // unbounded broadcast through the CI sweep
        case _: org.apache.spark.sql.execution.GenerateExec => None
        case _: org.apache.spark.sql.execution.ExpandExec => None
        case _ if u.children.length == 1 => boundShaped(u.children.head)
        case _ => None
      }
    }
    // every scan leaf under this subtree carries an author-written filter
    def allLeavesFiltered(p: SparkPlan): Boolean = {
      val leaves = walk(p).filter(_.children.isEmpty)
      leaves.nonEmpty && leaves.forall { l =>
        val s = l.toString
        val name = l.getClass.getSimpleName
        if (name.contains("FileSourceScan") || name.contains("BatchScan"))
          s.contains("DataFilters: [") && !s.contains("DataFilters: []")
        else true // RDD scans / ranges / local tables: already bounded upstream
      }
    }
    val nodes = walk(df.queryExecution.executedPlan)
    var cart = 0L; var scalar = 0L; var bounded = 0L; var filtered = 0L; var unsafe = 0L
    nodes.foreach { n =>
      val name = n.getClass.getSimpleName
      if (name.startsWith("CartesianProduct")) cart += 1
      else n match {
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          boundShaped(build) match {
            case Some(k) if k <= 1L => scalar += 1
            case Some(k) if k <= 1024L => bounded += 1
            case _ if allLeavesFiltered(build) => filtered += 1
            case _ => unsafe += 1
          }
        case _ =>
      }
    }
    Map("cartesian_products" -> cart, "scalar_bnlj" -> scalar,
      "bounded_bnlj" -> bounded, "filtered_bnlj" -> filtered,
      "unsafe_bnlj" -> unsafe)
  }

  /** #331 RUNTIME execution audit — the post-run counterpart of
    * [[summarize]]: execute the frame once, then read the engine's own
    * per-operator `numOutputRows` metrics off the FINAL adaptive plan
    * (inside query stages, after AQE re-planning — the plan that actually
    * ran, not the one that was proposed). Rows per node class, so a CI
    * gate can pin "the probe side shrank to N rows after pushdown" or
    * "the build side really was dimension-sized" with MEASURED numbers —
    * the `.explain` habit upgraded from shapes to cardinalities. Only
    * row counts are reported (deterministic); bytes/timing metrics are
    * machine-dependent and deliberately excluded.
    */
  def executionAudit(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // executes df's OWN queryExecution (Dataset.foreach would build a
    // fresh plan and leave these metrics at zero)
    df.queryExecution.toRdd.foreach(_ => ())
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val u = unwrap(p)
      u +: u.children.flatMap(walk)
    }
    val rows = walk(df.queryExecution.executedPlan)
      .groupBy(_.getClass.getSimpleName).toSeq.sortBy(_._1)
      .map { case (cls, ns) =>
        (cls, ns.size.toLong,
          ns.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum)
      }
    import spark.implicits._
    rows.toDF("node", "n_nodes", "output_rows")
  }

  /** #331 Registered query: measured cardinalities of the q5 star join. */
  def executionAuditDemo(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    executionAudit(graft.operators.Tpch.q5RegionRevenue(spark, dir))
}
