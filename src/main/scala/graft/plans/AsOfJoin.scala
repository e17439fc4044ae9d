package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** As-of (point-in-time) join as a first-class physical operator: logical
  * node + planner strategy + streaming merge exec.
  *
  * The composable alternative ([[graft.operators.AsOf.asofJoin]], the
  * union+window trick) funnels both sides through ONE union frame whose
  * schema is the union of both sides (each row ships nulls for the other
  * side's columns), buffers window frames per key, and runs one
  * `last(ignoreNulls)` pass per carried column. This exec is the
  * operator the semantics ask for — a SortMergeJoin-shaped MERGE: each
  * side shuffles/sorts on (key, time) independently (per-side column
  * pruning, no schema widening), and one forward pass per partition
  * keeps O(1) state — the latest right row at or before the current
  * left time, with no window buffering at all.
  *
  * Measured trade-off (sf0.1, local[32], 3 carried columns): the
  * union+window plan's single exchange wins on fixed costs — 0.32 s vs
  * 0.59 s for this exec's two exchanges + interpreted merge. The exec's
  * shape pays off as the carried-column count and row width grow (the
  * union plan's shuffle widens with BOTH schemas and adds a window pass
  * per column; this one's shuffles stay per-side and the merge cost is
  * flat in columns) and whenever either side is pre-bucketed on the key
  * (its exchange drops out entirely — impossible in the union plan,
  * which must co-shuffle the combined frame). Both stay registered:
  * cdc_asof_join rides the window path, cdc_asof_exec this one, same
  * DuckDB ASOF oracle.
  *
  * Semantics match the union+window path (and SQL ASOF JOIN): backward
  * inclusive (`rightTime <= leftTime`), left rows always survive,
  * `tolerance` nulls out matches older than `leftTime - tolerance`,
  * equal right timestamps resolve to the tiebreak-largest row (the right
  * side sorts by (key, time, tiebreak…) and the merge remembers the last
  * one seen). Reference analog: the dimension lookup each CDC consumer
  * runs against SCD2 state (debezium-approach/notebooks/
  * dlt_cdc_pipeline.py:264-329 materializes the state this joins
  * against).
  */
case class AsOfJoinPlan(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    carried: Seq[Expression],
    rightTiebreak: Seq[Expression],
    tolerance: Option[Long],
    left: LogicalPlan, right: LogicalPlan,
    // constructor param so exprIds survive plan-transform copies
    carriedAttrs: Seq[Attribute])
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ carriedAttrs
  override def producedAttributes: AttributeSet = AttributeSet(carriedAttrs)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime,
        p.carried, p.rightTiebreak, p.carriedAttrs, p.tolerance,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

/** Streaming merge over co-partitioned, (key, time)-sorted children.
  * State per partition: ONE remembered right row (its carried values
  * projected to an UnsafeRow) + its key + its time. EnsureRequirements
  * inserts the exchanges/sorts exactly like it does for SortMergeJoin.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    carried: Seq[Expression],
    rightTiebreak: Seq[Expression],
    carriedAttrs: Seq[Attribute],
    tolerance: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def nodeName: String = "AsOfJoinMerge"
  override def output: Seq[Attribute] = left.output ++ carriedAttrs
  override def producedAttributes: AttributeSet = AttributeSet(carriedAttrs)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    (rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending)) ++
      rightTiebreak.map(SortOrder(_, Ascending)))
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lKeyExprs = leftKeys.map(BindReferences.bindReference(_, lOut))
    val rKeyExprs = rightKeys.map(BindReferences.bindReference(_, rOut))
    val lTimeExpr = BindReferences.bindReference(leftTime, lOut)
    val rTimeExpr = BindReferences.bindReference(rightTime, rOut)
    // carried values + the matched time evaluate ONCE per remembered row,
    // into exactly the carriedAttrs shape (…, asof_t)
    val carryExprs = (carried :+ rightTime).map(BindReferences.bindReference(_, rOut))
    val keyTypes = leftKeys.map(_.dataType)
    val nCarried = carriedAttrs.length
    val tol = tolerance

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs)
      val rKeyProj = UnsafeProjection.create(rKeyExprs)
      val carryProj = UnsafeProjection.create(carryExprs)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val outProj = UnsafeProjection.create(outAttrs, lOut ++ carriedAttrs)
      val joined = new JoinedRow
      val noMatch = new GenericInternalRow(nCarried) // all nulls
      var rHead: InternalRow = null                  // pending right row
      var remKey: UnsafeRow = null                   // key of remembered match
      var remVals: UnsafeRow = null                  // carried ++ time
      var remT: Long = Long.MinValue
      lIt.map { l =>
        val lk = lKeyProj(l)
        val ltBoxed = lTimeExpr.eval(l)
        if (ltBoxed != null) {
          val lt = ltBoxed.asInstanceOf[Long]
          var done = false
          while (!done) {
            if (rHead == null && rIt.hasNext) rHead = rIt.next()
            if (rHead == null) done = true
            else {
              val c = keyOrd.compare(rKeyProj(rHead), lk)
              if (c < 0) rHead = null // behind the current left key: discard
              else if (c > 0) done = true
              else {
                val rtBoxed = rTimeExpr.eval(rHead)
                if (rtBoxed == null) rHead = null // unusable: no timestamp
                else {
                  val rt = rtBoxed.asInstanceOf[Long]
                  if (rt <= lt) {
                    // newest-so-far for this key; later equal-time rows
                    // overwrite (right sort puts tiebreak-largest last)
                    remVals = carryProj(rHead).copy()
                    remKey = rKeyProj(rHead).copy()
                    remT = rt
                    rHead = null
                  } else done = true
                }
              }
            }
          }
          val matched = remKey != null && keyOrd.compare(remKey, lk) == 0 &&
            tol.forall(t => lt - remT <= t)
          outProj(joined(l, if (matched) remVals else noMatch))
        } else {
          outProj(joined(l, noMatch))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinOp {
  /** User-facing merge-exec as-of join, same contract as
    * [[graft.operators.AsOf.asofJoin]] backward mode: per left row, the
    * latest right row with `rightTime <= leftTime` on the same keys;
    * carried right columns come back as `asof_<name>` plus the matched
    * time `asof_t`; `tolerance` (time units) degrades stale matches to
    * null; `tiebreak` columns order equal right timestamps (largest
    * wins).
    */
  def asofJoinExec(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String, carryCols: Seq[String],
      tiebreak: Seq[String] = Seq.empty,
      tolerance: Option[Long] = None): DataFrame = {
    require(carryCols.nonEmpty, "carryCols must name at least one right column")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // ALWAYS give the right side fresh exprIds: as-of inputs routinely
    // share lineage (both sides filtered from one log frame), and a
    // custom binary node with duplicate attribute ids across children
    // confuses the analyzer's dedup + the optimizer's column pruning
    // (observed: the right child lost its key column). An alias-only
    // Project is free at runtime.
    val rAnalyzed = right.queryExecution.analyzed
    val rPlan: LogicalPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    def asLong(a: Attribute): Expression =
      if (a.dataType == LongType) a else Cast(a, LongType)
    // the tiebreak folds into the right child's REQUIRED ORDERING after
    // the time column: the merge keeps the LAST equal-time row, so an
    // ascending tiebreak makes that row the tiebreak-largest
    val rTime = asLong(resolve(rPlan, rightTime))
    val carried: Seq[Expression] = carryCols.map(resolve(rPlan, _))
    val carriedAttrs: Seq[Attribute] = carryCols.map { c =>
      val a = resolve(rPlan, c)
      AttributeReference(s"asof_$c", a.dataType, nullable = true)()
    } :+ AttributeReference("asof_t", LongType, nullable = true)()
    val plan = AsOfJoinPlan(
      keyCols.map(resolve(lPlan, _)), keyCols.map(resolve(rPlan, _)),
      asLong(resolve(lPlan, leftTime)), rTime,
      carried, tiebreak.map(resolve(rPlan, _)), tolerance,
      lPlan, rPlan, carriedAttrs)
    GraftSqlBridge.ofRows(spark, plan)
  }
}
