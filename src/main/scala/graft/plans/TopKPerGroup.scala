package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Top-k-per-group as a first-class operator: logical node + planner
  * strategy + physical exec.
  *
  * The composable alternative (window row_number + filter) SORTS every
  * group's full row set; this exec keeps a bounded k-element heap per group
  * — one shuffle on the group key, O(n log k) work, O(groups × k) memory,
  * no full sort. At 100 TB with heavy groups that is the difference between
  * a spilling sort and a streaming pass. (The reference's "top tables by
  * priority" scheduling is the same shape — reference:
  * src/aurora_cdc/config/table_manager.py:206-239.)
  *
  * Ties on the sort keys are broken by earlier arrival; pass a unique
  * trailing sort key for deterministic output.
  */
case class TopKPerGroupPlan(
    groupCols: Seq[Expression],
    sortOrder: Seq[SortOrder], // real SortOrder nodes: visible to QueryPlan
    k: Int,
    child: LogicalPlan,
    // constructor param (not a body val): plan transforms copy() the node,
    // and the output attribute's exprId must survive the copy
    rankAttr: Attribute = AttributeReference("rnk", IntegerType, nullable = false)())
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rankAttr is created here, not consumed from the child
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: TopKPerGroupPlan =>
      // Two-phase, like hash aggregation: a partial top-k prunes each map
      // partition to ≤ k rows per group BEFORE the exchange (the final
      // per-group top-k is a subset of every partition's per-group top-k),
      // so the shuffle moves O(partitions × groups × k) rows, not all rows.
      val part = TopKPerGroupExec(p.groupCols, p.sortOrder, p.k, p.rankAttr,
        planLater(p.child), partial = true)
      TopKPerGroupExec(p.groupCols, p.sortOrder, p.k, p.rankAttr, part) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k per group. Runs twice per query (planned by
  * TopKStrategy): a `partial` instance prunes every map partition to ≤ k
  * rows per group with no distribution requirement, then the final
  * instance (after the exchange EnsureRequirements inserts) merges and
  * emits ranks. Memory is O(groups-per-partition × k) rows.
  *
  * Row comparison uses a generated `RowOrdering` over the child row — it
  * honors direction AND nullOrdering for every orderable type, and rows
  * are copied whole on enqueue, so no retained entry aliases the
  * iterator's reused row buffer.
  */
case class TopKPerGroupExec(
    groupCols: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroup"
  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr
  override def producedAttributes: AttributeSet =
    if (partial) AttributeSet.empty else AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupCols) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = groupCols.map(BindReferences.bindReference(_, child.output))
    val order = sortOrder
    val childOutput = child.output
    val outAttrs = output
    val kk = k
    val isPartial = partial

    child.execute().mapPartitions { it =>
      // codegen'd comparator (interpreted fallback): smaller == sorts
      // earlier == better rank
      val rowOrd = RowOrdering.create(order, childOutput)
      type Entry = (InternalRow, Long) // (row copy, arrival seq)
      val entryOrd: Ordering[Entry] = new Ordering[Entry] {
        override def compare(a: Entry, b: Entry): Int = {
          val c = rowOrd.compare(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }
      val groupProj = UnsafeProjection.create(groupExprs)
      // max-heap under entryOrd: head == worst retained entry
      val heaps = new java.util.HashMap[UnsafeRow, mutable.PriorityQueue[Entry]]()
      var seq = 0L
      it.foreach { row =>
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = mutable.PriorityQueue.empty[Entry](entryOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) {
          heap.enqueue((row.copy(), seq))
        } else if (rowOrd.compare(row, heap.head._1) < 0) {
          // strictly better than the worst retained; on a sort-key tie the
          // incumbent wins (earlier arrival ranks better)
          heap.dequeue()
          heap.enqueue((row.copy(), seq))
        }
        seq += 1L
      }
      // lazy emission: outProj reuses its buffer; downstream copies if it
      // buffers (standard operator contract)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      if (isPartial) {
        heaps.values().iterator().asScala.flatMap(_.iterator.map(e => outProj(e._1)))
      } else {
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        heaps.values().iterator().asScala.flatMap { heap =>
          // dequeueAll yields worst-first; reverse for rank 1 == best
          val ranked: Seq[Entry] = heap.dequeueAll.reverse
          ranked.iterator.zipWithIndex.map { (e: (Entry, Int)) =>
            rankRow.update(0, e._2 + 1)
            outProj(joined(e._1._1, rankRow))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopK {
  /** User-facing: top `k` rows per group of `groupCols`, ordered by
    * `sortCols` ((name, descending)); appends an integer `rnk` column.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def resolve(name: String): Expression =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val plan = TopKPerGroupPlan(
      groupCols.map(resolve),
      sortCols.map { case (n, desc) =>
        SortOrder(resolve(n), if (desc) Descending else Ascending)
      },
      k, analyzed)
    GraftSqlBridge.ofRows(spark, plan)
  }
}
