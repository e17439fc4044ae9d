package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One micro-batch as the engine reports it. `triggerMs` is the batch
  * time: `triggerExecution` spans the whole trigger. Every other
  * `durationMs` entry (latestOffset, getBatch, queryPlanning, addBatch,
  * walCommit, commitOffsets, …) is a component inside that span, kept
  * apart and never added to it.
  */
final case class BatchTiming(batchId: Long, rows: Long, triggerMs: Long,
    components: Map[String, Long], endNanos: Long)

object BatchTiming {
  val Total = "triggerExecution"

  def of(batchId: Long, rows: Long, durationMs: Map[String, Long],
      endNanos: Long): BatchTiming =
    BatchTiming(batchId, rows, durationMs.getOrElse(Total, 0L),
      durationMs - Total, endNanos)

  /** Per component, the batch-time values across batches (one entry per
    * batch that reported it).
    */
  def byComponent(bs: Seq[BatchTiming]): Map[String, Seq[Double]] =
    bs.flatMap(_.components.toSeq).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2.toDouble) }
}

/** Collects [[BatchTiming]]s from Spark's public progress events. */
final class ProgressCollector extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[BatchTiming]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    q.add(BatchTiming.of(p.batchId, p.numInputRows, d, System.nanoTime()))
  }

  def batches: Seq[BatchTiming] = q.asScala.toSeq.sortBy(_.batchId)
}
