package graftbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graftbench.CdcPipeline.Commit

/** The drain phase of the `cdc` workload: a backlog produced during set-up
  * is drained through kafkalog → `parseEnvelope` → `BucketedGold.appendBatch`
  * in 16 admission-controlled micro-batches, so the last commit also runs
  * the inline compaction that folds the 16 deltas, in every drain. No
  * producer runs while it is timed.
  */
object Drain {
  /** Backlog size per second of `--seconds`. */
  val EventsPerSecond = 6000L
  val Batches = 16

  /** Commits of one drain, in batch order, with the timed window. */
  final case class Run(t0Nanos: Long, t0Ms: Long, endNanos: Long, endMs: Long,
      commits: Seq[Commit], missing: Long) {
    def wallS: Double = (endNanos - t0Nanos) / 1e9
    /** Events each commit made visible, by batch order. */
    def rows: Seq[(Commit, Long)] = CdcPipeline.newRows(commits)
  }

  /** Drains `topic` completely into a fresh gold root, timing from query
    * start to the commit that makes the last event visible.
    */
  def drain(spark: SparkSession, tracer: Tracer, logRoot: String, topic: String,
      dir: Path, batch: Long): Run = {
    val target = CdcPipeline.endOffsets(logRoot, topic)
    val commits = new ConcurrentHashMap[Long, Commit]()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = CdcPipeline.startGold(spark, tracer, logRoot, topic,
      dir.resolve("gold").toString, dir.resolve("ckpt").toString, Some(batch), commits)
    val deadline = t0 + 150L * 1000000000L
    def reached = CdcPipeline.covered(commits.values().asScala.toSeq)
    while (target.exists { case (p, e) => reached.getOrElse(p, 0L) < e } &&
        q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    val cs = commits.values().asScala.toSeq.sortBy(_.batchId)
    val endNanos = cs.lastOption.map(_.doneNanos).getOrElse(System.nanoTime())
    val endMs = t0Ms + (endNanos - t0) / 1000000L
    CdcPipeline.stop(q)
    val got = CdcPipeline.covered(cs)
    val missing = target.map { case (p, e) => math.max(0L, e - got.getOrElse(p, 0L)) }.sum
    Run(t0, t0Ms, endNanos, endMs, cs, missing)
  }
}
