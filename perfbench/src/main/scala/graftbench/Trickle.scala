package graftbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graftbench.CdcPipeline.Commit

/** The trickle phase of the `cdc` workload: an open loop sends 80-event
  * chunks every 40 ms (2,000 ev/s) through the same pipeline as the drain,
  * into a topic and gold root of its own, while reads of the gold state
  * start every 2 s, also on a fixed schedule. Each chunk is timed from its
  * due time to the gold commit that holds all of it; each read from its due
  * time to its answer. The phase never compacts: a window of about ten
  * batches would otherwise hold zero or one compaction, depending on the
  * box's speed, and its latency tail with it. Compaction is timed in the
  * drain, and reads here merge every delta the phase wrote.
  */
object Trickle {
  val ChunkEvents = 80
  val PeriodMs = 40L
  val ReadPeriodMs = 2000L
  /** Chunks sent (and reads made) before the timed window opens: 3 s of
    * the full load, so the window starts in steady state.
    */
  val WarmChunks = 75

  final case class Chunk(i: Int, dueNanos: Long, sentNanos: Long, ends: Map[Int, Long])
  final case class Read(dueNanos: Long, doneNanos: Long, deltas: Int, rows: Long)

  /** What one trickle phase observed. The window is [tStart, tEnd). */
  final case class Window(tStart: Long, tEnd: Long, chunks: Seq[Chunk], commits: Seq[Commit],
      reads: Seq[Read], readFails: Long, gold: String) {
    val timed: Seq[Chunk] = chunks.filter(_.i >= WarmChunks)
    val visible: Seq[(Chunk, Option[Commit])] = visibleAt(timed, commits)
    val latencyMs: Seq[Double] =
      visible.flatMap { case (ch, c) => c.map(x => Pct.fromDue(ch.dueNanos, x.doneNanos)) }
    val missing: Long = visible.count(_._2.isEmpty).toLong
    val readMs: Seq[Double] = reads.map(r => Pct.fromDue(r.dueNanos, r.doneNanos))
    def produced: Long = chunks.size.toLong * ChunkEvents
  }

  def sleepUntil(t: Long): Unit = {
    var now = System.nanoTime()
    while (now < t) { LockSupport.parkNanos(t - now); now = System.nanoTime() }
  }

  /** For each chunk, the first commit (in batch order) after which every
    * partition has reached the chunk's end offsets.
    */
  def visibleAt(chunks: Seq[Chunk], commits: Seq[Commit]): Seq[(Chunk, Option[Commit])] = {
    val cs = commits.sortBy(_.batchId)
    val reached = cs.scanLeft(Map.empty[Int, Long]) { (acc, c) =>
      acc ++ c.ends.map { case (p, e) => p -> math.max(e, acc.getOrElse(p, 0L)) }
    }.tail
    var j = 0
    chunks.sortBy(_.i).map { ch =>
      def holds(m: Map[Int, Long]) = ch.ends.forall { case (p, e) => m.getOrElse(p, 0L) >= e }
      while (j < cs.length && !holds(reached(j))) j += 1
      ch -> (if (j < cs.length) Some(cs(j)) else None)
    }
  }

  /** Runs 3 s of load and then a `seconds` window, waits (up to 20 s) for
    * the last chunk to commit, and stops the query.
    */
  def run(spark: SparkSession, tracer: Tracer, gen: CdcGen, root: Path, seconds: Int): Window = {
    val logRoot = root.resolve("log").toString
    val gold = root.resolve("gold").toString
    val windowChunks = (seconds * 1000L / PeriodMs).toInt
    val total = WarmChunks + windowChunks
    val commits = new ConcurrentHashMap[Long, Commit]()
    val chunks = new ConcurrentHashMap[Int, Chunk]()
    val reads = new ConcurrentLinkedQueue[Read]()
    val readFails = new AtomicLong(0L)

    // creates the topic's partitions, so the query starts on an empty topic
    graft.sources.EmbeddedTopicLog.produce(logRoot, "live", Nil, CdcPipeline.Partitions)
    val q = CdcPipeline.startGold(spark, tracer, logRoot, "live", gold,
      root.resolve("ckpt").toString, None, commits, compactEvery = Some(Int.MaxValue))
    val tWarm = System.nanoTime() + 200L * 1000000L
    val tStart = tWarm + WarmChunks * PeriodMs * 1000000L
    val tEnd = tStart + windowChunks * PeriodMs * 1000000L
    val producer = new Thread(() => {
      (0 until total).foreach { i =>
        val due = tWarm + i * PeriodMs * 1000000L
        sleepUntil(due)
        val sent = System.nanoTime()
        tracer.span("gen.produce", s"chunk-$i") { _ =>
          graft.sources.EmbeddedTopicLog.produce(logRoot, "live",
            gen.chunk(i.toLong * ChunkEvents, ChunkEvents), CdcPipeline.Partitions)
        }
        chunks.put(i, Chunk(i, due, sent, CdcPipeline.endOffsets(logRoot, "live")))
      }
    }, "perfbench-trickle-producer")
    // each read starts at its due time on a thread of its own, so a slow
    // read never delays the next one
    val reader = new Thread(() => {
      val warmReads = (WarmChunks * PeriodMs / ReadPeriodMs).toInt
      val rs = (-warmReads until (seconds * 1000L / ReadPeriodMs).toInt).map { k =>
        val due = tStart + k * ReadPeriodMs * 1000000L
        sleepUntil(due)
        val t = new Thread(() => {
          val deltas = CdcPipeline.deltaDirs(gold)
          try {
            val (rows, _) = tracer.span("streaming.read", s"read-$k") { _ =>
              CdcPipeline.read(spark, gold)
            }
            if (k >= 0) reads.add(Read(due, System.nanoTime(), deltas, rows))
          } catch { case e: Exception =>
            System.err.println(s"[cdc] gold read failed: $e"); readFails.incrementAndGet()
          }
        }, s"perfbench-trickle-read-$k")
        t.start()
        t
      }
      rs.foreach(_.join())
    }, "perfbench-trickle-reader")
    producer.start()
    reader.start()
    producer.join()
    reader.join()
    val last = Option(chunks.get(total - 1)).map(_.ends).getOrElse(Map.empty)
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (last.exists { case (p, e) =>
        CdcPipeline.covered(commits.values().asScala.toSeq).getOrElse(p, 0L) < e } &&
        q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
    CdcPipeline.stop(q)
    Window(tStart, tEnd, chunks.values().asScala.toSeq.sortBy(_.i),
      commits.values().asScala.toSeq.sortBy(_.batchId), reads.asScala.toSeq.sortBy(_.dueNanos),
      readFails.get, gold)
  }
}
