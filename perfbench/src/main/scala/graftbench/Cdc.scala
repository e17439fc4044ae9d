package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.Debezium
import graft.sources.EmbeddedTopicLog
import graft.streaming.BucketedGold

/** The CDC pipeline as a user assembles it from graft's public entry
  * points: the `kafkalog` source, `Debezium.parseEnvelope` and
  * `BucketedGold.appendBatch`/`read`. Each call the benchmark times is
  * wrapped in a span named after its layer.
  */
object CdcPipeline {
  val Partitions = 8
  val Keys = 100000

  /** Silver projection of raw topic rows: the parsed envelope reduced to
    * the gold state columns, with the topic partition and offset carried
    * along so the benchmark can tell which records a commit holds.
    */
  def silver(raw: DataFrame): DataFrame =
    Debezium
      .parseEnvelope(raw.selectExpr("CAST(value AS STRING) AS cdc_event",
        "partition", "offset"), "cdc_event")
      .selectExpr(
        "CAST(get_json_object(coalesce(after_image, before_image), '$.user_id') AS BIGINT) AS user_id",
        "operation",
        "event_ts_ms * 1000 AS ts_us",
        "CAST(get_json_object(coalesce(after_image, before_image), '$.event_id') AS BIGINT) AS event_id",
        "CAST(coalesce(get_json_object(after_image, '$.value'), '0') AS DOUBLE) AS value",
        "partition", "offset")

  def stream(spark: SparkSession, logRoot: String, topic: String,
      maxPerTrigger: Option[Long]): DataFrame = {
    val r = spark.readStream.format("kafkalog")
      .option("path", logRoot).option("topic", topic)
      .option("startingOffsets", "earliest")
    maxPerTrigger.fold(r)(m => r.option("maxOffsetsPerTrigger", m.toString)).load()
  }

  /** One committed micro-batch: when its gold commit returned, and the
    * end offset (exclusive) it reached in each partition it read.
    */
  final case class Commit(batchId: Long, doneNanos: Long, ends: Map[Int, Long])

  /** Starts kafkalog → silver → `BucketedGold.appendBatch` and records a
    * [[Commit]] per non-empty batch. `compactEvery` overrides the number of
    * deltas at which `appendBatch` compacts inline.
    */
  def startGold(spark: SparkSession, tracer: Tracer, logRoot: String, topic: String,
      gold: String, ckpt: String, maxPerTrigger: Option[Long],
      commits: ConcurrentHashMap[Long, Commit],
      compactEvery: Option[Int] = None): StreamingQuery =
    silver(stream(spark, logRoot, topic, maxPerTrigger)).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val obs = new Observation(s"ends_${batchId}_${System.nanoTime()}")
        val ends = (0 until Partitions).map(p =>
          max(when(col("partition") === p, col("offset") + 1)).as(s"p$p"))
        val observed = batch.observe(obs, ends.head, ends.tail: _*)
        val committed = tracer.span("streaming.appendBatch", s"batch-$batchId") { _ =>
          compactEvery.fold(BucketedGold.appendBatch(spark, observed, gold, batchId))(k =>
            BucketedGold.appendBatch(spark, observed, gold, batchId, compactEvery = k))
        }
        val done = System.nanoTime()
        if (committed) {
          val row = obs.get
          val m = (0 until Partitions).flatMap { p =>
            row.get(s"p$p").flatMap(Option(_)).map(v => p -> v.asInstanceOf[Long])
          }.toMap
          commits.put(batchId, Commit(batchId, done, m))
        }
        ()
      }
      .start()

  /** Produces events [from, until) in produce calls of `chunk` events. */
  def produce(gen: CdcGen, logRoot: String, topic: String, from: Long, until: Long,
      chunk: Int): Unit = {
    var id = from
    while (id < until) {
      val n = math.min(chunk.toLong, until - id).toInt
      EmbeddedTopicLog.produce(logRoot, topic, gen.chunk(id, n), Partitions)
      id += n
    }
  }

  /** Per partition, the end offset the commits reached together. */
  def covered(cs: Seq[Commit]): Map[Int, Long] =
    cs.flatMap(_.ends.toSeq).groupBy(_._1).map { case (p, es) => p -> es.map(_._2).max }

  /** Events each commit made visible that no earlier commit had, in
    * batch order.
    */
  def newRows(cs: Seq[Commit]): Seq[(Commit, Long)] = {
    val reached = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    cs.sortBy(_.batchId).map { c =>
      val fresh = c.ends.map { case (p, e) =>
        val before = reached(p)
        if (e > before) { reached(p) = e; e - before } else 0L
      }.sum
      c -> fresh
    }
  }

  def endOffsets(logRoot: String, topic: String): Map[Int, Long] =
    (0 until Partitions).map(p => p -> EmbeddedTopicLog.endOffset(logRoot, topic, p)).toMap

  /** A gold read as a user issues it: the merged SCD1 state, counted and
    * summed. Returns (rows, sum of value).
    */
  def read(spark: SparkSession, gold: String): (Long, Double) = {
    val r = BucketedGold.read(spark, gold).agg(count(lit(1)), sum("value")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** Delta directories a read of `gold` lists and merges. */
  def deltaDirs(gold: String): Int = {
    val d = java.nio.file.Paths.get(gold, "delta")
    if (!Files.isDirectory(d)) 0
    else { val s = Files.list(d); try s.iterator().asScala.count(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith("b")) finally s.close() }
  }

  def dirBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close() }
  }

  /** Gold rows that differ from the SCD1 state recomputed from the seed,
    * anti-joined both ways (on the driver: the state is at most `Keys`
    * rows). Returns (expected rows, mismatching rows).
    */
  def audit(spark: SparkSession, gen: CdcGen, produced: Long, gold: String): (Long, Long) = {
    val expected = gen.expectedState(produced).toSet
    val actual = BucketedGold.read(spark, gold)
      .select("user_id", "operation", "ts_us", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val actualSet = actual.toSet
    val bad = expected.count(e => !actualSet.contains(e)) +
      actualSet.count(a => !expected.contains(a)) + (actual.length - actualSet.size)
    (expected.size.toLong, bad.toLong)
  }

  /** Warm-up: `events` events of a topic of their own through the same
    * parse and gold commit as one batch read, outside the streaming engine,
    * then one gold read.
    */
  def warmUp(spark: SparkSession, gen: CdcGen, root: Path, events: Long): Unit = {
    val logRoot = root.resolve("warm-log").toString
    produce(gen, logRoot, "warm", 0, events, 50000)
    val gold = root.resolve("warm-gold").toString
    BucketedGold.appendBatch(spark, silver(CdcExtras.batchRead(spark, logRoot, "warm")), gold, 0L)
    read(spark, gold)
  }

  def stop(q: StreamingQuery): Unit = {
    q.stop()
    q.awaitTermination(60000)
    BucketedGold.awaitCompactions()
  }

  def rm(p: Path): Unit = org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
