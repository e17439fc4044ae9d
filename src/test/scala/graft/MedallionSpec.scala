package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedGold, CdcStreams, Medallion}

/** End-to-end medallion pipeline (SURVEY §2 #117): one checkpointed
  * bronze→silver→gold flow, killed and restarted mid-stream, with
  * exactly-once gold state and populated DLQ / quarantine / metrics.
  */
class MedallionSpec extends SparkSpec {

  private def img(uid: Long, eid: Long, v: Double): String =
    s"""{"user_id":$uid,"event_id":$eid,"value":$v}"""

  private def env(op: String, srcTs: Long, before: String, after: String): String =
    s"""{"before":$before,"after":$after,"source":{"version":"2.4.0","connector":"mysql","name":"g","ts_ms":$srcTs,"db":"d","table":"t"},"op":"$op","ts_ms":${srcTs + 5}}"""

  test("layer counts: a never-written layer is 0 rows, a corrupt one raises") {
    val root = Files.createTempDirectory("medallion_count").toString
    assert(Medallion.layerCount(spark, s"$root/never_written") == 0L)
    val gold = s"$root/gold"
    spark.range(5).write.parquet(gold)
    assert(Medallion.layerCount(spark, gold) == 5L)
    Files.write(Paths.get(s"$gold/part-99999-corrupt.snappy.parquet"),
      "not a parquet file".getBytes)
    intercept[Exception](Medallion.layerCount(spark, gold))
  }

  test("kill/restart from checkpoint keeps every layer consistent and exactly-once") {
    val root = Files.createTempDirectory("medallion_spec").toString
    val bronze = s"$root/bronze"
    Files.createDirectories(Paths.get(bronze))
    val base = 1704067200000L

    val listener = new CdcStreams.MetricsListener
    spark.streams.addListener(listener)
    try {
      // ---- phase 1: inserts + one corrupt line + one expectation breaker
      Files.write(Paths.get(s"$bronze/a.txt"), Seq(
        env("c", base, "null", img(1, 10, 5.0)),
        env("c", base + 1000, "null", img(2, 20, 7.0)),
        "this is not an envelope",
        env("u", base + 2000, "null", "null") // UPDATE with no images: quarantine
      ).mkString("\n").getBytes)

      val q1 = Medallion.pipeline(spark, bronze, s"$root/gold", s"$root/dlq",
        s"$root/quarantine", s"$root/ck", maxFilesPerTrigger = Some(1))
      try q1.processAllAvailable() finally q1.stop() // kill after batch 0

      assert(BucketedGold.read(spark, s"$root/gold").count() == 2)

      // ---- phase 2: new file while the pipeline is DOWN, then restart
      Files.write(Paths.get(s"$bronze/b.txt"), Seq(
        env("u", base + 3000, img(1, 10, 5.0), img(1, 11, 6.5)), // user 1 updated
        env("d", base + 4000, img(2, 20, 7.0), "null"), // user 2 deleted
        env("c", base + 5000, "null", img(3, 30, 9.0)) // user 3 arrives
      ).mkString("\n").getBytes)

      val q2 = Medallion.pipeline(spark, bronze, s"$root/gold", s"$root/dlq",
        s"$root/quarantine", s"$root/ck", maxFilesPerTrigger = Some(1))
      try q2.processAllAvailable() finally q2.stop()

      // gold: latest state, DELETE applied, no duplicates
      val gold = BucketedGold.read(spark, s"$root/gold")
        .select("user_id", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(gold == Set((1L, 11L, 6.5), (3L, 30L, 9.0)),
        s"gold state wrong after restart: $gold")

      // DLQ: exactly the corrupt line, tagged with its batch
      val dlq = spark.read.parquet(s"$root/dlq").collect()
      assert(dlq.length == 1)
      assert(dlq.head.getAs[String]("value") == "this is not an envelope")
      assert(dlq.head.getAs[String]("error_reason") == "malformed_envelope")

      // quarantine: exactly the imageless UPDATE with its failed rules
      val quar = spark.read.parquet(s"$root/quarantine").collect()
      assert(quar.length == 1)
      assert(quar.head.getAs[String]("failed_rules").contains("has_after_image"))

      // metrics: the listener saw medallion micro-batches covering all rows
      val metrics = listener.snapshot.filter(_.query_name == "medallion")
      assert(metrics.nonEmpty, "no medallion progress events captured")
      assert(metrics.map(_.event_count).sum == 7,
        s"metrics row count: ${metrics.map(_.event_count).sum}")

      // observe()-based silver quality (#100): the observed parse counters
      // must reconcile EXACTLY with the DLQ split — parsed rows = bronze
      // minus DLQ (7 - 1), and the imageless UPDATE counts as missing its
      // after image (it is also the quarantine row)
      val quality = Medallion.silverQuality(s"$root/gold")
      assert(quality.nonEmpty, "no observed silver-quality rows")
      assert(quality.map(_.n_parsed).sum == 7 - 1,
        s"observed n_parsed != bronze - dlq: $quality")
      assert(quality.map(_.n_unknown_op).sum == 0, s"unknown ops: $quality")
      assert(quality.map(_.n_missing_after).sum == 1,
        s"missing-after count != quarantined imageless update: $quality")

      // ---- crash-replay idempotence: re-applying a completed batch (the
      // crash-after-write-before-commit case) must not change any layer
      import spark.implicits._
      val replay = Seq(env("u", base + 3000, img(1, 10, 5.0), img(1, 11, 6.5)),
        env("d", base + 4000, img(2, 20, 7.0), "null"),
        env("c", base + 5000, "null", img(3, 30, 9.0))).toDF("value")
      Medallion.processBatch(spark, replay, 1L, s"$root/gold", s"$root/dlq",
        s"$root/quarantine", Medallion.defaultRules)
      val goldAfter = BucketedGold.read(spark, s"$root/gold")
        .select("user_id", "event_id", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(goldAfter == gold, "batch replay changed the gold state")
      assert(spark.read.parquet(s"$root/dlq").count() == 1)
      assert(spark.read.parquet(s"$root/quarantine").count() == 1)
    } finally spark.streams.removeListener(listener)
  }

  test("medallion stats demo populates every layer deterministically") {
    val a = Medallion.medallionStats(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nEnvelopes = Tables.events(spark, sf)
      .filter(col("event_id") <= 1000).count()
    assert(a("bronze") == nEnvelopes + 3, s"layer counts: $a")
    assert(a("gold") > 0 && a("dlq") > 0, s"layer counts: $a")
    assert(a("bronze") > a("gold") + a("dlq"), s"layers don't reconcile: $a")
    // deterministic: a rerun lands on identical counts
    val b = Medallion.medallionStats(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, s"medallion reruns disagree: $a vs $b")
  }

  test("medallion stats releases its silver-quality entries and temp root") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots() = tmp.listFiles().map(_.getName).filter(_.matches("medallion\\d+")).toSet
    val (logBefore, rootsBefore) = (Medallion.qualityLog.keySet.toSet, roots())
    (1 to 2).foreach(_ => Medallion.medallionStats(spark, sf).collect())
    val logLeft = Medallion.qualityLog.keySet.toSet -- logBefore
    assert(logLeft.isEmpty, s"quality entries left: $logLeft")
    assert((roots() -- rootsBefore).isEmpty, s"temp roots left: ${roots() -- rootsBefore}")
  }
}
