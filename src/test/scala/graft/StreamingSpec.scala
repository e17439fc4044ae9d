package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.CdcStreams
import graft.streaming.CdcStreams.Ev

/** Structured Streaming pipeline behavior (SURVEY §2 #42-45). */
class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def evRow(id: Long, tsUs: Long, uid: Long, typ: String, v: Double) =
    Ev(id, tsUs, uid, typ, v)

  test("windowed counts aggregate a memory stream with watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF()
      .withColumnRenamed("event_type", "event_type_raw")
      .select(col("event_id"), col("user_id"),
        col("event_type_raw").as("event_type"), col("ts_us"), col("value"))
    val agg = CdcStreams.windowedCounts(normalized)
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Update).start()
    try {
      val base = 1704067200L * 1000000L
      ms.addData(
        evRow(1, base + 10L * 1000000, 1, "click", 1.0),
        evRow(2, base + 20L * 1000000, 1, "click", 2.0),
        evRow(3, base + 400L * 1000000, 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.map(_.getAs[Long]("n_events")).sum == 3)
      assert(spark.table("wc").select("event_type").distinct().count() == 2)
    } finally q.stop()
  }

  test("streaming sequential A/B: each micro-batch is a valid look; uplift fires") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val looks = CdcStreams.sequentialAbStream(ms.toDF())
    val q = looks.writeStream.format("memory").queryName("seqab")
      .outputMode(OutputMode.Update).start()
    try {
      // look 1: both arms ~$10 — no evidence
      ms.addData(
        evRow(1, 1L, 2, "purchase", 10.0), evRow(2, 2L, 2, "purchase", 10.0),
        evRow(3, 1L, 1, "purchase", 10.0), evRow(4, 2L, 1, "purchase", 10.2),
        evRow(5, 3L, 1, "view", 999.0)) // non-purchase ignored
      q.processAllAvailable()
      val l1 = spark.table("seqab").collect()
      assert(l1.length === 1)
      assert((l1.head.getAs[Long]("n_a"), l1.head.getAs[Long]("n_b"),
        l1.head.getAs[Boolean]("signif")) === ((2L, 2L, false)))
      assert(l1.head.getAs[Double]("pval") === 1.0)
      // look 2: arm 1 gets a consistent $20 x50 — always-valid p collapses
      ms.addData((0 until 50).map(i =>
        evRow(10L + i, 10L + i, 1, "purchase", 20.0)) ++
        Seq(evRow(100, 60L, 2, "purchase", 10.0), evRow(101, 61L, 2, "purchase", 10.0)): _*)
      q.processAllAvailable()
      val l2 = spark.table("seqab").collect().sortBy(_.getAs[Long]("n_b"))
      assert(l2.length === 2)
      val last = l2.last
      assert((last.getAs[Long]("n_a"), last.getAs[Long]("n_b")) === ((4L, 52L)))
      assert(last.getAs[Boolean]("signif"), s"uplift look did not fire: $last")
      assert(last.getAs[Double]("pval") < 0.05)
    } finally q.stop()
  }

  test("streaming anomaly monitor flags windows whose extreme breaches the z-fence") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val q = CdcStreams.streamingAnomaly(ms.toDF())
      .writeStream.format("memory").queryName("anom")
      .outputMode(OutputMode.Update).start()
    try {
      val base = 1704067200L * 1000000L
      // type a: 20-point tight baseline + one 100x spike → hot (enough
      // baseline mass that the spike can't fully mask itself in the
      // window's own stddev); type b: uniform values → cold
      val baseline = (1 to 20).map(i =>
        evRow(i.toLong, base + i * 1000000L, 1, "a", 1.0 + (i % 3) * 0.1))
      ms.addData(baseline ++ Seq(
        evRow(21, base + 21000000L, 1, "a", 100.0),
        evRow(22, base + 1000000L, 2, "b", 5.0),
        evRow(23, base + 2000000L, 2, "b", 5.0)): _*)
      q.processAllAvailable()
      val rows = spark.table("anom").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Boolean]("hot_flag")).toMap
      assert(rows("a"), "spiked window must flag hot")
      assert(!rows("b"), "uniform window must stay cold")
    } finally q.stop()
  }

  test("transformWithState (state v2) carries typed ValueState across batches on RocksDB") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("ts_us"),
      col("user_id"), col("event_type").as("operation"), col("value"))
    val q = CdcStreams.latestStateTws(normalized)
      .writeStream.format("memory").queryName("tws")
      .outputMode(OutputMode.Update).start()
    try {
      ms.addData(evRow(1, 1000L, 1, "INSERT", 1.0),
        evRow(2, 2000L, 1, "UPDATE", 2.0), evRow(3, 1000L, 2, "INSERT", 5.0))
      q.processAllAvailable()
      ms.addData(evRow(4, 3000L, 1, "UPDATE", 7.0))
      q.processAllAvailable()
      val fin = spark.table("tws").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) => u -> rows.maxBy(_.getAs[Long]("n_events")) }
      // same fold as latestState v1: batch-2 event folds ON TOP of the
      // batch-1 state (n_events carried), proving the ValueState survived
      assert(fin(1L).getAs[Long]("last_event_id") === 4L)
      assert(fin(1L).getAs[Long]("n_events") === 3L)
      assert(fin(1L).getAs[Double]("last_value") === 7.0)
      assert(fin(2L).getAs[Long]("n_events") === 1L)
      val metrics = q.lastProgress.stateOperators.apply(0).customMetrics
      assert(metrics.keySet().toArray.exists(_.toString.startsWith("rocksdb")),
        s"transformWithState not RocksDB-backed: ${metrics.keySet()}")
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("windowed counts run on the RocksDB state store (production state backend)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type"), col("ts_us"), col("value"))
    val q = CdcStreams.windowedCounts(normalized)
      .writeStream.format("memory").queryName("wc_rocks")
      .outputMode(OutputMode.Update).start()
    try {
      val base = 1704067200L * 1000000L
      ms.addData(evRow(1, base + 1000000, 1, "click", 1.0),
        evRow(2, base + 2000000, 2, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("wc_rocks").agg(sum("n_events")).head().getLong(0) == 2)
      // the state operator must actually be RocksDB-backed
      val metrics = q.lastProgress.stateOperators.apply(0).customMetrics
      assert(metrics.keySet().toArray.exists(_.toString.startsWith("rocksdb")),
        s"no rocksdb metrics in ${metrics.keySet()}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateful latest-state tracks SCD1 across micro-batches") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val st = CdcStreams.latestState(normalized)
    val q = st.toDF().writeStream.format("memory").queryName("scd1s")
      .outputMode(OutputMode.Update).start()
    try {
      ms.addData(evRow(1, 1000, 7, "INSERT", 10.0))
      q.processAllAvailable()
      ms.addData(evRow(2, 2000, 7, "UPDATE", 20.0), evRow(3, 1500, 8, "INSERT", 5.0))
      q.processAllAvailable()
      val rows = spark.table("scd1s")
        .groupBy("user_id").agg(max_by(col("last_value"), col("n_events")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows(7L) == 20.0)
      assert(rows(8L) == 5.0)
    } finally q.stop()
  }

  test("scd2Stream closes versions across micro-batches, one state row per key") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val st = CdcStreams.scd2Stream(normalized)
    val q = st.toDF().writeStream.format("memory").queryName("scd2s")
      .outputMode(OutputMode.Update).start()
    try {
      ms.addData(evRow(1, 1000, 7, "INSERT", 10.0))
      q.processAllAvailable()
      ms.addData(evRow(2, 2000, 7, "UPDATE", 20.0), evRow(3, 1500, 8, "INSERT", 5.0))
      q.processAllAvailable()
      // update-mode sink semantics: final state per version = the LAST
      // emission, i.e. the minimal valid_to (open MaxValue, then closed)
      val fin = spark.table("scd2s")
        .groupBy("user_id", "event_id")
        .agg(min("valid_to_us").as("valid_to_us"), min("valid_from_us").as("valid_from_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(3), r.getLong(2)))).toMap
      // u7 v1 closed by v2 at ts 2000; v2 and u8's v1 stay open
      assert(fin((7L, 1L)) == ((1000L, 2000L)))
      assert(fin((7L, 2L)) == ((2000L, Long.MaxValue)))
      assert(fin((8L, 3L)) == ((1500L, Long.MaxValue)))
      // exactly one open (current) version per key in the final state
      val openPerUser = fin.toSeq
        .filter { case (_, (_, vt)) => vt == Long.MaxValue }
        .groupBy(_._1._1).view.mapValues(_.size).toMap
      assert(openPerUser == Map(7L -> 1, 8L -> 1), s"open versions: $openPerUser")
    } finally q.stop()
  }

  test("file-source CDC pipeline upserts into target across batches") {
    val inDir = tmpDir("cdc_in")
    val target = tmpDir("cdc_target") + "/tbl"
    val ckpt = tmpDir("cdc_ckpt")
    import spark.implicits._

    // batch 1: two users
    Seq((1L, 1000000L * 1000, 1L, "signup", 1.0), (2L, 2000000L * 1000, 2L, "signup", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{\"k\": 1}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(inDir)
    val q = CdcStreams.fileStreamPipeline(spark, inDir, target, ckpt)
    try {
      q.processAllAvailable()
      assert(graft.streaming.BucketedGold.read(spark, target).count() == 2)

      // batch 2: user 1 updated, user 2 deleted (error event)
      Seq((3L, 3000000L * 1000, 1L, "purchase", 9.0), (4L, 4000000L * 1000, 2L, "error", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{\"k\": 2}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val fin = graft.streaming.BucketedGold.read(spark, target).collect()
      assert(fin.length == 1)
      assert(fin.head.getAs[Long]("user_id") == 1L)
      assert(fin.head.getAs[String]("operation") == "UPDATE")
    } finally q.stop()
  }

  test("flatMapGroupsWithState closes sessions on gap") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val sess = CdcStreams.sessionState(normalized)
    val q = sess.toDF().writeStream.format("memory").queryName("fsess")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1704067200L * 1000000L
      ms.addData(
        evRow(1, base, 5, "UPDATE", 1.0),
        evRow(2, base + 60L * 1000000, 5, "UPDATE", 2.0))
      q.processAllAvailable()
      // watermark pushers (other user, far future) let the event-time
      // timeout fire and flush user 5's session
      ms.addData(evRow(3, base + 24L * 3600 * 1000000, 99, "UPDATE", 0.0))
      q.processAllAvailable()
      ms.addData(evRow(4, base + 48L * 3600 * 1000000, 99, "UPDATE", 0.0))
      q.processAllAvailable()
      val rows = spark.table("fsess").filter(col("user_id") === 5).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n_events") == 2)
      assert(rows.head.getAs[Double]("session_value") == 3.0)
    } finally q.stop()
  }

  test("transformWithState sessionizer closes on timer and matches the v1 twin") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val q = CdcStreams.sessionStateTws(normalized)
      .toDF().writeStream.format("memory").queryName("twsess")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1704067200L * 1000000L
      // batch 1 keeps the watermark low (max event = base+60s) so batch 2
      // can still extend user 6; user 5 then splits on an in-batch 2h gap
      // in batch 2, leaving a STALE batch-1 timer behind for user 5
      ms.addData(
        evRow(1, base, 5, "UPDATE", 1.0),
        evRow(2, base + 60L * 1000000, 5, "UPDATE", 2.0),
        evRow(4, base, 6, "UPDATE", 10.0))
      q.processAllAvailable()
      ms.addData(
        evRow(5, base + 60L * 1000000, 6, "UPDATE", 20.0),
        evRow(3, base + 2L * 3600 * 1000000, 5, "UPDATE", 4.0))
      q.processAllAvailable()
      // watermark pushers let the event-time timers fire
      ms.addData(evRow(6, base + 24L * 3600 * 1000000, 99, "UPDATE", 0.0))
      q.processAllAvailable()
      ms.addData(evRow(7, base + 48L * 3600 * 1000000, 99, "UPDATE", 0.0))
      q.processAllAvailable()
      val rows = spark.table("twsess").collect()
      val u5 = rows.filter(_.getAs[Long]("user_id") == 5L)
        .sortBy(_.getAs[Long]("start_us"))
      assert(u5.length == 2, s"user 5 expected 2 sessions, got ${u5.length}")
      assert(u5(0).getAs[Long]("n_events") == 2 &&
        u5(0).getAs[Double]("session_value") == 3.0)
      assert(u5(1).getAs[Long]("n_events") == 1 &&
        u5(1).getAs[Double]("session_value") == 4.0)
      val u6 = rows.filter(_.getAs[Long]("user_id") == 6L)
      assert(u6.length == 1, s"user 6 expected 1 merged session, got ${u6.length}")
      assert(u6.head.getAs[Long]("n_events") == 2 &&
        u6.head.getAs[Double]("session_value") == 30.0)
      val metrics = q.lastProgress.stateOperators.apply(0).customMetrics
      assert(metrics.keySet().toArray.exists(_.toString.startsWith("rocksdb")))
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState ListState keeps a bounded last-N buffer across batches") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val q = CdcStreams.recentEventsTws(normalized, n = 3)
      .toDF().writeStream.format("memory").queryName("twrecent")
      .outputMode(OutputMode.Update).start()
    try {
      val base = 1704067200L * 1000000L
      ms.addData(evRow(1, base + 1, 1, "UPDATE", 1.0),
        evRow(2, base + 2, 1, "UPDATE", 2.0))
      q.processAllAvailable()
      // batch 2 pushes the buffer past N=3: event 1 must age out
      ms.addData(evRow(3, base + 3, 1, "UPDATE", 4.0),
        evRow(4, base + 4, 1, "UPDATE", 8.0))
      q.processAllAvailable()
      val rows = spark.table("twrecent").collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[Long]("n_recent"), r.getAs[Long]("sum_recent_c")))).toMap
      assert(rows(1L) === ((1L, 100L)))
      assert(rows(2L) === ((2L, 300L)))   // {1,2}
      assert(rows(3L) === ((3L, 700L)))   // {1,2,4} cents 100+200+400
      assert(rows(4L) === ((3L, 1400L)),  // {2,4,8} — event 1 trimmed
        s"got ${rows(4L)}")
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState MapState bumps per-type counts as point updates") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val q = CdcStreams.typeCountsTws(normalized)
      .toDF().writeStream.format("memory").queryName("twcounts")
      .outputMode(OutputMode.Update).start()
    try {
      ms.addData(evRow(1, 1000L, 1, "click", 0.0), evRow(2, 2000L, 1, "click", 0.0),
        evRow(3, 3000L, 1, "view", 0.0))
      q.processAllAvailable()
      ms.addData(evRow(4, 4000L, 1, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("twcounts").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n")))
      // batch 1 emits click=2 and view=1; batch 2 emits click=3 ON TOP of
      // the map state (proving the per-key map row survived the boundary)
      assert(rows.contains(("click", 2L)) && rows.contains(("view", 1L)))
      assert(rows.contains(("click", 3L)), s"got ${rows.toSeq}")
      assert(!rows.contains(("view", 2L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val deduped = CdcStreams.streamingDedup(normalized)
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1704067200L * 1000000L
      ms.addData(evRow(1, base, 1, "UPDATE", 1.0), evRow(2, base + 1000000, 2, "UPDATE", 2.0))
      q.processAllAvailable()
      // redelivery of event 1 in a later micro-batch
      ms.addData(evRow(1, base, 1, "UPDATE", 1.0), evRow(3, base + 2000000, 3, "UPDATE", 3.0))
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to signups") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val pms = MemoryStream[Ev]
    val sms = MemoryStream[Ev]
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("user_id"), col("ts_us"))
    val joined = CdcStreams.purchaseAttribution(norm(pms.toDF()), norm(sms.toDF()))
    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1704067200L * 1000000L
      sms.addData(evRow(1, base, 1, "signup", 0.0))
      pms.addData(
        evRow(2, base + 3600L * 1000000, 1, "purchase", 5.0), // 1h later: match
        evRow(3, base + 30L * 86400 * 1000000, 1, "purchase", 5.0)) // 30d later: no
      q.processAllAvailable()
      val rows = spark.table("attr").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("p_event_id") == 2L)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unconverted signups after watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val signups = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = CdcStreams.signupConversion(signups.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("conv")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1704067200L * 1000000L
      // user 1 converts inside the window; user 2 never does
      signups.addData(evRow(1, base, 1, "signup", 0.0),
        evRow(2, base, 2, "signup", 0.0))
      purchases.addData(evRow(10, base + 30L * 1000000, 1, "purchase", 9.0))
      q.processAllAvailable()
      // advance both watermarks far past signup + join window so the
      // unmatched left row must release
      signups.addData(evRow(3, base + 600L * 1000000, 9, "signup", 0.0))
      purchases.addData(evRow(11, base + 600L * 1000000, 9, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("conv")
        .filter(col("user_id").isin(1L, 2L))
        .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("converted"))).toMap
      assert(rows.get(1L).contains(true), s"user 1 should have converted: $rows")
      assert(rows.get(2L).contains(false), s"user 2 should emit null-joined: $rows")
    } finally q.stop()
  }

  test("session windows emit gap-based sessions") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type").as("operation"), col("ts_us"), col("value"))
    val sess = CdcStreams.sessionWindows(normalized)
    // session windows only support Append mode: sessions emit once the
    // watermark (1h delay) passes their close; push it with late dummy events
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 1704067200L * 1000000L
      ms.addData(
        evRow(1, base, 1, "UPDATE", 1.0),
        evRow(2, base + 60L * 1000000, 1, "UPDATE", 1.0), // same session
        evRow(3, base + 7200L * 1000000, 1, "UPDATE", 1.0)) // new session (2h later)
      q.processAllAvailable()
      // watermark pusher: user 99 far in the future finalizes user 1 sessions
      ms.addData(evRow(4, base + 24L * 3600 * 1000000, 99, "UPDATE", 0.0))
      q.processAllAvailable()
      ms.addData(evRow(5, base + 48L * 3600 * 1000000, 99, "UPDATE", 0.0))
      q.processAllAvailable()
      val n = spark.table("sess").filter(col("user_id") === 1).count()
      assert(n == 2, s"expected 2 sessions for user 1, got $n")
    } finally q.stop()
  }

  test("streaming latency metrics flag slow windows on the parsed silver stream") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    // real silver path: raw envelope strings → DLQ-splitting parse → latency
    val (silver, _) = graft.cdc.Debezium.parseEnvelopeWithDlq(ms.toDF(), "value")
    val q = CdcStreams.streamingLatency(silver)
      .writeStream.format("memory").queryName("lat")
      .outputMode(OutputMode.Update).start()
    try {
      val base = 1704067200000L
      def env(src: Long, ing: Long, op: String) =
        s"""{"before":null,"after":null,"source":{"ts_ms":$src,"db":"d","table":"t"},"op":"$op","ts_ms":$ing}"""
      ms.addData(
        env(base, base + 1000, "c"), // 1s delay: fine
        env(base + 60000, base + 130000, "u"), // 70s delay: high latency
        "not json at all") // corrupt: routes to DLQ, must not break the agg
      q.processAllAvailable()
      val rows = spark.table("lat").collect()
      assert(rows.map(_.getAs[Long]("event_count")).sum == 2,
        "corrupt envelope leaked into the latency aggregation")
      assert(rows.exists(_.getAs[Boolean]("high_latency_flag")),
        "70s delay did not raise the high-latency flag")
      assert(rows.forall(_.getAs[Boolean]("low_volume_flag")))
    } finally q.stop()
  }

  test("doc curation stream dedups across batches and across a kill/restart") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("doc_stream_spec").toString
    val srcDir = s"$root/src"; Files.createDirectories(Paths.get(srcDir))
    def ship(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$srcDir/$name.json"), lines.mkString("\n").getBytes)
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "lang": "en", "text": "$text"}"""
    val base = (1L to 6L).map(i =>
      doc(i, s"alpha beta gamma delta epsilon token$i"))
    ship("a", base)
    // batch 2: re-ships docs 1-3 under NEW ids (same text → dups), adds a
    // short junk doc the quality gate must drop, and one genuinely new doc
    ship("b", Seq(
      doc(101, "alpha beta gamma delta epsilon token1"),
      doc(102, "alpha beta gamma delta epsilon token2"),
      doc(103, "alpha beta gamma delta epsilon token3"),
      doc(104, "tiny junk"),
      doc(105, "alpha beta gamma delta epsilon fresh")))
    val q1 = graft.streaming.DocStream.pipeline(spark, srcDir, s"$root/out",
      s"$root/ck", "doc_stream_spec_1")
    try q1.processAllAvailable() finally q1.stop()
    val afterB = spark.read.parquet(s"$root/out")
    assert(afterB.count() == 7, s"expected 6 base + 1 fresh, got ${afterB.count()}")
    assert(afterB.select("digest").distinct().count() == 7)
    assert(!afterB.collect().map(_.getAs[Long]("doc_id")).toSet
      .exists(Set(101L, 102L, 103L, 104L)), "a dup or junk doc was admitted")

    // kill/restart: state must survive the checkpoint — re-shipping doc 5's
    // text and the fresh doc's text after restart must admit NOTHING new
    ship("c", Seq(
      doc(201, "alpha beta gamma delta epsilon token5"),
      doc(202, "alpha beta gamma delta epsilon fresh"),
      doc(203, "alpha beta gamma delta epsilon post restart")))
    val q2 = graft.streaming.DocStream.pipeline(spark, srcDir, s"$root/out",
      s"$root/ck", "doc_stream_spec_2")
    try q2.processAllAvailable() finally q2.stop()
    val afterC = spark.read.parquet(s"$root/out")
    assert(afterC.count() == 8, s"restart re-admitted dups: ${afterC.count()}")
    assert(afterC.filter(col("doc_id") === 203L).count() == 1,
      "the genuinely new post-restart doc was not admitted")
  }

  test("near-dup curation stream refuses edited re-crawls across batches and a restart") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("doc_stream_near_spec").toString
    val srcDir = s"$root/src"; Files.createDirectories(Paths.get(srcDir))
    def ship(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$srcDir/$name.json"), lines.mkString("\n").getBytes)
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "lang": "en", "text": "$text"}"""
    // long texts so the min window sits well inside the body: appending
    // " (rev)" must not displace it (verified for these texts — the edit
    // adds 6 windows against ~100)
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega one"
    val long2 = "quick brown foxes jump over lazy dogs while curious cats " +
      "watch from warm windowsills during quiet autumn afternoons in the park two"
    val long3 = "fresh document about entirely different topics such as sailing " +
      "navigation celestial charts and the patience required for long voyages three"
    val long4 = "post restart content concerning mountain trails alpine meadows " +
      "and the slow deliberate pace of long distance hikers at altitude four"
    ship("a", Seq(doc(1, long1), doc(2, long2)))
    // batch 2: an EDITED copy of doc 1 (md5 differs — exact dedup would
    // admit it; the winnowing fingerprint survives the appended suffix),
    // a junk doc the gate drops, and a genuinely new doc
    ship("b", Seq(doc(101, long1 + " (rev)"), doc(104, "tiny junk"),
      doc(105, long3)))
    val q1 = graft.streaming.DocStream.pipelineNear(spark, srcDir,
      s"$root/out", s"$root/ck", "doc_stream_near_spec_1")
    try q1.processAllAvailable() finally q1.stop()
    val afterB = spark.read.parquet(s"$root/out")
    val idsB = afterB.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(idsB == Set(1L, 2L, 105L),
      s"expected the edited re-crawl (101) refused and junk (104) gated, got $idsB")

    // kill/restart: fingerprint state must survive the checkpoint — an
    // edited copy of doc 2 shipped AFTER restart must still be refused
    ship("c", Seq(doc(201, long2 + " (rev)"), doc(202, long4)))
    val q2 = graft.streaming.DocStream.pipelineNear(spark, srcDir,
      s"$root/out", s"$root/ck", "doc_stream_near_spec_2")
    try q2.processAllAvailable() finally q2.stop()
    val idsC = spark.read.parquet(s"$root/out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(idsC == Set(1L, 2L, 105L, 202L),
      s"restart lost fingerprint state or refused the new doc: $idsC")
  }

  test("streaming HLL distinct: bounded state tracks cardinality across batches") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF()
    val st = graft.streaming.SketchStream.distinctByType(normalized)
    val q = st.toDF().writeStream.format("memory").queryName("hlls")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: 100 distinct users of type A, 10 of type B
      ms.addData((1L to 100L).map(i => evRow(i, i * 1000, i, "A", 1.0)) ++
        (1L to 10L).map(i => evRow(1000 + i, i * 1000, 1000 + i, "B", 1.0)): _*)
      q.processAllAvailable()
      // batch 2: 50 REPEAT users + 50 new ones for A
      ms.addData((51L to 150L).map(i => evRow(2000 + i, i * 1000, i, "A", 1.0)): _*)
      q.processAllAvailable()
      val byType = spark.table("hlls").groupBy("event_type")
        .agg(max_by(col("est_users"), col("n_events")).as("est"),
          max(col("n_events")).as("n"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // exact: A has 150 distinct after both batches (state survived — a
      // stateless batch would report ≤100); B has 10
      val (estA, nA) = byType("A")
      assert(nA == 200L, s"A event count $nA")
      assert(math.abs(estA - 150L) <= 8, s"A estimate $estA vs 150 (±1.6% RSE)")
      val (estB, nB) = byType("B")
      assert(nB == 10L && estB == 10L, s"B exact at low cardinality: $estB/$nB")
    } finally q.stop()
  }

  test("ivm deltas fold to the final live state across batch boundaries") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    import graft.streaming.CdcStreams.IvmEv
    def Env(id: Long, ts: Long, uid: Long, op: String, ty: String, v: Double) =
      IvmEv(id, ts, uid, op, ty, v)
    val ms = MemoryStream[IvmEv]
    val st = CdcStreams.ivmDeltas(ms.toDF())
    val q = st.toDF().writeStream.format("memory").queryName("ivmd")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 update-born then upserted; u2 insert + DELETE (tombstone
      // must survive the batch boundary)
      ms.addData(
        Env(1, 100, 1, "UPDATE", "a", 5.0),
        Env(2, 200, 1, "INSERT", "a", 9.0),
        Env(3, 100, 2, "INSERT", "b", 4.0),
        Env(4, 200, 2, "DELETE", "b", 0.0))
      q.processAllAvailable()
      // batch 2: u2 reborn via UPDATE — must NOT retract the tombstone;
      // u1 moves groups a -> c, which must retract 900 from a
      ms.addData(
        Env(5, 300, 2, "UPDATE", "b", 6.0),
        Env(6, 300, 1, "UPDATE", "c", 1.0))
      q.processAllAvailable()
      val folded = spark.table("ivmd")
        .groupBy("grp")
        .agg(sum("delta_cents").as("cents"), sum("drows").as("rows"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // final live state: u1 = (c, 100), u2 = (b, 600)
      assert(folded("a") === ((0L, 0L)), s"a: ${folded("a")}")
      assert(folded("b") === ((600L, 1L)), s"b: ${folded("b")}")
      assert(folded("c") === ((100L, 1L)), s"c: ${folded("c")}")
    } finally q.stop()
  }

  test("space-saving top-k: bounded counters, exact heavy hitters, state crosses batches") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val normalized = ms.toDF().select(col("event_id"), col("user_id"),
      col("event_type"), col("ts_us"), col("value"))
    val st = graft.streaming.SketchStream.topKByType(normalized, m = 4, k = 3)
    val q = st.toDF().writeStream.format("memory").queryName("sstk")
      .outputMode(OutputMode.Update).start()
    try {
      var id = 0L
      def burst(uid: Long, n: Int): Seq[Ev] = (1 to n).map { _ =>
        id += 1; evRow(id, id * 1000, uid, "A", 1.0)
      }
      // batch 1: heavy items 1 (x30), 2 (x20) + two singletons — fills
      // m=4 exactly, no eviction yet (order-insensitive)
      ms.addData(burst(1L, 30) ++ burst(2L, 20) ++
        burst(100L, 1) ++ burst(101L, 1): _*)
      q.processAllAvailable()
      // batch 2: 8 more singletons churn ONLY the two light counters —
      // whatever the arrival order, the heavy counters are never minimal
      ms.addData((102L to 109L).flatMap(burst(_, 1)): _*)
      q.processAllAvailable()
      // batch 3: item 1 again (x10) — count must ACCUMULATE through state
      ms.addData(burst(1L, 10): _*)
      q.processAllAvailable()
      val last = spark.table("sstk")
        .groupBy("item").agg(max_by(struct(col("est_count"), col("max_err"),
          col("rnk")), col("est_count")).as("s"))
        .select(col("item"), col("s.est_count"), col("s.max_err"), col("s.rnk"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // never-evicted heavy hitters are EXACT with zero error
      assert(last(1L) === ((40L, 0L, 1L)), s"item1: ${last(1L)}")
      assert(last(2L) === ((20L, 0L, 2L)), s"item2: ${last(2L)}")
      // space-saving guarantee on everything ever emitted:
      // est - err <= true count, est >= true for summary members
      val all = spark.table("sstk").collect()
      assert(all.forall(r => r.getAs[Long]("est_count") >= r.getAs[Long]("max_err")))
      // at most k rows per (type, batch emission); counters bounded by m
      assert(spark.table("sstk").select("item").distinct().count() <= 4 + 3)
    } finally q.stop()
  }

  test("kafkalog: explicit per-partition startingOffsets replay exactly [start, end)") {
    import graft.sources.EmbeddedTopicLog
    val root = tmpDir("kafkalog-offsets")
    val topic = "offsets.topic"
    // single partition → offsets are globally dense 0..29
    EmbeddedTopicLog.produce(root, topic,
      (0 until 30).map(i => (null: String, s"v$i")), partitions = 1)

    // batch path honors the Kafka JSON form {"topic":{"0":N}}
    val fromTen = spark.read.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("startingOffsets", s"""{"$topic":{"0":10}}""")
      .load()
    assert(fromTen.count() === 20)
    assert(fromTen.agg(min("offset")).head.getLong(0) === 10L)

    // -1 = latest (empty batch), -2 = earliest (everything)
    assert(spark.read.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("startingOffsets", s"""{"$topic":{"0":-1}}""")
      .load().count() === 0)
    assert(spark.read.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("startingOffsets", s"""{"$topic":{"0":-2}}""")
      .load().count() === 30)

    // streaming path: a fresh checkpoint with explicit offsets starts the
    // consumer mid-log — the precise-replay restart a real Debezium
    // consumer performs after repositioning
    val out = tmpDir("kafkalog-offsets-out")
    val q = spark.readStream.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("startingOffsets", s"""{"$topic":{"0":25}}""")
      .load()
      .selectExpr("offset", "CAST(value AS STRING) AS v")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$out-ck")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(got.map(_._1).toSeq === (25L until 30L).toSeq,
      s"expected offsets [25,30), got ${got.map(_._1).mkString(",")}")
    assert(got.last._2 === "v29")
  }

  test("consumer lag drains to zero as a checkpointed stream consumes the topic") {
    import graft.sources.{EmbeddedTopicLog, KafkaLag}
    val root = tmpDir("kafkalag")
    val topic = "lag.topic"
    // single-digit keys "0".."2" land on partitions 0..2 (hash 48+d mod 3)
    EmbeddedTopicLog.produce(root, topic,
      (0 until 90).map(i => ((i % 3).toString, s"v$i")), partitions = 3)

    // unread consumer: lag == end everywhere
    val fresh = KafkaLag.consumerLag(spark, root, topic, Map.empty).collect()
    assert(fresh.length === 3)
    fresh.foreach { r =>
      assert(r.getAs[Long]("end_offset") === 30L, r.toString)
      assert(r.getAs[Long]("lag") === 30L)
      assert(r.getAs[Long]("lag_bp") === 10000L)
    }

    // drive a real capped stream for a few batches, then read its
    // committed offsets back from the checkpoint contract the source
    // wrote, and check the monitor agrees with what was consumed
    val out = tmpDir("kafkalag-out")
    var consumed = 0L
    val q = spark.readStream.format("kafkalog")
      .option("path", root).option("topic", topic)
      .load()
      .writeStream
      .option("checkpointLocation", s"$out-ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        consumed += b.count(); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(consumed === 90L)
    val drained = KafkaLag.consumerLag(spark, root, topic,
      (0 until 3).map(p => p -> EmbeddedTopicLog.endOffset(root, topic, p)).toMap)
      .collect()
    drained.foreach { r =>
      assert(r.getAs[Long]("lag") === 0L, r.toString)
      assert(r.getAs[Long]("lag_bp") === 0L)
    }

    // a committed offset past the end clamps (restart-after-truncate safety)
    val clamped = KafkaLag.consumerLag(spark, root, topic, Map(0 -> 999L)).collect()
      .find(_.getAs[Long]("partition") == 0L).get
    assert(clamped.getAs[Long]("committed_offset") === 30L)
    assert(clamped.getAs[Long]("lag") === 0L)
  }

  test("kafkalog: maxOffsetsPerTrigger splits one produce into capped micro-batches") {
    import graft.sources.EmbeddedTopicLog
    val root = tmpDir("kafkalog-cap")
    val topic = "capped.topic"
    // 100 records across 2 partitions, one produce call
    EmbeddedTopicLog.produce(root, topic,
      (0 until 100).map(i => (s"k$i", s"v$i")), partitions = 2)
    val out = tmpDir("kafkalog-cap-out")
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("maxOffsetsPerTrigger", "16")
      .load()
      .writeStream
      .option("checkpointLocation", s"$out-ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val sizes = batchSizes.filter(_ > 0)
    assert(sizes.sum === 100L, s"admission lost/duplicated rows: $sizes")
    assert(sizes.forall(_ <= 16L), s"a trigger exceeded the cap: $sizes")
    assert(sizes.length >= 7, s"cap did not split the backlog: $sizes")
  }

  test("kafkalog: a capped micro-batch on an 8-partition topic plans at most one task per core") {
    import graft.sources.EmbeddedTopicLog
    val root = tmpDir("kafkalog-pack")
    val topic = "pack.topic"
    val parts = 8
    // two produce calls, so capped batches span segment boundaries too
    val records = (0 until 400).map(i => (s"k${i % 37}", s"v$i"))
    records.grouped(200).foreach(EmbeddedTopicLog.produce(root, topic, _, parts))
    // where each record was produced: key-hash partition, dense offsets
    val next = Array.fill(parts)(0L)
    val produced = records.map { case (k, v) =>
      val p = math.floorMod(k.hashCode, parts)
      next(p) += 1
      v -> ((p, next(p) - 1))
    }.toMap

    val out = tmpDir("kafkalog-pack-out")
    val tasks = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("maxOffsetsPerTrigger", "50")
      .load()
      .selectExpr("CAST(value AS STRING) AS v", "partition", "offset")
      .writeStream
      .option("checkpointLocation", s"$out-ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        tasks.synchronized { tasks += b.rdd.getNumPartitions }
        b.write.parquet(s"$out/b=$id"); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(tasks.nonEmpty && tasks.forall(_ == 1),
      s"a capped batch of at most 50 records planned more than one task: $tasks")

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("v"), r.getAs[Int]("partition"), r.getAs[Long]("offset"),
        r.getAs[Int]("b")))
    assert(got.length === records.length, "capped batches lost or duplicated rows")
    got.foreach { case (v, p, off, _) =>
      assert(produced(v) === ((p, off)), s"$v read as partition $p offset $off")
    }
    // each batch is one contiguous [start, end) per partition, and the
    // batches tile every partition's log in order
    got.groupBy(_._2).foreach { case (p, rows) =>
      val ranges = rows.groupBy(_._4).toSeq.sortBy(_._1).map { case (_, bs) =>
        val offs = bs.map(_._3).sorted
        assert(offs.toSeq === (offs.head to offs.last).toSeq, s"gap in partition $p")
        (offs.head, offs.last + 1)
      }
      assert(ranges.head._1 === 0L && ranges.last._2 === next(p))
      ranges.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        assert(a._2 === b._1, s"partition $p: batches $a and $b do not abut")
      }
    }
    assert(got.map(_._4).distinct.length >= 8, "cap did not split the backlog")

    // the batch path plans the same way; a read starting mid-segment
    // replays exactly [start, end) of every partition
    val from = (0 until parts).map(p => p -> next(p) / 3).toMap
    val json = from.map { case (p, o) => s""""$p":$o""" }.mkString(s"""{"$topic":{""", ",", "}}")
    val mid = spark.read.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("startingOffsets", json).load()
      .selectExpr("CAST(value AS STRING) AS v", "partition", "offset")
    assert(mid.rdd.getNumPartitions === 1)
    val midRows = mid.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(midRows.map(r => (r._2, r._3)).toSet ===
      (0 until parts).flatMap(p => (from(p) until next(p)).map(o => (p, o))).toSet)
    assert(midRows.length === midRows.distinct.length)
    midRows.foreach { case (v, p, off) => assert(produced(v) === ((p, off))) }
  }

  test("kafkalog: Trigger.AvailableNow drains the pre-start backlog in maxOffsetsPerTrigger batches") {
    import graft.sources.EmbeddedTopicLog
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val root = tmpDir("kafkalog-avnow")
    val (topic, n, cap) = ("avnow.topic", 400, 60)
    EmbeddedTopicLog.produce(root, topic, (0 until n).map(i => (s"k${i % 23}", s"v$i")), 4)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("avnow", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext].getRootLogger
    logger.addAppender(appender)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("kafkalog")
      .option("path", root).option("topic", topic)
      .option("maxOffsetsPerTrigger", cap.toString)
      .load()
      .writeStream
      .option("checkpointLocation", s"$root-ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // records keep arriving after the query started
        if (id == 0L) EmbeddedTopicLog.produce(root, topic,
          (0 until 100).map(i => (s"k$i", s"late$i")), 4)
        batches.add(b.count()); ()
      }
      .start()
    try assert(q.awaitTermination(120000), "an AvailableNow query did not stop by itself")
    finally { q.stop(); logger.removeAppender(appender) }
    val sizes = batches.asScala.toSeq.filter(_ > 0)
    assert(sizes.size === (n + cap - 1) / cap && sizes.forall(_ <= cap), sizes)
    assert(sizes.sum === n, s"read ${sizes.sum} of the $n records there at start")
    assert(!warnings.asScala.exists(_.contains("Falling back to single batch")), warnings)
  }

  test("kafkalog: a batch plans one task per RecordsPerTask records, at most one per core") {
    import graft.sources.{EmbeddedTopicLog, KafkaLogMicroBatchStream, KafkaLogPlanner}
    val r = KafkaLogPlanner.RecordsPerTask.toInt
    val cores = spark.sparkContext.defaultParallelism
    val root = tmpDir("kafkalog-size")
    Seq(1 -> 1, r -> 1, (r + 1) -> 2, (cores * r + 1) -> cores).foreach { case (n, want) =>
      val topic = s"size$n"
      // null keys go round-robin over 8 partitions: no count above is capped by ranges
      EmbeddedTopicLog.produce(root, topic, (0 until n).map(i => (null: String, s"v$i")), 8)
      val batch = spark.read.format("kafkalog").option("path", root).option("topic", topic).load()
      assert(batch.rdd.getNumPartitions === want, s"batch read of $n records")
      assert(batch.count() === n)
      val stream = new KafkaLogMicroBatchStream(root, topic, "earliest")
      assert(stream.planInputPartitions(stream.initialOffset(), stream.reportLatestOffset())
        .length === want, s"micro-batch of $n records")
    }
  }

  test("kafkalog: a truncated segment throws EOFException and releases its file") {
    import graft.sources.EmbeddedTopicLog
    val root = tmpDir("kafkalog-trunc")
    val topic = "trunc.topic"
    EmbeddedTopicLog.produce(root, topic, (0 until 20).map(i => (null: String, s"value-$i")),
      partitions = 1)
    val seg = new java.io.File(root, s"$topic/p=0").listFiles()
      .filter(_.getName.endsWith(".bin")).head.toPath
    // cut inside the first record
    Files.write(seg, java.util.Arrays.copyOf(Files.readAllBytes(seg), 4 + 8 + 8 + 2))
    val e = intercept[Exception] {
      spark.read.format("kafkalog").option("path", root).option("topic", topic)
        .load().collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[java.io.EOFException]), s"not an EOF: $e")
    val open = Option(new java.io.File("/proc/self/fd").listFiles()).toSeq.flatten
      .flatMap(fd => scala.util.Try(Files.readSymbolicLink(fd.toPath)).toOption)
    assert(!open.exists(_.toString == seg.toRealPath().toString),
      s"$seg is still open after the failed read")
  }

  test("kafka arm end-to-end: produce -> offsets -> silver -> SCD1 gold, checkpoint restart") {
    import graft.sources.EmbeddedTopicLog
    import graft.cdc.Debezium
    val root = tmpDir("kafkalog")
    val topic = "graft.cdc.events"
    val goldPath = s"$root/gold"
    val ck = s"$root/ck"
    // the reference's integration test ships Debezium envelopes through a
    // topic and asserts the consumed silver/gold state
    // (test_debezium_integration.py:208-321); same shape here against the
    // embedded topic log behind the SAME "kafka" arm of readEnvelopeStream
    val envelopes = Debezium.synthEnvelope(spark, sf)
      .filter(col("event_id") <= 400)
      .select(col("event_id"), col("cdc_event")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0).toString, r.getString(1)))
    val (batch1, batch2) = envelopes.splitAt(250)
    EmbeddedTopicLog.produce(root, topic, batch1.toSeq, partitions = 3)
    def startPipeline() = {
      val stream = graft.sources.AvroEnvelope.readEnvelopeStream(spark, "kafka",
        Map("kafka.bootstrap.servers" -> s"embedded://$root",
          "subscribe" -> topic, "startingOffsets" -> "earliest"))
      val silver = Debezium.parseEnvelope(stream, "cdc_event")
      silver.writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.BucketedGold.appendBatch(spark,
            graft.streaming.Medallion.goldProjection(b), goldPath, id); ()
        }
        .queryName(s"kafka_e2e_${java.util.UUID.randomUUID().toString.take(8)}")
        .start()
    }
    // batch 1 is produced before the start, so the first trigger reads it
    val q1 = startPipeline()
    try {
      q1.processAllAvailable()
      // batch 1 consumed through Kafka offset semantics
      assert(graft.streaming.BucketedGold.read(spark, goldPath).count() > 0)
      // produce while running: a later trigger picks up ONLY the delta. A
      // trigger already past its offset probe can end processAllAvailable
      // before reading it; the restart below then resumes at the
      // checkpointed offsets, and a batch cut by stop() replays under its id
      EmbeddedTopicLog.produce(root, topic, batch2.toSeq, partitions = 3)
      q1.processAllAvailable()
    } finally q1.stop()
    // kill/restart on the SAME checkpoint: committed offsets resume — a
    // replayed trigger replaces its own delta, nothing double-applies.
    // The redelivered last envelope is produced while the query is down,
    // so every trigger of q2 sees it and processAllAvailable returns only
    // once it is applied
    EmbeddedTopicLog.produce(root, topic,
      Seq(("409", batch2.last._2)), partitions = 3) // redeliver last envelope
    val q2 = startPipeline()
    try q2.processAllAvailable() finally q2.stop()
    // gold == the declarative latest-per-key fold over the same slice
    // (the batch-path truth the medallion oracle also uses)
    val expected = scd1Reference(graft.cdc.Cdc.log(spark, sf)
      .filter(col("event_id") <= 400)
      .withColumn("ts_us", expr("(seq_us DIV 1000) * 1000")))
    val gold = graft.streaming.BucketedGold.read(spark, goldPath)
    assert(gold.count() == expected.count(),
      s"gold ${gold.count()} vs expected ${expected.count()}")
    val mismatch = gold.select(col("user_id"), col("event_id"))
      .join(expected.select(col("user_id"), col("event_id")),
        Seq("user_id", "event_id"), "full_outer")
      .filter(col("user_id").isNull || col("event_id").isNull)
    assert(mismatch.count() == 0)
    // per-key ordering contract: a key's records all share one partition
    val raw = spark.read.format("kafkalog")
      .option("path", root).option("topic", topic).load()
    assert(raw.count() == envelopes.length + 1)
    val multiPart = raw.selectExpr("CAST(key AS STRING) AS k", "partition")
      .groupBy("k").agg(countDistinct(col("partition")).as("np"))
      .filter(col("np") > 1)
    assert(multiPart.count() == 0, "a key spread across partitions")
    // offsets are dense per partition from 0
    val offs = raw.groupBy("partition")
      .agg(min("offset").as("lo"), max("offset").as("hi"), count(lit(1)).as("n"))
      .collect()
    offs.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(3) == r.getLong(2) + 1,
        s"offset gap in partition ${r.getInt(0)}: $r")
    }
  }

  test("BenchStream latency mode: produce-to-gold-visible samples measured after warmup") {
    // miniature run: 2s warmup + 6s measure at 500 ev/s — enough batches
    // for several post-warmup chunk drains on this harness; exercises
    // both the default trigger and a ProcessingTime trigger arm
    val (p50, p95, avg, n, _) = graft.BenchStream.latencyOnce(spark,
      triggerMs = -1L, warmupSec = 2, measureSec = 6, keySpace = 1000,
      partitions = 2, ratePerSec = 500)
    assert(n > 0, "latency mode measured zero samples")
    assert(p50 > 0 && avg > 0 && p95 >= p50,
      s"nonsensical latency stats: p50=$p50 p95=$p95 avg=$avg")
    val (p50t, _, _, nt, _) = graft.BenchStream.latencyOnce(spark,
      triggerMs = 200L, warmupSec = 2, measureSec = 6, keySpace = 1000,
      partitions = 2, ratePerSec = 500)
    assert(nt > 0 && p50t > 0, "triggered latency arm measured nothing")
  }

  test("BenchStream gold path: multi-batch SCD1 equals a one-shot replay") {
    // pins the throughput harness (#BENCH_STREAM.json): same producer
    // chunks, same silver projection, same admission-controlled gold
    // query — at toy scale, against a brute-force single-pass oracle
    import graft.sources.EmbeddedTopicLog
    val root = tmpDir("benchstream")
    val (logRoot, topic) = (s"$root/log", "bench_cdc")
    // small keyspace → heavy per-key collision (updates AND deletes land
    // on keys that already have state)
    (0 until 3).foreach { b =>
      EmbeddedTopicLog.produce(logRoot, topic,
        BenchStream.chunk(b * 1000L, 1000, keySpace = 97), partitions = 4)
    }
    val q = BenchStream.startGoldQuery(spark, logRoot, topic,
      s"$root/gold", s"$root/ckpt", maxPerTrigger = 700L)
    try q.processAllAvailable() finally q.stop()
    // admission control actually split the log into several micro-batches
    // (the incremental-apply path is what ran, not one big batch)
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(nBatches >= 4, s"expected >=4 admission-controlled batches, got $nBatches")
    // oracle: one-shot latest-per-key over the SAME silver projection
    val raw = spark.read.format("kafkalog")
      .option("path", logRoot).option("topic", topic).load()
    val expected = scd1Reference(BenchStream.silver(raw))
      .select("user_id", "operation", "ts_us", "event_id", "value")
      .collect().map(_.toSeq).toSet
    graft.streaming.BucketedGold.awaitCompactions()
    val got = graft.streaming.BucketedGold.read(spark, s"$root/gold")
      .select("user_id", "operation", "ts_us", "event_id", "value")
      .collect().map(_.toSeq).toSet
    assert(got === expected,
      s"gold diverged: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
    // delete semantics actually exercised: some keys' latest op is DELETE
    // and they are absent from gold
    val deleted = BenchStream.silver(raw).select("user_id")
      .except(scd1Reference(BenchStream.silver(raw)).select("user_id"))
      .collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "op mix planted no final deletes — weak test")
    assert(got.forall(r => !deleted.contains(r.head.asInstanceOf[Long])))
  }

  test("gold recovery: kill, restart from checkpoint, mid-swap crash — exactly-once state") {
    import graft.sources.EmbeddedTopicLog
    val root = tmpDir("benchrec")
    val (logRoot, topic) = (s"$root/log", "bench_cdc_rec")
    val (gold, ckpt) = (s"$root/gold", s"$root/ckpt")
    def expectedState(): Set[Seq[Any]] = {
      val raw = spark.read.format("kafkalog")
        .option("path", logRoot).option("topic", topic).load()
      scd1Reference(BenchStream.silver(raw))
        .select("user_id", "operation", "ts_us", "event_id", "value")
        .collect().map(_.toSeq).toSet
    }
    def goldState(): Set[Seq[Any]] = {
      graft.streaming.BucketedGold.awaitCompactions()
      graft.streaming.BucketedGold.read(spark, gold)
        .select("user_id", "operation", "ts_us", "event_id", "value")
        .collect().map(_.toSeq).toSet
    }
    // phase 1: ingest two blocks, then KILL the query
    (0 until 2).foreach { b =>
      EmbeddedTopicLog.produce(logRoot, topic,
        BenchStream.chunk(b * 1000L, 1000, keySpace = 97), partitions = 4)
    }
    val q1 = BenchStream.startGoldQuery(spark, logRoot, topic, gold, ckpt,
      maxPerTrigger = 700L)
    try q1.processAllAvailable() finally q1.stop() // kill mid-stream
    // phase 2: upstream keeps producing through the outage
    (2 until 4).foreach { b =>
      EmbeddedTopicLog.produce(logRoot, topic,
        BenchStream.chunk(b * 1000L, 1000, keySpace = 97), partitions = 4)
    }
    // phase 3: restart from the SAME checkpoint — resumes at the committed
    // offsets, replays nothing already applied, loses nothing
    val q2 = BenchStream.startGoldQuery(spark, logRoot, topic, gold, ckpt,
      maxPerTrigger = 700L)
    try q2.processAllAvailable() finally q2.stop()
    assert(goldState() === expectedState(),
      "gold state diverged across kill/restart")
    // phase 4: the bucketed gold's crash windows. (a) a crash INSIDE a
    // delta write leaves files no `_log` version lists — invisible to
    // readers and harmless to the replay; (b) rows already folded into
    // the base that come back as a delta (a replay landing after the
    // fold) — the re-merge must be a latest-per-key no-op.
    val crashed = new java.io.File(gold + "/delta/bcrashed-000000000999-00000000")
    crashed.mkdirs()
    Files.write(new java.io.File(crashed, "part-00000-x.parquet").toPath, "torn".getBytes("UTF-8"))
    graft.streaming.BucketedGold.compact(spark, gold)
    val folded = goldState()
    // re-inject the full folded state as a delta
    graft.streaming.BucketedGold.appendBatch(spark,
      graft.streaming.BucketedGold.read(spark, gold), gold, 998L)
    EmbeddedTopicLog.produce(logRoot, topic,
      BenchStream.chunk(4000L, 1000, keySpace = 97), partitions = 4)
    val q3 = BenchStream.startGoldQuery(spark, logRoot, topic, gold, ckpt,
      maxPerTrigger = 700L)
    try q3.processAllAvailable() finally q3.stop()
    assert(goldState() === expectedState(),
      "crash-window recovery diverged (torn delta write or re-folded rows)")
    assert(folded.nonEmpty, "compaction folded an empty state — weak test")
  }
}
