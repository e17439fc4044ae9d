package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.streaming.{BucketedGold, CdcStreams}

/** The log-structured bucketed gold target (round-9 latency-floor fix):
  * commit = O(batch) delta append, query = merge-on-read SCD1, compaction
  * folds deltas into touched buckets only. Pins equivalence with the
  * full-rewrite `applyCdcBatch`, replay idempotence, tombstone semantics'
  * independence from compaction timing, and the pruned-bucket rewrite.
  */
class BucketedGoldSpec extends SparkSpec {

  private def batchDF(rows: (Long, String, Long, Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "operation", "ts_us", "event_id", "value")
  }

  private def stateSet(df: DataFrame): Set[(Long, String, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSet

  /** The SCD1 state of `rows` computed directly: latest per key by
    * (ts_us, event_id), deleted keys dropped.
    */
  private def expectedState(rows: Seq[(Long, String, Long, Long, Double)]) =
    rows.groupBy(_._1).values.map(_.maxBy(r => (r._3, r._4)))
      .filter(_._2 != "DELETE").toSet

  private def keyBatch(i: Int) = (0 until 25).map { k =>
    val key = (i * 7L + k * 13L) % 300
    (key, if (k % 11 == 5) "DELETE" else "UPDATE", 1000L * i + k, 1000L * i + k, i + k / 10.0)
  }

  test("a read's fixed cost is flat in the delta count: no listing or schema-inference job") {
    val root = Files.createTempDirectory("bg-flat").toString
    val gold = s"$root/gold"
    var rows = Seq.empty[(Long, String, Long, Long, Double)]
    def appendUpTo(n: Int): Unit = (rows.size / 25 until n).foreach { i =>
      BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold, i.toLong,
        compactEvery = 1000)
      rows ++= keyBatch(i)
    }
    // a user's read: build the merged state, then collect it
    def readJobs(): Seq[String] = {
      val (df, built) = jobsOf(BucketedGold.read(spark, gold))
      assert(built.isEmpty, s"building the read ran jobs: $built")
      val (state, ran) = jobsOf(stateSet(df))
      assert(state === expectedState(rows))
      assert(!ran.exists(_.startsWith("Listing leaf files")), s"listing job: $ran")
      ran
    }
    appendUpTo(8)
    val at8 = readJobs()
    appendUpTo(40) // past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    assert(new java.io.File(s"$gold/delta").listFiles().count(_.isDirectory) === 40)
    val at40 = readJobs()
    assert(at8.size === at40.size, s"8 deltas: $at8; 40 deltas: $at40")
  }

  test("a compacted 64-bucket base plus deltas reads with no listing or schema-inference job") {
    val root = Files.createTempDirectory("bg-flat-base").toString
    val gold = s"$root/gold"
    val seed = (0L until 600L).map(i => (i, "INSERT", i, i, i * 0.5))
    BucketedGold.appendBatch(spark, batchDF(seed: _*), gold, 0L, compactEvery = 1000)
    BucketedGold.compact(spark, gold) // the default 64 buckets
    val buckets = new java.io.File(s"$gold/base").listFiles().count(_.getName.startsWith("bucket="))
    assert(buckets === 64)
    val later = (1 to 3).flatMap { i =>
      val b = keyBatch(i).map { case (k, op, ts, id, v) => (k, op, ts + 1000, id + 1000, v) }
      BucketedGold.appendBatch(spark, batchDF(b: _*), gold, i.toLong, compactEvery = 1000)
      b
    }
    val (df, built) = jobsOf(BucketedGold.read(spark, gold))
    assert(built.isEmpty, s"building the read ran jobs: $built")
    val (state, ran) = jobsOf(stateSet(df))
    assert(!ran.exists(_.startsWith("Listing leaf files")), s"listing job: $ran")
    assert(state === expectedState(seed ++ later))
    // a compaction onto that base lists nothing in parallel either
    val (_, compacted) = jobsOf(BucketedGold.compact(spark, gold))
    assert(!compacted.exists(_.startsWith("Listing leaf files")), s"listing job: $compacted")
    assert(stateSet(BucketedGold.read(spark, gold)) === state)
  }

  test("a batch with other column types is stored in the fixed state schema") {
    import spark.implicits._
    val gold = s"${Files.createTempDirectory("bg-types")}/gold"
    val other = Seq((1, "INSERT", 10, 1, BigDecimal("1.5")), (2, "INSERT", 11, 2, BigDecimal("2.5")))
      .toDF("user_id", "operation", "ts_us", "event_id", "value")
    BucketedGold.appendBatch(spark, other, gold, 0L)
    BucketedGold.appendBatch(spark, batchDF((1L, "UPDATE", 20L, 3L, 3.0)), gold, 1L)
    val read = BucketedGold.read(spark, gold)
    assert(read.schema.map(f => f.name -> f.dataType) ===
      BucketedGold.stateSchema.map(f => f.name -> f.dataType))
    assert(stateSet(read) === Set((1L, "UPDATE", 20L, 3L, 3.0), (2L, "INSERT", 11L, 2L, 2.5)))
  }

  test("a non-file default filesystem does not redirect a file: gold root") {
    val root = "file:" + Files.createTempDirectory("bg-defaultfs").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Option(conf.get("fs.defaultFS", null))
    // a scheme with no filesystem: any lookup of the default one fails loudly
    conf.set("fs.defaultFS", "graftnofs:///")
    try {
      val b1 = batchDF((1L, "INSERT", 10L, 1L, 1.0), (2L, "INSERT", 11L, 2L, 2.0))
      val b2 = batchDF((1L, "DELETE", 20L, 3L, 0.0), (3L, "INSERT", 21L, 4L, 3.0))
      Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
        BucketedGold.appendBatch(spark, b, s"$root/gold", i.toLong, numBuckets = 8)
        CdcStreams.applyCdcBatch(spark, b, s"$root/flat")
      }
      BucketedGold.compact(spark, s"$root/gold", numBuckets = 8)
      val want = Set((2L, "INSERT", 11L, 2L, 2.0), (3L, "INSERT", 21L, 4L, 3.0))
      assert(stateSet(BucketedGold.read(spark, s"$root/gold")) === want)
      assert(stateSet(spark.read.parquet(s"$root/flat")
        .select("user_id", "operation", "ts_us", "event_id", "value")) === want)
    } finally saved match {
      case Some(v) => conf.set("fs.defaultFS", v)
      case None => conf.unset("fs.defaultFS")
    }
  }

  test("append+read matches the full-rewrite applyCdcBatch state") {
    val root = Files.createTempDirectory("bg-eq").toString
    val flat = s"$root/flat"
    val b1 = batchDF((1L, "INSERT", 10L, 1L, 1.0), (2L, "INSERT", 11L, 2L, 2.0),
      (3L, "INSERT", 12L, 3L, 3.0))
    val b2 = batchDF((1L, "UPDATE", 20L, 4L, 1.5), (2L, "DELETE", 21L, 5L, 0.0),
      (4L, "INSERT", 22L, 6L, 4.0))
    val b3 = batchDF((3L, "UPDATE", 30L, 7L, 3.5), (4L, "UPDATE", 31L, 8L, 4.5))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      BucketedGold.appendBatch(spark, b, s"$root/gold", i.toLong, numBuckets = 8)
      CdcStreams.applyCdcBatch(spark, b, flat)
    }
    val bucketed = stateSet(BucketedGold.read(spark, s"$root/gold"))
    val rewrite = stateSet(spark.read.parquet(flat)
      .select("user_id", "operation", "ts_us", "event_id", "value"))
    assert(bucketed === rewrite)
    assert(bucketed.map(_._1) === Set(1L, 3L, 4L)) // user 2 deleted
  }

  test("a first apply on a fresh path posts no failed query after an Observation-bearing commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("bg-fresh").toString
    val sentinel = s"sentinel-${System.nanoTime}"
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = if (qe.logical.toString.contains(sentinel)) drained.countDown()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = failed.add(s"$f: ${e.getMessage}")
    }
    spark.listenerManager.register(listener)
    try {
      // the commit registers the session's Observation listener
      BucketedGold.appendBatch(spark, batchDF((1L, "INSERT", 10L, 1L, 1.0)), s"$root/gold", 0L)
      CdcStreams.applyCdcBatch(spark, batchDF((1L, "INSERT", 10L, 1L, 1.0)), s"$root/flat")
      CdcStreams.applyCdcBatchMultiTable(spark,
        Seq(("orders", "1", 1L, "INSERT", "{}")).toDF("src_table", "entity_key", "seq",
          "operation", "payload"), s"$root/mtm")
      // listener events arrive in order: the sentinel's success comes last
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(failed.isEmpty, s"failed queries posted: $failed")
    assert(spark.read.parquet(s"$root/flat").count() === 1)
    assert(spark.read.parquet(s"$root/mtm").count() === 1)
  }

  test("a kafkalog micro-batch below RecordsPerTask records commits one data file") {
    import graft.sources.{EmbeddedTopicLog, KafkaLogPlanner}
    val root = Files.createTempDirectory("bg-onefile").toString
    val n = 300
    assert(n < KafkaLogPlanner.RecordsPerTask)
    EmbeddedTopicLog.produce(s"$root/log", "t", (0 until n).map(i => (s"${i % 50}", s"$i")),
      partitions = 8)
    val gold = s"$root/gold"
    val q = spark.readStream.format("kafkalog")
      .option("path", s"$root/log").option("topic", "t").load()
      .selectExpr("CAST(CAST(key AS STRING) AS LONG) AS user_id", "'UPDATE' AS operation",
        "offset AS ts_us", "CAST(CAST(value AS STRING) AS LONG) AS event_id",
        "CAST(offset AS DOUBLE) AS value")
      .writeStream
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch { (b: DataFrame, id: Long) =>
        BucketedGold.appendBatch(spark, b, gold, id); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val deltas = new java.io.File(s"$gold/delta").listFiles().filter(_.isDirectory)
    assert(deltas.length === 1)
    val files = deltas.head.listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.length === 1, s"one micro-batch of $n records wrote ${files.toSeq}")
    assert(BucketedGold.read(spark, gold).count() === 50)
  }

  test("compaction changes nothing a reader can see, and GC'd deltas are gone") {
    val root = Files.createTempDirectory("bg-compact").toString
    val gold = s"$root/gold"
    (0 until 6).foreach { i =>
      val op = if (i == 3) "DELETE" else "UPDATE"
      BucketedGold.appendBatch(spark, batchDF(
        (i.toLong % 3, op, 100L + i, i.toLong, i * 1.0),
        (100L + i, "INSERT", 100L + i, 1000L + i, i * 2.0)),
        gold, i.toLong, numBuckets = 8, compactEvery = 1000)
    }
    val before = stateSet(BucketedGold.read(spark, gold))
    BucketedGold.compact(spark, gold, numBuckets = 8)
    val after = stateSet(BucketedGold.read(spark, gold))
    assert(before === after)
    // folded deltas survive ONE grace cycle (so concurrent readers'
    // listings stay valid), then the next compaction retires them
    val deltaDir = new java.io.File(s"$gold/delta")
    assert(deltaDir.listFiles().exists(_.isDirectory),
      "folded deltas should persist through the grace cycle")
    assert(stateSet(BucketedGold.read(spark, gold)) === before) // dedup'd
    BucketedGold.compact(spark, gold, numBuckets = 8)
    assert(!deltaDir.exists() || deltaDir.listFiles().forall(!_.isDirectory))
    assert(stateSet(BucketedGold.read(spark, gold)) === before)
    assert(new java.io.File(s"$gold/base").listFiles()
      .exists(_.getName.startsWith("bucket=")))
  }

  test("replayed batch id replaces its own delta — exactly-once under replay") {
    val root = Files.createTempDirectory("bg-replay").toString
    val gold = s"$root/gold"
    val b = batchDF((7L, "INSERT", 10L, 1L, 7.0))
    BucketedGold.appendBatch(spark, b, gold, 0L)
    // crash-and-replay: the SAME batch commits again under the same id
    BucketedGold.appendBatch(spark, b, gold, 0L)
    assert(BucketedGold.read(spark, gold).count() === 1)
    // and a crash between compaction's base commit and delta retirement
    // re-merges already-folded rows: simulate by compacting twice with a
    // stale delta copy re-injected
    BucketedGold.compact(spark, gold, numBuckets = 8)
    BucketedGold.appendBatch(spark, b, gold, 0L) // the "unretired" delta
    BucketedGold.compact(spark, gold, numBuckets = 8)
    assert(stateSet(BucketedGold.read(spark, gold)) ===
      Set((7L, "INSERT", 10L, 1L, 7.0)))
  }

  test("tombstones shadow late pre-delete events across compaction timing") {
    // key deleted at ts=100; a straggler UPDATE with ts=50 arrives later.
    // Merge-on-read keeps the DELETE as latest -> key stays gone, and
    // because compaction RETAINS tombstones the answer is the same
    // whether the straggler lands before or after a compaction.
    Seq(true, false).foreach { compactBetween =>
      val root = Files.createTempDirectory("bg-tomb").toString
      val gold = s"$root/gold"
      BucketedGold.appendBatch(spark, batchDF(
        (5L, "INSERT", 10L, 1L, 5.0), (6L, "INSERT", 11L, 2L, 6.0)), gold, 0L)
      BucketedGold.appendBatch(spark, batchDF((5L, "DELETE", 100L, 3L, 0.0)), gold, 1L)
      if (compactBetween) BucketedGold.compact(spark, gold, numBuckets = 8)
      BucketedGold.appendBatch(spark, batchDF((5L, "UPDATE", 50L, 4L, 5.5)), gold, 2L)
      val users = BucketedGold.read(spark, gold).collect().map(_.getLong(0)).toSet
      assert(users === Set(6L), s"compactBetween=$compactBetween")
    }
  }

  test("tombstone GC drops old deletes; a GC'd straggler may resurrect (documented)") {
    val root = Files.createTempDirectory("bg-gc").toString
    val gold = s"$root/gold"
    BucketedGold.appendBatch(spark, batchDF((9L, "DELETE", 100L, 1L, 0.0)), gold, 0L)
    BucketedGold.compact(spark, gold, numBuckets = 8,
      gcTombstonesBeforeUs = Some(200L))
    // tombstone physically gone: state empty, and the emptied bucket dir
    // was deleted (dynamic overwrite alone would have left it stale)
    assert(BucketedGold.read(spark, gold).count() === 0)
    val baseDir = new java.io.File(s"$gold/base")
    assert(!baseDir.exists() ||
      !baseDir.listFiles().exists(_.getName.startsWith("bucket=")))
  }

  test("empty micro-batch skips job-free and commits nothing") {
    val root = Files.createTempDirectory("bg-empty").toString
    val gold = s"$root/gold"
    assert(BucketedGold.appendBatch(spark, batchDF((1L, "INSERT", 1L, 1L, 1.0)),
      gold, 0L))
    val deltaDir = new java.io.File(s"$gold/delta")
    val deltasBefore = deltaDir.listFiles().map(_.getName).toSet
    // zero-partition plan (the empty-trigger-cycle shape): probe fires
    // before any job, no scratch dir is ever created, returns false
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      batchDF((1L, "INSERT", 1L, 1L, 1.0)).schema)
    assert(!BucketedGold.appendBatch(spark, empty, gold, 1L))
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      === jobsBefore, "empty-plan probe must not launch a Spark job")
    // zero ROWS behind a non-empty plan: caught by the row count observed
    // on the write itself, still no commit
    assert(!BucketedGold.appendBatch(spark,
      batchDF((1L, "INSERT", 1L, 1L, 1.0)).filter("user_id < 0"), gold, 2L))
    assert(deltaDir.listFiles().map(_.getName).toSet === deltasBefore)
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.startsWith(".scratch")), "no scratch left behind")
  }

  test("a failed async compaction surfaces from awaitCompactions") {
    val root = Files.createTempDirectory("bg-async-fail").toString
    val gold = s"$root/gold"
    BucketedGold.appendBatch(spark, batchDF((1L, "INSERT", 1L, 1L, 1.0)), gold, 0L,
      numBuckets = 8, compactEvery = 1000)
    // a corrupt part file in every base bucket: the compaction's base read
    // fails whichever buckets its partition filter keeps
    (0 until 8).foreach { b =>
      val bucket = new java.io.File(s"$gold/base/bucket=$b")
      bucket.mkdirs()
      Files.write(new java.io.File(bucket, "part-00000-corrupt.parquet").toPath,
        "not parquet".getBytes("UTF-8"))
    }
    assert(BucketedGold.appendBatch(spark, batchDF((2L, "INSERT", 2L, 2L, 2.0)), gold, 1L,
      numBuckets = 8, compactEvery = 1, compactAsync = true),
      "the delta commit itself does not wait on the compaction")
    intercept[Exception](BucketedGold.awaitCompactions())
    // reported once: the in-flight map was cleared
    BucketedGold.awaitCompactions()
  }

  test("an async compaction runs outside the committing thread's job group") {
    // a streaming query commits from a thread in its own job group, and
    // stopping the query cancels that group: a compaction carrying it dies
    val gold = Files.createTempDirectory("bg-async-group").toString + "/gold"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val committer = new Thread(() => {
        spark.sparkContext.setJobGroup("bg-committer", "commits a stopped query cancels")
        (0 until 3).foreach(i => BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*),
          gold, i.toLong, numBuckets = 8, compactEvery = 3, compactAsync = true))
      })
      committer.start(); committer.join()
      BucketedGold.awaitCompactions()
      // listener events are async: wait for the compaction's jobs to land
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.contains(None) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(groups.contains(Some("bg-committer")), s"commit jobs: $groups")
      assert(groups.contains(None), s"compaction jobs ran in a job group: $groups")
      assert(stateSet(BucketedGold.read(spark, gold)) ==
        expectedState((0 until 3).flatMap(keyBatch)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("compact sweeps stale foreign-app scratch dirs, keeps own and fresh ones") {
    val root = Files.createTempDirectory("bg-scratch").toString
    val gold = s"$root/gold"
    BucketedGold.appendBatch(spark, batchDF((1L, "INSERT", 1L, 1L, 1.0)), gold, 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val appScr = sanitizedAppScratch(gold, 99L) // own app, crash leftover
    val foreignOld = new org.apache.hadoop.fs.Path(s"$gold/.scratch-deadapp-b7")
    val legacyOld = new org.apache.hadoop.fs.Path(s"$gold/.scratch-b3")
    val foreignFresh = new org.apache.hadoop.fs.Path(s"$gold/.scratch-liveapp-b1")
    Seq(appScr, foreignOld, legacyOld, foreignFresh).foreach(fs.mkdirs(_))
    val old = System.currentTimeMillis() - 16L * 60 * 1000
    Seq(appScr, foreignOld, legacyOld).foreach(fs.setTimes(_, old, -1))
    BucketedGold.compact(spark, gold, numBuckets = 8)
    assert(!fs.exists(foreignOld), "stale foreign scratch must be swept")
    assert(!fs.exists(legacyOld), "stale legacy-name scratch must be swept")
    assert(fs.exists(foreignFresh), "fresh foreign scratch must survive (grace)")
    assert(fs.exists(appScr), "own-app scratch is owned by appendBatch, not swept")
  }

  private def sanitizedAppScratch(gold: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(s"$gold/.scratch-" +
      spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "") +
      s"-b$batchId")

  test("compaction rewrites only the buckets the deltas touch") {
    val root = Files.createTempDirectory("bg-prune").toString
    val gold = s"$root/gold"
    // seed many keys across buckets, compact to a full base
    val seed = (0L until 64L).map(i => (i, "INSERT", 10L + i, i, i * 1.0))
    BucketedGold.appendBatch(spark, batchDF(seed: _*), gold, 0L, numBuckets = 8)
    BucketedGold.compact(spark, gold, numBuckets = 8)
    def baseFiles(): Map[String, Set[String]] =
      new java.io.File(s"$gold/base").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = baseFiles()
    assert(before.size > 1, "seed should span several buckets")
    // one-key delta -> exactly one touched bucket
    BucketedGold.appendBatch(spark, batchDF((3L, "UPDATE", 999L, 999L, 3.5)),
      gold, 1L, numBuckets = 8)
    BucketedGold.compact(spark, gold, numBuckets = 8)
    val after = baseFiles()
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size === 1, s"expected 1 rewritten bucket, got $changed")
    assert(stateSet(BucketedGold.read(spark, gold))
      .contains((3L, "UPDATE", 999L, 999L, 3.5)))
  }
}
