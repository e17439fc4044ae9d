package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.streaming.{BucketedGold, CdcStreams}

/** The log-structured bucketed gold target (round-9 latency-floor fix):
  * commit = O(batch) delta append plus one `_log` version, query =
  * merge-on-read SCD1 over one version's files, compaction = one job into a
  * data-sized base. Pins equivalence with the directly computed SCD1 state
  * ([[SparkSpec.scd1Reference]]), replay idempotence, tombstone semantics'
  * independence from compaction timing, the pruned-bucket rewrite, the job
  * counts, pinned reads under compaction and GC, and concurrent commits.
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

  test("a compacted base plus deltas reads with no listing or schema-inference job") {
    val root = Files.createTempDirectory("bg-flat-base").toString
    val gold = s"$root/gold"
    val seed = (0L until 600L).map(i => (i, "INSERT", i, i, i * 0.5))
    BucketedGold.appendBatch(spark, batchDF(seed: _*), gold, 0L, compactEvery = 1000)
    BucketedGold.compact(spark, gold)
    // 600 rows fit one bucket: the base is one file
    val base = BucketedGold.snapshot(spark, gold)
    assert(base.buckets === 1 && base.base.map(_.rows) === Seq(600L), base)
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
        BucketedGold.appendBatch(spark, b, s"$root/gold", i.toLong)
      }
      BucketedGold.compact(spark, s"$root/gold")
      val want = Set((2L, "INSERT", 11L, 2L, 2.0), (3L, "INSERT", 21L, 4L, 3.0))
      assert(stateSet(BucketedGold.read(spark, s"$root/gold")) === want)
      assert(stateSet(scd1Reference(b1.unionByName(b2))) === want)
    } finally saved match {
      case Some(v) => conf.set("fs.defaultFS", v)
      case None => conf.unset("fs.defaultFS")
    }
  }

  test("append+read matches the directly computed SCD1 state") {
    val root = Files.createTempDirectory("bg-eq").toString
    val b1 = batchDF((1L, "INSERT", 10L, 1L, 1.0), (2L, "INSERT", 11L, 2L, 2.0),
      (3L, "INSERT", 12L, 3L, 3.0))
    val b2 = batchDF((1L, "UPDATE", 20L, 4L, 1.5), (2L, "DELETE", 21L, 5L, 0.0),
      (4L, "INSERT", 22L, 6L, 4.0))
    val b3 = batchDF((3L, "UPDATE", 30L, 7L, 3.5), (4L, "UPDATE", 31L, 8L, 4.5))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      BucketedGold.appendBatch(spark, b, s"$root/gold", i.toLong)
    }
    val bucketed = stateSet(BucketedGold.read(spark, s"$root/gold"))
    assert(bucketed === stateSet(scd1Reference(b1.unionByName(b2).unionByName(b3))))
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
      CdcStreams.applyCdcBatchMultiTable(spark,
        Seq(("orders", "1", 1L, "INSERT", "{}")).toDF("src_table", "entity_key", "seq",
          "operation", "payload"), s"$root/mtm")
      // listener events arrive in order: the sentinel's success comes last
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(failed.isEmpty, s"failed queries posted: $failed")
    assert(stateSet(BucketedGold.read(spark, s"$root/gold")) ===
      stateSet(scd1Reference(batchDF((1L, "INSERT", 10L, 1L, 1.0)))))
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
        gold, i.toLong, compactEvery = 1000)
    }
    val before = stateSet(BucketedGold.read(spark, gold))
    val folded = BucketedGold.snapshot(spark, gold).deltas.flatMap(_.files.map(_.path))
    BucketedGold.compact(spark, gold)
    // a read right after the compaction opens only the new version's files
    val after = BucketedGold.read(spark, gold)
    val opened = after.inputFiles.map(p => p.substring(p.indexOf("/gold/") + 6)).toSet
    val latest = BucketedGold.snapshot(spark, gold)
    assert(latest.deltas.isEmpty && opened === latest.base.map(_.path).toSet, opened)
    assert(stateSet(after) === before)
    // the folded deltas stay on disk through retention, for pinned readers
    val deltaDir = new java.io.File(s"$gold/delta")
    assert(folded.forall(p => new java.io.File(s"$gold/$p").exists()))
    // past retention (0 here) GC deletes them and the superseded versions
    BucketedGold.gc(spark, gold, retentionMs = 0L)
    assert(!deltaDir.exists() || deltaDir.listFiles().forall(!_.isDirectory))
    assert(new java.io.File(s"$gold/_log").list().filterNot(_.startsWith(".")).toSeq ===
      Seq(s"v${latest.version}.json"))
    assert(stateSet(BucketedGold.read(spark, gold)) === before)
    assert(latest.base.forall(b => new java.io.File(s"$gold/${b.path}").exists()))
  }

  test("a root that never compacts keeps at most two versions in _log") {
    val root = Files.createTempDirectory("bg-log").toString
    val gold = s"$root/gold"
    try {
      (0 until 40).foreach(i => BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold,
        i.toLong, compactEvery = Int.MaxValue))
      val versions = new java.io.File(s"$gold/_log").list()
        .filter(n => n.startsWith("v") && n.endsWith(".json")).sorted.toSeq
      assert(versions === Seq("v38.json", "v39.json"))
      assert(stateSet(BucketedGold.read(spark, gold)) === expectedState((0 until 40).flatMap(keyBatch)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("replayed batch id replaces its own delta — exactly-once under replay") {
    val root = Files.createTempDirectory("bg-replay").toString
    val gold = s"$root/gold"
    val b = batchDF((7L, "INSERT", 10L, 1L, 7.0))
    BucketedGold.appendBatch(spark, b, gold, 0L)
    // crash-and-replay: the SAME batch commits again under the same id
    BucketedGold.appendBatch(spark, b, gold, 0L)
    assert(BucketedGold.read(spark, gold).count() === 1)
    assert(BucketedGold.snapshot(spark, gold).deltas.size === 1)
    // a replay that lands after its delta was folded re-merges rows the
    // base already holds: a latest-per-key no-op
    BucketedGold.compact(spark, gold)
    BucketedGold.appendBatch(spark, b, gold, 0L)
    BucketedGold.compact(spark, gold)
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
      if (compactBetween) BucketedGold.compact(spark, gold)
      BucketedGold.appendBatch(spark, batchDF((5L, "UPDATE", 50L, 4L, 5.5)), gold, 2L)
      val users = BucketedGold.read(spark, gold).collect().map(_.getLong(0)).toSet
      assert(users === Set(6L), s"compactBetween=$compactBetween")
    }
  }

  test("tombstone GC drops old deletes; a GC'd straggler may resurrect (documented)") {
    val root = Files.createTempDirectory("bg-gc").toString
    val gold = s"$root/gold"
    BucketedGold.appendBatch(spark, batchDF((9L, "DELETE", 100L, 1L, 0.0)), gold, 0L)
    BucketedGold.compact(spark, gold, gcTombstonesBeforeUs = Some(200L))
    // tombstone physically gone: state empty, and the version lists no
    // base file for the emptied bucket
    assert(BucketedGold.read(spark, gold).count() === 0)
    val s = BucketedGold.snapshot(spark, gold)
    assert(s.base.isEmpty && s.deltas.isEmpty, s)
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
    assert(deltaDir.listFiles().map(_.getName).toSet === deltasBefore,
      "no delta dir left behind")
    assert(BucketedGold.snapshot(spark, gold).version === 0L, "no version committed")
  }

  test("a failed async compaction surfaces from awaitCompactions") {
    val root = Files.createTempDirectory("bg-async-fail").toString
    val gold = s"$root/gold"
    BucketedGold.appendBatch(spark, batchDF((1L, "INSERT", 1L, 1L, 1.0)), gold, 0L,
      compactEvery = 1000)
    // the first delta's part file corrupted: the compaction's read fails
    BucketedGold.snapshot(spark, gold).deltas.flatMap(_.files).foreach { f =>
      Files.write(new java.io.File(s"$gold/${f.path}").toPath, "not parquet".getBytes("UTF-8"))
    }
    assert(BucketedGold.appendBatch(spark, batchDF((2L, "INSERT", 2L, 2L, 2.0)), gold, 1L,
      compactEvery = 1, compactAsync = true),
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
          gold, i.toLong, compactEvery = 3, compactAsync = true))
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

  test("gc sweeps old files no version lists and keeps fresh ones") {
    val root = Files.createTempDirectory("bg-sweep").toString
    val gold = s"$root/gold"
    BucketedGold.appendBatch(spark, batchDF((1L, "INSERT", 1L, 1L, 1.0)), gold, 0L)
    val listed = BucketedGold.snapshot(spark, gold).deltas.flatMap(_.files.map(_.path))
    // a crashed append's delta and a legacy scratch dir, both older than
    // retention, and an in-flight write younger than it
    def orphan(dir: String): java.io.File = {
      val d = new java.io.File(s"$gold/$dir"); d.mkdirs()
      val part = new java.io.File(d, "part-00000-x.parquet")
      Files.write(part.toPath, "partial".getBytes("UTF-8")); part
    }
    val old = System.currentTimeMillis() - BucketedGold.RetentionMs - 60000L
    val crashed = orphan("delta/bdeadapp-000000000007-00000000")
    val legacy = orphan(".scratch-b3")
    val inFlight = orphan("delta/bliveapp-000000000001-00000000")
    Seq(crashed, legacy).foreach { f => f.setLastModified(old); f.getParentFile.setLastModified(old) }
    // a committed delta as old as the orphans is still listed: it stays
    listed.foreach(p => new java.io.File(s"$gold/$p").setLastModified(old))
    BucketedGold.gc(spark, gold)
    assert(!crashed.getParentFile.exists(), "an old unlisted delta dir must be swept")
    assert(!legacy.getParentFile.exists(), "an old legacy scratch dir must be swept")
    assert(inFlight.exists(), "a write younger than retention must survive")
    assert(listed.forall(p => new java.io.File(s"$gold/$p").exists()))
    assert(stateSet(BucketedGold.read(spark, gold)) === Set((1L, "INSERT", 1L, 1L, 1.0)))
  }

  test("compaction rewrites only the buckets the deltas touch") {
    val root = Files.createTempDirectory("bg-prune").toString
    val gold = s"$root/gold"
    // seed past 2 * RowsPerBucket rows so the base spans 4 buckets
    val keys = 2 * BucketedGold.RowsPerBucket + 1
    val seed = spark.range(keys).selectExpr("id AS user_id", "'INSERT' AS operation",
      "10 + id AS ts_us", "id AS event_id", "id * 1.0 AS value")
    BucketedGold.appendBatch(spark, seed, gold, 0L)
    BucketedGold.compact(spark, gold)
    def baseFiles(): Map[Int, String] =
      BucketedGold.snapshot(spark, gold).base.map(b => b.bucket -> b.path).toMap
    val before = baseFiles()
    assert(before.size === 4, s"$keys rows should span 4 buckets: $before")
    // one-key delta -> exactly one touched bucket, in at most two jobs
    BucketedGold.appendBatch(spark, batchDF((3L, "UPDATE", 999L, 999L, 3.5)), gold, 1L)
    val (_, jobs) = jobsOf(BucketedGold.compact(spark, gold))
    assert(jobs.size <= 2, s"a compaction onto a base ran $jobs")
    val after = baseFiles()
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size === 1, s"expected 1 rewritten bucket, got $changed")
    assert(stateSet(BucketedGold.read(spark, gold))
      .contains((3L, "UPDATE", 999L, 999L, 3.5)))
    assert(BucketedGold.read(spark, gold).count() === keys)
  }

  test("an append runs one job, a compaction with no base one, and building a read none") {
    val gold = Files.createTempDirectory("bg-jobs").toString + "/gold"
    val (_, append) = jobsOf(BucketedGold.appendBatch(spark, batchDF(keyBatch(0): _*), gold, 0L,
      compactEvery = 1000))
    assert(append.size === 1, s"append: $append")
    BucketedGold.appendBatch(spark, batchDF(keyBatch(1): _*), gold, 1L, compactEvery = 1000)
    val (_, compact) = jobsOf(BucketedGold.compact(spark, gold))
    assert(compact.size === 1, s"compaction with no base: $compact")
    val (df, built) = jobsOf(BucketedGold.read(spark, gold))
    assert(built.isEmpty, s"building the read: $built")
    assert(stateSet(df) === expectedState((0 until 2).flatMap(keyBatch)))
  }

  test("a reader pinned at version v gets the same answer after two compactions and a GC") {
    val gold = Files.createTempDirectory("bg-pinned").toString + "/gold"
    (0 until 3).foreach(i => BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold,
      i.toLong, compactEvery = 1000))
    val pinned = BucketedGold.read(spark, gold)
    val want = expectedState((0 until 3).flatMap(keyBatch))
    BucketedGold.compact(spark, gold)
    (3 until 5).foreach(i => BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold,
      i.toLong, compactEvery = 1000))
    BucketedGold.compact(spark, gold)
    BucketedGold.gc(spark, gold)
    assert(stateSet(pinned) === want)
    assert(stateSet(BucketedGold.read(spark, gold)) === expectedState((0 until 5).flatMap(keyBatch)))
  }

  test("a second application on the same root after a compaction reads the same state and opens no folded delta") {
    val gold = Files.createTempDirectory("bg-second-app").toString + "/gold"
    (0 until 3).foreach(i => BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold,
      i.toLong, compactEvery = 1000))
    val folded = BucketedGold.snapshot(spark, gold).deltas.flatMap(_.files.map(_.path))
    BucketedGold.compact(spark, gold)
    val first = stateSet(BucketedGold.read(spark, gold))
    // nothing of the first application's compaction lives in this JVM: the
    // second one starts from the log alone, with colliding batch ids
    val b = keyBatch(7)
    BucketedGold.commitDelta(spark, batchDF(b: _*), gold, "secondapp", 0L, compactEvery = 1000,
      compactAsync = false)
    val read = BucketedGold.read(spark, gold)
    val opened = read.inputFiles.map(p => p.substring(p.indexOf("/gold/") + 6)).toSet
    assert(folded.nonEmpty && opened.intersect(folded.toSet).isEmpty, opened)
    assert(stateSet(read) === expectedState((0 until 3).flatMap(keyBatch) ++ b))
    assert(first === expectedState((0 until 3).flatMap(keyBatch)))
    assert(BucketedGold.snapshot(spark, gold).deltas.map(d => d.app -> d.batch) ===
      Seq("secondapp" -> 0L))
  }

  test("a concurrent append and async compaction both commit") {
    val gold = Files.createTempDirectory("bg-concurrent").toString + "/gold"
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long, Double)]
    def append(i: Int, async: Boolean): Unit = {
      BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold, i.toLong,
        compactEvery = if (async) 4 else 1000, compactAsync = async)
      rows ++= keyBatch(i)
    }
    (0 until 3).foreach(append(_, async = false))
    append(3, async = true) // the fourth delta starts an async compaction
    var i = 4
    while (BucketedGold.compacting(gold) || i == 4) { append(i, async = false); i += 1 }
    BucketedGold.awaitCompactions()
    // the compaction committed, and the appends that landed after the
    // version it folded are still live beside its base
    val last = BucketedGold.snapshot(spark, gold)
    assert(last.base.nonEmpty && last.deltas.nonEmpty &&
      last.deltas.forall(d => d.batch >= 4 && d.batch < i), last.deltas.map(_.batch))
    assert(stateSet(BucketedGold.read(spark, gold)) === expectedState(rows.toSeq))
  }

  test("gold jobs carry their graft.phase label, on the async compaction thread too") {
    val gold = Files.createTempDirectory("bg-phase").toString + "/gold"
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        phases.add(Option(e.properties).flatMap(p => Option(p.getProperty(Phase.Key))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(Phase.Key, "outer")
    try {
      (0 until 2).foreach(i => BucketedGold.appendBatch(spark, batchDF(keyBatch(i): _*), gold,
        i.toLong, compactEvery = 2, compactAsync = true))
      assert(sc.getLocalProperty(Phase.Key) === "outer", "the caller's label was not restored")
      BucketedGold.awaitCompactions()
      val deadline = System.currentTimeMillis() + 10000
      while (!phases.contains("gold.compact") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(phases.asScala.count(_ == "gold.append") === 2, phases)
      assert(phases.contains("gold.compact"), phases)
      assert(BucketedGold.snapshot(spark, gold).base.nonEmpty)
    } finally {
      sc.setLocalProperty(Phase.Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
