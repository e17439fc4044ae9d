package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Log-structured, key-bucketed SCD1 gold target — the latency-floor fix
  * for the CDC apply path.
  *
  * [[CdcStreams.applyCdcBatch]] commits a micro-batch by merging it
  * against the FULL existing state and swapping the whole parquet table;
  * at a 100K-key gold that swap costs ~600-700 ms per batch and is the
  * measured end-to-end latency floor (BENCH_STREAM_LATENCY.json, round 8).
  * The reference's gold is a Delta MERGE (unity_catalog_cdc_demo.py:
  * 300-447) — and Delta itself never rewrites the table per commit: it
  * appends data files and defers consolidation. This object re-expresses
  * that commit model on plain parquet:
  *
  *   root/base/bucket=N/   hash-bucketed latest-per-key state, INCLUDING
  *                         DELETE tombstones (so merge-on-read semantics
  *                         do not depend on compaction timing)
  *   root/delta/b<id>/     one directory per committed micro-batch — the
  *                         raw normalized batch rows, renamed into place
  *                         atomically; one part file per task of the
  *                         batch (a kafkalog micro-batch of at most
  *                         `KafkaLogPlanner.RecordsPerTask` records is one
  *                         task, so one file)
  *
  *  - '''Commit''' ([[appendBatch]]) = write the batch as one new delta
  *    dir (write to a scratch dir, RENAME into place — atomic on
  *    local/HDFS), its row count observed on that write (a zero-row batch
  *    commits nothing): no footer pass, no read of existing state, no
  *    shuffle, no rewrite.
  *    Batch cost is O(batch), independent of state size — this is what
  *    cuts the floor.
  *  - '''Query''' ([[read]]) = merge-on-read: latest-per-key over
  *    base ∪ deltas, tombstones drop. Identical window to
  *    `applyCdcBatch` ((ts_us, event_id) desc), so the visible state is
  *    the same SCD1 answer, just assembled at read time. The read lists
  *    the base's and every delta's part files on the driver and scans
  *    exactly those with the fixed [[stateSchema]]
  *    ([[org.apache.spark.sql.GraftSqlBridge.parquetScan]]): building it
  *    runs no schema-inference job and no parallel-listing job, however
  *    many deltas are unfolded, so its fixed cost stays flat as they
  *    multiply. A committed delta never changes after its rename, so a
  *    listing taken at read time is the delta.
  *  - '''Compaction''' ([[compact]]) = fold the accumulated deltas into
  *    the base, rewriting ONLY the buckets the deltas touch (dynamic
  *    partition overwrite); runs inline every `compactEvery` commits, so
  *    its cost is amortized 1/K per batch and shows up honestly in p95.
  *
  * Exactly-once under checkpointed foreachBatch replay: the delta dir is
  * named by (application, batch id), so a replayed batch REPLACES its own
  * delta instead of appending a duplicate, and a DIFFERENT app whose
  * batch ids collide (fresh checkpoint on an existing root, restarted
  * JVM) can never clobber committed data; compaction is latest-per-key
  * and keeps tombstones, so re-merging already-folded deltas after a
  * crash between base-commit and delta-retirement is a no-op. A crash
  * inside the delta write leaves only an invisible scratch dir (the
  * rename never ran).
  *
  * Scale (100 TB): commit cost ∝ batch size only; compaction reads the
  * touched buckets (partition-pruned directory scan) + bounded deltas and
  * shuffles once on the key; bucket count is the parallelism/pruning knob
  * (buckets ≈ executors × small constant; a batch touching few keys
  * rewrites few buckets). On object stores without atomic rename the
  * delta commit would ride a manifest file instead — same protocol Delta
  * uses; rename stands in here exactly like parquet-overwrite stands in
  * for the table format elsewhere in this library.
  */
object BucketedGold {

  /** The normalized CDC state this target stores — the same frame
    * [[CdcStreams.applyCdcBatch]] merges. Every delta is written with these
    * types, so reads take the schema from here instead of inferring it.
    */
  val stateSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("operation", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType)))

  val stateCols: Seq[String] = stateSchema.fieldNames.toSeq

  /** The filesystem holding `root` — not the default one. */
  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def basePath(root: String) = s"$root/base"
  private def deltaDir(root: String) = s"$root/delta"

  /** Age after which a foreign app's orphaned scratch dir is sweepable —
    * far above any sane micro-batch write duration.
    */
  private val ScratchGraceMs: Long = 15L * 60 * 1000

  /** Delta identity is (application, batch): a REPLAY inside the same app
    * (checkpointed foreachBatch re-running a batch id) replaces its own
    * delta, while a DIFFERENT app writing batch ids that collide — a
    * fresh checkpoint pointed at an existing gold root, or a restarted
    * JVM replaying from the old checkpoint — gets its own name and can
    * never delete another run's committed data. Cross-app duplicates of
    * a genuinely replayed batch are byte-identical (same checkpointed
    * offsets), so merge-on-read dedups them; this is the same reason
    * Delta Lake keys idempotent writes by (appId, version).
    */
  private def sanitizeApp(appId: String): String =
    appId.replaceAll("[^A-Za-z0-9]", "")

  private def deltaPath(root: String, appId: String, batchId: Long) =
    f"${deltaDir(root)}/b${sanitizeApp(appId)}%s-$batchId%012d"

  /** Scratch dirs carry the app id for the same reason deltas do: two
    * appliers misconfigured onto one root must not clobber each other's
    * in-flight writes. A crash mid-write leaves the scratch orphaned —
    * [[compact]] sweeps foreign-app scratches past a modtime grace.
    */
  private def scratchPath(root: String, appId: String, batchId: Long) =
    s"$root/.scratch-${sanitizeApp(appId)}-b$batchId"

  /** Sorted committed delta dirs (oldest first). Driver-side listing,
    * O(#deltas) ≤ compactEvery + in-flight.
    */
  private def listDeltas(f: FileSystem, root: String): Seq[Path] = {
    val d = new Path(deltaDir(root))
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).filter(s => s.isDirectory && s.getPath.getName.startsWith("b"))
      .map(_.getPath).sortBy(_.toString).toSeq
  }

  /** The data files under `dir` at any depth, skipping what Spark's own
    * listing skips: `_SUCCESS`, `.crc` sidecars, `_temporary` and
    * `.spark-staging-*` dirs.
    */
  private def dataFiles(f: FileSystem, dir: Path): Array[FileStatus] =
    f.listStatus(dir).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.flatMap(s => if (s.isDirectory) dataFiles(f, s.getPath) else Array(s))

  /** The state rows in the files under `dirs` (the base's `bucket` column
    * included when a dir is the base), or None when there are no files —
    * a base whose every bucket was GC'd away is the same as no base.
    */
  private def scan(spark: SparkSession, f: FileSystem, dirs: Seq[Path]): Option[DataFrame] = {
    val listed = dirs.map(d => f.makeQualified(d)).map(d => d -> dataFiles(f, d))
      .filter(_._2.nonEmpty)
    if (listed.isEmpty) None else Some(GraftSqlBridge.parquetScan(spark, listed, stateSchema))
  }

  /** The base's rows, with its `bucket` column. An exists-precheck is safe
    * (no TOCTOU): the base is only ever written by the single-threaded
    * applier that is asking, and a dir that appears between probe and read
    * would hold nothing to merge anyway.
    */
  private def readBase(spark: SparkSession, f: FileSystem, root: String): Option[DataFrame] = {
    val base = new Path(basePath(root))
    if (!f.exists(base)) None else scan(spark, f, Seq(base))
  }

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], stateSchema)

  // one compaction at a time per process; appends never wait on it. The
  // queue is the driver-side seam only — every heavy step inside compact()
  // is still a distributed Spark job. The thread inherits no thread-locals:
  // Spark's local properties would otherwise carry the job group of the
  // first committing thread — a streaming query's, which stopping that
  // query cancels — into every later compaction.
  private val compactPool = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(null, r, "bucketed-gold-compactor", 0L, false)
      t.setDaemon(true); t
    })
  private val compactInFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.Future[_]]()

  /** Block until every async compaction scheduled so far has finished —
    * call before reading at quiesce (bench audit) or before spark.stop().
    * A failed compaction is not swallowed: once every one has finished and
    * left the in-flight map, the first failure is rethrown.
    */
  def awaitCompactions(): Unit = {
    val failures = compactInFlight.entrySet().asScala.toList.flatMap { e =>
      val failure =
        try { e.getValue.get(); None }
        catch { case x: java.util.concurrent.ExecutionException => Some(x.getCause) }
      compactInFlight.remove(e.getKey, e.getValue)
      failure
    }
    failures.headOption.foreach(f => throw f)
  }

  /** Commit one micro-batch: atomic delta append, then compaction once
    * `compactEvery` deltas have accumulated — inline by default, or on a
    * background thread (`compactAsync`) so the commit path never stalls
    * on the fold (the Hudi/Paimon async-compaction model; appends and
    * compaction don't conflict — compact consumes a snapshot of delta
    * dirs, appends only create new ones). Safe to call from a
    * checkpointed foreachBatch with the engine's `batchId` — replays
    * replace their own delta. An empty batch commits nothing.
    *
    * Returns true iff a delta was committed. A statically-empty batch —
    * empty LocalRelation, zero-partition RDD, or a streaming v2 scan over
    * an equal start/end offset range (the engine's empty trigger cycle) —
    * is detected driver-side from the ANALYZED plan's leaves
    * ([[org.apache.spark.sql.GraftSqlBridge.isStaticallyEmpty]]): no
    * optimization, no physical planning, no Spark job, ~zero cost on the
    * hot non-empty commit path. When that probe fires, an `observe()`
    * metric attached to `batch` never executes, so callers pairing this
    * with `Observation.get` MUST gate the (blocking) get on the returned
    * Boolean. A zero-row batch the probe can't prove empty still pays the
    * write job and is caught by the row count observed on that same write
    * (no footer pass afterwards) — parquet writes a schema-only part file
    * for zero rows, so "no .parquet files" is never the test.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, root: String,
      batchId: Long, numBuckets: Int = 64, compactEvery: Int = 16,
      compactAsync: Boolean = false): Boolean = {
    // job-free, plan-free emptiness probe (analysis-level leaves only)
    if (GraftSqlBridge.isStaticallyEmpty(batch)) return false
    val f = fs(spark, root)
    val appId = spark.sparkContext.applicationId
    val scratch = new Path(scratchPath(root, appId, batchId))
    val dst = new Path(deltaPath(root, appId, batchId))
    f.mkdirs(dst.getParent)
    f.delete(scratch, true)
    // the commit's row count rides the write itself: an unnamed observation
    // (a replayed batch id would collide with a named one), so no footer pass
    val written = new Observation()
    batch.select(stateSchema.map(c => col(c.name).cast(c.dataType)): _*)
      .observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(scratch.toString)
    if (written.get("rows") == 0L) {
      f.delete(scratch, true)
      return false
    }
    // the commit point: a single rename — readers see the whole delta or
    // none of it. A replayed batch retires its previous (identical) delta.
    f.delete(dst, true)
    if (!f.rename(scratch, dst))
      throw new java.io.IOException(s"BucketedGold commit failed: $scratch -> $dst")
    val unfolded = listDeltas(f, root).size -
      retired.getOrDefault(root, java.util.Collections.emptySet[String]()).size
    if (unfolded >= compactEvery) {
      if (!compactAsync) compact(spark, root, numBuckets)
      else {
        // skip if a compaction for this root is still running — the next
        // threshold crossing re-triggers. The Future carries a failure to
        // awaitCompactions; a failed fold that a later crossing retries
        // (deltas stay unretired) is superseded by the retry's outcome
        val prev = compactInFlight.get(root)
        if (prev == null || prev.isDone) {
          compactInFlight.put(root, compactPool.submit(new Runnable {
            override def run(): Unit = compact(spark, root, numBuckets)
          }))
        }
      }
    }
    true
  }

  /** Current SCD1 state: latest-per-key over base ∪ deltas, DELETEs drop —
    * the same answer `applyCdcBatch` stores physically.
    *
    * Concurrency: folded deltas outlive their compaction by one full
    * cycle (see `retired`), so a plan whose delta listing races ONE
    * compaction still finds every file (re-read folded rows dedup in the
    * window). A reader stalling across TWO compactions of the same root
    * can still lose files mid-scan — read at quiesce
    * ([[awaitCompactions]]) for audit-grade reads, as the benches do.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
    rawUnion(spark, root)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= "DELETE")
      .drop("rn")
  }

  /** Base ∪ committed deltas, tombstones included (the full logical log
    * tail) — compaction's input and [[read]]'s pre-filter frame.
    */
  private def rawUnion(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    val deltas = listDeltas(f, root)
    val parts = (readBase(spark, f, root).toSeq ++ scan(spark, f, deltas))
      .map(_.select(stateCols.map(col): _*))
    if (parts.isEmpty) emptyState(spark)
    else parts.reduce(_.unionByName(_))
  }

  // deltas folded into the base by the LAST compaction per root, still on
  // disk: they are deleted at the START of the next compaction, not at the
  // end of their own. The one-cycle grace keeps a concurrent reader's
  // delta listing valid for a full compaction cycle (re-reading a folded
  // delta is a latest-per-key no-op); a crash that loses this map merely
  // re-folds them — also a no-op.
  private val retired =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  /** Fold all committed deltas into the bucketed base, rewriting only the
    * buckets the deltas touch; tombstones are RETAINED (a compaction must
    * not change what [[read]] answers — late pre-delete events stay
    * shadowed by the tombstone either way). `gcTombstonesBeforeUs` drops
    * tombstones older than a watermark — the `cdc_tombstone_gc` policy —
    * once every upstream replayer is past it.
    *
    * Safe against a concurrent replayed append of a delta this compaction
    * already snapshotted ONLY because a checkpointed replay is
    * byte-identical (same offsets → same rows): if the replace races the
    * fold's read, the fold fails harmlessly (deltas stay unretired,
    * retried at the next threshold) — it can never fold wrong data.
    */
  def compact(spark: SparkSession, root: String, numBuckets: Int = 64,
      gcTombstonesBeforeUs: Option[Long] = None): Unit = {
    val f = fs(spark, root)
    // retire what the PREVIOUS compaction folded (grace period over)
    Option(retired.remove(root)).foreach(_.forEach { d =>
      f.delete(new Path(d), true); ()
    })
    // sweep crash-orphaned scratch dirs: a scratch from ANOTHER app id (a
    // dead JVM's never-renamed in-flight write, incl. pre-app-scoping
    // `.scratch-b*` names) is garbage once past a modtime grace. Our own
    // app's scratches are never swept (appendBatch owns their lifecycle;
    // a replay deletes+rewrites its own), and a LIVE foreign app's
    // in-flight write is younger than the grace.
    val rootPath = new Path(root)
    if (f.exists(rootPath)) {
      val ownPrefix =
        s".scratch-${sanitizeApp(spark.sparkContext.applicationId)}-b"
      val cutoff = System.currentTimeMillis() - ScratchGraceMs
      f.listStatus(rootPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".scratch-")
          && !s.getPath.getName.startsWith(ownPrefix)
          && s.getModificationTime < cutoff)
        .foreach { s => f.delete(s.getPath, true); () }
    }
    val deltas = listDeltas(f, root)
    val deltaRows = scan(spark, f, deltas) match {
      case Some(d) => d.withColumn("bucket", pmod(xxhash64(col("user_id")), lit(numBuckets)))
      case None => return
    }
    // the buckets this compaction touches — bounded by numBuckets
    val touched = deltaRows.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val existing = readBase(spark, f, root) match {
      // the partition filter prunes the scan to the touched bucket dirs
      case Some(base) => base
        .filter(col("bucket").isInCollection(touched.toSeq))
        .select((stateCols :+ "bucket").map(col): _*)
      case None => emptyState(spark).withColumn("bucket", lit(0L)).limit(0)
    }
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
    val merged0 = existing.unionByName(deltaRows)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    val merged = gcTombstonesBeforeUs match {
      case Some(cut) => merged0.filter(
        col("operation") =!= "DELETE" || col("ts_us") >= cut)
      case None => merged0
    }
    // pin before the overwrite (the write must not scan its own target),
    // then rewrite exactly the touched bucket= partitions
    val pinned = merged.localCheckpoint()
    pinned.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(basePath(root))
    // dynamic overwrite only replaces buckets PRESENT in the output: a
    // touched bucket whose rows were all GC'd tombstones emits nothing and
    // its stale partition would survive — delete those dirs explicitly
    if (gcTombstonesBeforeUs.isDefined) {
      val written = pinned.select("bucket").distinct().collect()
        .map(_.getLong(0)).toSet
      touched.filterNot(written).foreach { b =>
        f.delete(new Path(s"${basePath(root)}/bucket=$b"), true)
      }
    }
    // mark ONLY the deltas this compaction consumed for deletion at the
    // NEXT compaction (grace period — see `retired`); a crash before the
    // eventual delete re-merges them onto the new base, a no-op
    val set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    deltas.foreach(d => set.add(d.toString))
    retired.put(root, set)
  }

  /** #417 registered demo (`cdc_bucketed_gold`): replay the normalized
    * events log through this target as 8 deterministic micro-batches
    * (split by event_id mod 8 — merge-on-read is append-order
    * independent, so any disjoint split replays exactly), compacting
    * after the 6th so the final answer exercises BOTH the compacted
    * bucketed base AND live merge-on-read deltas. The visible state must
    * equal `cdc_current_scd1` — that equality IS the oracle.
    */
  def goldStateDemo(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-bucketed-gold")
      .toString + "/gold"
    // pin the normalized log once — the 8 batch filters below would each
    // re-scan the events parquet otherwise
    val log = graft.cdc.Cdc.log(spark, dir).select(
      col("user_id"), col("operation"), col("seq_us").as("ts_us"),
      col("event_id"), col("value")).localCheckpoint(eager = true)
    (0 until 8).foreach { i =>
      appendBatch(spark, log.filter(pmod(col("event_id"), lit(8)) === i),
        root, i.toLong, numBuckets = 16, compactEvery = 1000)
      if (i == 5) compact(spark, root, numBuckets = 16)
    }
    read(spark, root).select(
      col("user_id"), col("operation").as("last_op"),
      col("event_id").as("last_event_id"),
      round(col("value"), 2).as("last_value"))
  }
}
