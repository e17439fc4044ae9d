package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import scala.jdk.CollectionConverters._

import graft.Phase

/** Log-structured, key-bucketed SCD1 gold target: the commit every CDC
  * apply path uses (`Medallion`, `CdcStreams.fileStreamPipeline`,
  * `BenchStream`).
  *
  * A commit that merges a micro-batch against the full existing state and
  * rewrites the table pays for the whole table on every batch. The
  * reference's gold is a Delta MERGE (unity_catalog_cdc_demo.py:
  * 300-447) — and Delta itself never rewrites the table per commit: it
  * appends data files to a log of table versions and defers consolidation
  * (Armbrust et al., VLDB 2020). This object is that model on plain parquet:
  *
  *   root/_log/v<N>.json   version N of the table: the base files (each
  *                         with its bucket and row count), the bucket
  *                         count, and the live deltas — each keyed by
  *                         (application, batch) with its row count and
  *                         files. The log is the only source of truth: a
  *                         reader lists no data directory, a writer only
  *                         the one it just wrote.
  *   root/delta/b<app>-<batch>-<id>/
  *                         one micro-batch's normalized rows as written;
  *                         one part file per task of the batch (a kafkalog
  *                         micro-batch of at most
  *                         `KafkaLogPlanner.RecordsPerTask` records is one
  *                         task, so one file)
  *   root/base/c<V>-<id>/  one compaction's output: latest-per-key state
  *                         INCLUDING DELETE tombstones (so merge-on-read
  *                         answers do not depend on compaction timing), one
  *                         file per bucket it rewrote
  *   root/_log/dropped-<id>.json
  *                         the files one commit stopped listing, kept on
  *                         disk for retention (see below)
  *
  *  - '''Commit point.''' A version is published by creating
  *    `_log/v<N+1>.json` if absent (`CheckpointFileManager.createAtomic`
  *    without overwrite: a temp file renamed into place). A writer that
  *    finds N+1 taken re-reads the latest version and retries, so an
  *    append and a compaction racing on one root both land (optimistic
  *    concurrency; within one JVM commits to a root also take a lock,
  *    because a local rename does not refuse an existing target
  *    atomically). Data files are written before their version and never
  *    change afterwards; a crashed write leaves only files no version
  *    lists.
  *  - '''Append''' ([[appendBatch]]) = one write job into a fresh delta dir
  *    (its row count observed on that write; a zero-row batch commits
  *    nothing), then a version that adds the delta. No read of existing
  *    state, no shuffle, no rewrite: batch cost is O(batch), independent
  *    of state size.
  *  - '''Query''' ([[read]]) = merge-on-read over exactly one version's
  *    files: latest-per-key by (ts_us, event_id) desc over base ∪ deltas,
  *    tombstones drop — the SCD1 answer, assembled at read time. The files
  *    come from the version with their sizes, so building the read lists
  *    nothing and runs no job ([[GraftSqlBridge.parquetScan]] with the
  *    fixed [[stateSchema]]), and a folded delta is never opened again. A
  *    read is pinned to its version for as long as retention keeps that
  *    version's files.
  *  - '''Compaction''' ([[compact]]) = one Spark job: the version's deltas,
  *    plus the base buckets they touch, move by one shuffle into one
  *    partition per bucket, reduce to latest-per-key (tombstones kept) and
  *    land as one file per bucket in a fresh dir; a version then swaps
  *    those files in and drops the folded deltas. Nothing is overwritten in
  *    place, so nothing has to be pinned first. With no base there is no
  *    touched-bucket job; onto a base it is one small job more. The bucket
  *    count follows the data ([[RowsPerBucket]]). Runs inline every
  *    `compactEvery` commits (amortized 1/K per batch, visible in p95) or
  *    on a background thread (`compactAsync`).
  *  - '''Retention''' ([[gc]], Delta's VACUUM): a commit that drops files
  *    (a fold, a replayed batch) lists them in a `_log/dropped-*.json` side
  *    file the version names, and they stay on disk for [[RetentionMs]]
  *    after that commit, so a reader pinned to an older version keeps
  *    finding its files. GC deletes what the latest version and those
  *    lists do not name once it is older than the window (so an in-flight
  *    write is never swept), and the superseded versions. Every commit
  *    also deletes the version two below it, so a root that never
  *    compacts keeps two versions (the latest and the one it superseded)
  *    instead of a growing list. Every compaction ends with one GC pass.
  *
  * Exactly-once under checkpointed foreachBatch replay: the delta entry is
  * keyed by (application, batch id), so a replayed batch REPLACES its own
  * entry instead of adding a duplicate, and a DIFFERENT app whose batch
  * ids collide (fresh checkpoint on an existing root, restarted JVM) adds
  * its own entry and can never clobber committed data. Compaction is
  * latest-per-key and keeps tombstones, so re-merging rows already folded
  * is a no-op.
  *
  * Scale (100 TB): commit cost ∝ batch size only; compaction reads the
  * touched buckets + bounded deltas and shuffles once on the bucket; the
  * bucket count is the parallelism/pruning knob and grows with the live
  * rows (a batch touching few keys rewrites few buckets).
  */
object BucketedGold {

  /** The normalized CDC state this target stores. Every delta is written
    * with these types, so reads take the schema from here instead of
    * inferring it.
    */
  val stateSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("operation", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType)))

  val stateCols: Seq[String] = stateSchema.fieldNames.toSeq

  /** Base rows per bucket a compaction aims for: the bucket count is the
    * smallest power of two that keeps (base rows + delta rows) / buckets at
    * or under it, and it never shrinks. First compaction in a fresh JVM
    * (4-core box) of 16 deltas of 3,750 Zipf-keyed rows (~17K live keys):
    * 16 buckets 434-439 ms, 4 buckets 388-399 ms, 1 bucket 338-369 ms; of
    * 64 such deltas (~42K live keys): 16 buckets 702-709 ms, 4 buckets
    * 632-638 ms, 1 bucket 602-612 ms. Reads of the base follow the same
    * order. 65,536 sits within noise of the best at both sizes and still
    * splits a growing table (table in CHANGES.md).
    */
  val RowsPerBucket: Long = 65536L

  /** How long a file a version dropped stays on disk for readers pinned to
    * an older version, and the age below which GC leaves a file no version
    * lists (an in-flight write) alone. It must exceed the longest read and
    * the longest write.
    */
  val RetentionMs: Long = 15L * 60 * 1000

  /** A data file as the log records it, path relative to the root. */
  private[graft] sealed trait Listed { def path: String; def size: Long; def mtime: Long }

  private[graft] case class DataFile(path: String, size: Long, mtime: Long) extends Listed

  /** A base file: the bucket it holds and its row count (tombstones
    * included).
    */
  private[graft] case class BaseFile(path: String, size: Long, mtime: Long, bucket: Int,
      rows: Long) extends Listed

  /** One committed micro-batch. */
  private[graft] case class Delta(app: String, batch: Long, rows: Long, files: Seq[DataFile])

  /** The files one commit dropped, listed in the side file `list` (a path
    * relative to the root) and kept on disk until `atMs` + retention.
    */
  private[graft] case class Retired(list: String, atMs: Long)

  /** One version of the table, with the commits inside retention that
    * dropped files.
    */
  private[graft] case class Snapshot(version: Long, buckets: Int, base: Seq[BaseFile],
      deltas: Seq[Delta], retired: Seq[Retired]) {
    def baseRows: Long = base.map(_.rows).sum
    def paths: Seq[String] = base.map(_.path) ++ deltas.flatMap(_.files.map(_.path))
  }

  private val Empty = Snapshot(-1L, 0, Nil, Nil, Nil)

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  /** The filesystem holding `root` — not the default one. */
  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_log")
  private val VersionFile = """v(\d+)\.json""".r

  /** One listing of `_log` (empty before the first commit). */
  private def logEntries(f: FileSystem, root: String): Seq[FileStatus] =
    try f.listStatus(logDir(root)).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The committed versions among `entries`, oldest first. */
  private def versions(entries: Seq[FileStatus]): Seq[(Long, FileStatus)] =
    entries.flatMap(s => s.getPath.getName match {
      case VersionFile(n) => Some(n.toLong -> s)
      case _ => None
    }).sortBy(_._1)

  private def versionFile(root: String, v: Long) = new Path(logDir(root), s"v$v.json")

  private def readJson[T: Manifest](f: FileSystem, p: Path): T = {
    val in = f.open(p)
    try org.json4s.jackson.Serialization.read[T](new String(in.readAllBytes(), UTF_8))
    finally in.close()
  }

  /** What this JVM knows of one root's log: its writer, and the latest
    * version it read or committed with that version file's mtime.
    */
  private class Log(val writer: CheckpointFileManager) {
    @volatile var latest: Option[(Snapshot, Long)] = None
  }

  // the logs of the most recently used roots
  private val logs = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Log](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Log]): Boolean = size() > 64
    })

  private def logOf(spark: SparkSession, f: FileSystem, root: String): Log = {
    val dir = f.makeQualified(logDir(root))
    logs.computeIfAbsent(dir.toString,
      _ => new Log(CheckpointFileManager.create(dir, spark.sparkContext.hadoopConfiguration)))
  }

  private def mtime(f: FileSystem, p: Path): Option[Long] =
    try Some(f.getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** The latest version of `root`. The one this JVM last saw is still the
    * latest while its file is unchanged and has no successor — GC deletes
    * versions oldest first, so a successor cannot vanish before it — which
    * costs two status calls; otherwise one listing of `_log` finds it.
    */
  private def latest(spark: SparkSession, f: FileSystem, root: String): Snapshot = {
    val log = logOf(spark, f, root)
    log.latest.filter { case (s, t) =>
      mtime(f, versionFile(root, s.version)).contains(t) &&
        !f.exists(versionFile(root, s.version + 1))
    }.map(_._1).getOrElse {
      // GC may delete what this listing found but the newest: list again
      def listed(attempts: Int): Snapshot =
        try versions(logEntries(f, root)).lastOption.fold(Empty) { case (v, st) =>
          val s = readJson[Snapshot](f, versionFile(root, v))
          log.latest = Some(s -> st.getModificationTime)
          s
        } catch {
          case _: java.io.FileNotFoundException if attempts < 3 => listed(attempts + 1)
        }
      listed(1)
    }
  }

  /** The latest version of `root` (the empty table when none was ever
    * committed).
    */
  private[graft] def snapshot(spark: SparkSession, root: String): Snapshot =
    latest(spark, fs(spark, root), root)

  // commits to one root from this JVM take one of these locks: a local
  // rename does not refuse an existing target atomically, so createAtomic's
  // no-overwrite check alone would let two threads of one JVM both
  // "create" version N
  private val commitLocks = Array.fill(64)(new Object)

  /** Publishes the version `edit` makes of the latest one, retrying on a
    * lost race; `edit` returning None publishes nothing. Files the new
    * version no longer lists are written to a `_log/dropped-*.json` side
    * file that the version names in `retired`, so GC can keep them for
    * pinned readers without reading older versions; entries past
    * retention leave `retired`.
    */
  private def commit(spark: SparkSession, root: String)(
      edit: Snapshot => Option[Snapshot]): Option[Snapshot] = {
    val f = fs(spark, root)
    val log = logOf(spark, f, root)
    @scala.annotation.tailrec
    def attempt(n: Int): Option[Snapshot] = {
      val last = latest(spark, f, root)
      if (last.version < 0) log.writer.mkdirs(f.makeQualified(logDir(root)))
      edit(last) match {
        case None => None
        case Some(edited) =>
          val now = System.currentTimeMillis()
          val dropped = (last.paths.toSet -- edited.paths).toSeq.sorted
          val kept = last.retired.filter(_.atMs > now - RetentionMs)
          val next = edited.copy(version = last.version + 1, retired =
            if (dropped.isEmpty) kept else kept :+ Retired(writeDropped(f, root, dropped), now))
          val file = f.makeQualified(versionFile(root, next.version))
          val out = log.writer.createAtomic(file, overwriteIfPossible = false)
          val created =
            try { out.write(org.json4s.jackson.Serialization.write(next).getBytes(UTF_8)); out.close(); true }
            catch {
              case _: FileAlreadyExistsException => out.cancel(); false
              case e: Throwable => out.cancel(); throw e
            }
          if (created) {
            log.latest = mtime(f, file).map(next -> _)
            // keep the version this one superseded, for a reader holding
            // it, and drop the one before (GC prunes any older ones)
            if (next.version >= 2) f.delete(versionFile(root, next.version - 2), false)
            Some(next)
          } else if (n >= 100) throw new java.io.IOException(s"BucketedGold: no free version in $root")
          else { log.latest = None; attempt(n + 1) }
      }
    }
    val lock = commitLocks(Math.floorMod(f.makeQualified(logDir(root)).toString.hashCode, 64))
    lock.synchronized(attempt(1))
  }

  private def writeDropped(f: FileSystem, root: String, paths: Seq[String]): String = {
    val name = s"_log/dropped-${java.util.UUID.randomUUID()}.json"
    val out = f.create(new Path(root, name), false)
    try out.write(org.json4s.jackson.Serialization.write(paths).getBytes(UTF_8))
    finally out.close()
    name
  }

  /** Deletes the versions below `below`, oldest first (which `latest`
    * relies on), and the dropped-file lists at or before `cutoff` that
    * `keep` does not name.
    */
  private def pruneLog(f: FileSystem, root: String, below: Long, cutoff: Long,
      keep: Set[String]): Unit = {
    val entries = logEntries(f, root)
    versions(entries).takeWhile(_._1 < below).foreach(v => f.delete(v._2.getPath, false))
    entries.filter(st => st.getPath.getName.startsWith("dropped-") &&
      st.getModificationTime <= cutoff && !keep(s"_log/${st.getPath.getName}"))
      .foreach(st => f.delete(st.getPath, false))
  }

  /** Delta identity is (application, batch): a REPLAY inside the same app
    * (checkpointed foreachBatch re-running a batch id) replaces its own
    * entry, while a DIFFERENT app writing batch ids that collide — a
    * fresh checkpoint pointed at an existing gold root, or a restarted
    * JVM replaying from the old checkpoint — gets its own entry and can
    * never drop another run's committed data. Cross-app duplicates of
    * a genuinely replayed batch are byte-identical (same checkpointed
    * offsets), so merge-on-read dedups them; this is the same reason
    * Delta Lake keys idempotent writes by (appId, version).
    */
  private def sanitizeApp(appId: String): String =
    appId.replaceAll("[^A-Za-z0-9]", "")

  private def freshId(): String = java.util.UUID.randomUUID().toString.take(8)

  /** The part files directly under a just-written dir, skipping what
    * Spark's own listing skips (`_SUCCESS`, `.crc` sidecars, `_temporary`).
    */
  private def partFiles(f: FileSystem, dir: Path): Array[FileStatus] =
    f.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** A scan of `files` (paths relative to `root`) with the fixed state
    * schema, or None when there are none. Building it lists nothing.
    */
  private def scan(spark: SparkSession, root: String, files: Seq[Listed]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val f = fs(spark, root)
      val rootQ = f.makeQualified(new Path(root))
      val block = f.getDefaultBlockSize(rootQ)
      val statuses = files.map(e => new FileStatus(e.size, false, 1, block, e.mtime, new Path(rootQ, e.path)))
      val listed = statuses.groupBy(_.getPath.getParent).toSeq.map { case (d, s) => d -> s.toArray }
      Some(GraftSqlBridge.parquetScan(spark, listed, stateSchema))
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
    * call before spark.stop(). A failed compaction is not swallowed: once
    * every one has finished and left the in-flight map, the first failure
    * is rethrown.
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

  /** True while an async compaction of `root` is queued or running. */
  private[graft] def compacting(root: String): Boolean =
    Option(compactInFlight.get(root)).exists(!_.isDone)

  /** Commit one micro-batch: a delta write and a version adding it, then
    * compaction once `compactEvery` deltas are live — inline by default,
    * or on a background thread (`compactAsync`) so the commit path never
    * stalls on the fold (the Hudi/Paimon async-compaction model; an append
    * landing while a compaction runs stays live in the compaction's
    * version). Safe to call from a checkpointed foreachBatch with the
    * engine's `batchId` — replays replace their own entry. An empty batch
    * commits nothing.
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
      batchId: Long, compactEvery: Int = 16, compactAsync: Boolean = false): Boolean =
    // job-free, plan-free emptiness probe (analysis-level leaves only)
    !GraftSqlBridge.isStaticallyEmpty(batch) &&
      commitDelta(spark, batch, root, sanitizeApp(spark.sparkContext.applicationId), batchId,
        compactEvery, compactAsync)

  /** [[appendBatch]] under an explicit application id. */
  private[graft] def commitDelta(spark: SparkSession, batch: DataFrame, root: String,
      app: String, batchId: Long, compactEvery: Int, compactAsync: Boolean): Boolean = {
    val f = fs(spark, root)
    val name = f"b$app%s-$batchId%012d-${freshId()}"
    val dir = new Path(root, s"delta/$name")
    // the commit's row count rides the write itself: an unnamed observation
    // (a replayed batch id would collide with a named one), so no footer pass
    val written = new Observation()
    Phase("gold.append") {
      batch.select(stateSchema.map(c => col(c.name).cast(c.dataType)): _*)
        .observe(written, count(lit(1)).as("rows"))
        .write.parquet(dir.toString)
    }
    val rows = written.get("rows").asInstanceOf[Long]
    if (rows == 0L) {
      f.delete(dir, true)
      return false
    }
    val files = partFiles(f, dir).toSeq.map(s =>
      DataFile(s"delta/$name/${s.getPath.getName}", s.getLen, s.getModificationTime))
    val committed = commit(spark, root) { s =>
      Some(s.copy(deltas = s.deltas.filterNot(d => d.app == app && d.batch == batchId) :+
        Delta(app, batchId, rows, files)))
    }.get
    if (committed.deltas.size >= compactEvery) {
      if (!compactAsync) compact(spark, root)
      else {
        // skip if a compaction for this root is still running — the next
        // threshold crossing re-triggers. The Future carries a failure to
        // awaitCompactions; a failed fold that a later crossing retries
        // (its deltas stay live) is superseded by the retry's outcome
        val prev = compactInFlight.get(root)
        if (prev == null || prev.isDone) {
          compactInFlight.put(root, compactPool.submit(new Runnable {
            override def run(): Unit = compact(spark, root)
          }))
        }
      }
    }
    true
  }

  /** SCD1 state at the latest version: latest-per-key over that version's
    * base ∪ deltas, DELETEs drop. Read a root only through here: its data
    * directories hold raw deltas and tombstones, so a bare parquet read of
    * them is not the table's state. The frame is pinned to the version's
    * files: compactions and GC inside [[RetentionMs]] do not change what it
    * returns.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val s = snapshot(spark, root)
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
    (scan(spark, root, s.base).toSeq ++ scan(spark, root, s.deltas.flatMap(_.files)))
      .reduceOption(_.unionByName(_)).getOrElse(emptyState(spark))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= "DELETE")
      .drop("rn")
  }

  /** The fewest buckets, a power of two, that hold `rows` at
    * [[RowsPerBucket]] each.
    */
  private def bucketsFor(rows: Long): Int = {
    var b = 1
    while (b.toLong * RowsPerBucket < rows && b < (1 << 30)) b *= 2
    b
  }

  /** The bucket of a state row: Spark's `hash(user_id)` mod `buckets`. */
  private def bucketOf(r: InternalRow, buckets: Int): Int =
    if (r.isNullAt(0)) 0 else Math.floorMod(Murmur3_x86_32.hashLong(r.getLong(0), 42), buckets)

  private val Delete = org.apache.spark.unsafe.types.UTF8String.fromString("DELETE")

  /** (ts_us, event_id) of `a` after `b`'s, a null lowest — the read's order. */
  private def newer(a: InternalRow, b: InternalRow): Boolean = {
    def cmp(i: Int): Int = (a.isNullAt(i), b.isNullAt(i)) match {
      case (false, false) => java.lang.Long.compare(a.getLong(i), b.getLong(i))
      case (an, bn) => java.lang.Boolean.compare(bn, an)
    }
    val c = cmp(2)
    c > 0 || (c == 0 && cmp(3) > 0)
  }

  /** Fold every live delta into the bucketed base; tombstones are RETAINED
    * (a compaction must not change what [[read]] answers — late pre-delete
    * events stay shadowed by the tombstone either way).
    * `gcTombstonesBeforeUs` drops tombstones older than a watermark — the
    * `cdc_tombstone_gc` policy — once every upstream replayer is past it.
    * Ends with a [[gc]] pass. A compaction that loses its base to another
    * one committed meanwhile starts again from the new version.
    */
  def compact(spark: SparkSession, root: String,
      gcTombstonesBeforeUs: Option[Long] = None): Unit = {
    @scala.annotation.tailrec
    def fold(attempt: Int): Unit =
      if (!compactOnce(spark, root, gcTombstonesBeforeUs)) {
        if (attempt >= 3) throw new java.util.ConcurrentModificationException(
          s"BucketedGold: $root was compacted concurrently $attempt times")
        fold(attempt + 1)
      }
    fold(1)
    gc(spark, root)
  }

  /** One fold of the latest version; false when its base changed before
    * the commit.
    */
  private def compactOnce(spark: SparkSession, root: String, cut: Option[Long]): Boolean = {
    val s = snapshot(spark, root)
    if (s.deltas.isEmpty) return true
    val buckets = math.max(s.buckets, bucketsFor(s.baseRows + s.deltas.map(_.rows).sum))
    val deltas = scan(spark, root, s.deltas.flatMap(_.files)).get
    // a new bucket count rehashes every base row; otherwise only the
    // buckets the deltas touch are read and rewritten
    val (kept, rewritten) =
      if (buckets != s.buckets) (Nil, s.base)
      else {
        val touched = Phase("gold.compact")(deltas.queryExecution.toRdd.mapPartitions { rows =>
          val seen = new java.util.BitSet(buckets)
          rows.foreach(r => seen.set(bucketOf(r, buckets)))
          Iterator.single(seen)
        }.collect().foldLeft(new java.util.BitSet(buckets)) { (a, b) => a.or(b); a })
        s.base.partition(b => !touched.get(b.bucket))
      }
    val input = (scan(spark, root, rewritten).toSeq :+ deltas)
      .reduce(_.unionByName(_))
    val keyed = input.queryExecution.toRdd.mapPartitions { rows =>
      lazy val unsafe = UnsafeProjection.create(stateSchema)
      rows.map { r =>
        (bucketOf(r, buckets), r match { case u: UnsafeRow => u: InternalRow; case _ => unsafe(r) })
      }
    }
    val perBucket = spark.sparkContext.collectionAccumulator[(Int, Long)]("gold.compact.rows")
    val folded = GraftSqlBridge.shuffleByPartitionId(keyed, buckets, stateSchema.size)
      .mapPartitions { rows =>
        val latest = new java.util.HashMap[Any, InternalRow]()
        rows.foreach { r =>
          val k: Any = if (r.isNullAt(0)) null else r.getLong(0)
          val prev = latest.get(k)
          if (prev == null || newer(r, prev)) latest.put(k, r.copy())
        }
        // the SQL filter `operation != 'DELETE' OR ts_us >= cut`, nulls dropping
        val out = latest.values().asScala.filter(r => cut.forall(c =>
          (!r.isNullAt(1) && r.getUTF8String(1) != Delete) ||
            (!r.isNullAt(2) && r.getLong(2) >= c))).toVector
        perBucket.add(TaskContext.getPartitionId() -> out.size.toLong)
        out.iterator
      }
    val f = fs(spark, root)
    val name = s"c${s.version}-${freshId()}"
    val dir = new Path(root, s"base/$name")
    Phase("gold.compact") {
      GraftSqlBridge.rowsToFrame(spark, folded, stateSchema).write.parquet(dir.toString)
    }
    // a task writes its one file as part-<partition>-…, and partition = bucket
    val rowsOf = perBucket.value.asScala.toMap
    val fresh = partFiles(f, dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val bucket = n.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val rows = rowsOf.getOrElse(bucket, throw new IllegalStateException(
        s"BucketedGold: no row count for $n"))
      if (rows == 0L) None // the empty file Spark writes for an empty partition 0
      else Some(BaseFile(s"base/$name/$n", st.getLen, st.getModificationTime, bucket, rows))
    }
    commit(spark, root) { latest =>
      if (latest.base != s.base) None
      else Some(latest.copy(buckets = buckets, base = kept ++ fresh,
        deltas = latest.deltas.filterNot(s.deltas.contains)))
    }.isDefined
  }

  /** Retention GC (Delta's VACUUM): deletes every file under the root that
    * the latest version does not list, that no dropped-file list inside
    * `retentionMs` names, and that is older than `retentionMs` (an
    * in-flight write is younger), then the directories left empty, the
    * older versions and the expired dropped-file lists.
    */
  def gc(spark: SparkSession, root: String, retentionMs: Long = RetentionMs): Unit =
    Phase("gold.gc") {
      val f = fs(spark, root)
      val s = latest(spark, f, root)
      if (s.version >= 0) {
        val cutoff = System.currentTimeMillis() - retentionMs
        val lists = s.retired.filter(_.atMs > cutoff).map(_.list)
        lazy val listed = (s.paths ++ lists.flatMap(l => readJson[Seq[String]](f, new Path(root, l))))
          .toSet
        val rootQ = f.makeQualified(new Path(root))
        def relative(p: Path): String = rootQ.toUri.relativize(p.toUri).getPath
        def remove(p: Path): Boolean =
          try f.delete(p, false) catch { case _: java.io.IOException => false }
        // a file may go when it is old and unlisted; a directory when
        // everything under it went and it held something or is old itself
        def sweepable(st: FileStatus): Boolean =
          if (st.isDirectory) {
            val kids = f.listStatus(st.getPath)
            kids.count(k => !(sweepable(k) && remove(k.getPath))) == 0 &&
              (kids.nonEmpty || st.getModificationTime <= cutoff)
          } else st.getModificationTime <= cutoff && !listed(relative(st.getPath))
        f.listStatus(rootQ).filter(_.getPath.getName != "_log")
          .foreach(st => if (sweepable(st)) remove(st.getPath))
        pruneLog(f, root, s.version, cutoff, lists.toSet)
      }
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
        root, i.toLong, compactEvery = 1000)
      if (i == 5) compact(spark, root)
    }
    read(spark, root).select(
      col("user_id"), col("operation").as("last_op"),
      col("event_id").as("last_event_id"),
      round(col("value"), 2).as("last_value"))
  }
}
