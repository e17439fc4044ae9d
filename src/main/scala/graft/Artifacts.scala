package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** The one cache for memoized artifacts: every model, table, checkpointed
  * frame or written index an operator builds once per corpus snapshot and
  * serves to repeated queries.
  *
  * '''Key.''' (corpus dir, [[Tables.snapshotFingerprint]] of it, artifact
  * name, params). A corpus regenerated under the same path gets a new
  * fingerprint and so a new build.
  *
  * '''Validity.''' A hit is served only while everything its build owns
  * is still usable; an invalid hit is released and rebuilt:
  *  - a temp root ([[Owner.root]]) is valid while every `_SUCCESS` marker
  *    written under it during the build is still on disk (a `/tmp` sweeper
  *    may reap it mid-session);
  *  - a frame ([[Owner.frame]], typically an eager `localCheckpoint`) is
  *    valid while its SparkContext is not stopped — its blocks die with
  *    the context, so a session rebuilt in the same JVM rebuilds it;
  *  - a plain value (codebook, model, table, count) owns nothing and is
  *    always valid.
  *
  * '''Build.''' Each key builds once, also when callers arrive
  * concurrently: a lock per entry, not per map, because builds nest
  * (`knnGraph` → `knnLocal`, `dedupClusters` → `minhashLsh`, `trainIvfPq`
  * → `pqCodebook`). A build that throws is released and not cached; the
  * next lookup builds again.
  *
  * '''Release.''' The bound is one live snapshot per (dir, name, params):
  * a lookup under a new fingerprint releases the superseded entry before
  * building, and every lookup first releases the entries whose corpus dir
  * no longer exists (a deleted corpus is never looked up again). Releasing
  * unpersists every checkpoint RDD in the entry's frames and deletes its
  * temp roots; roots still held at JVM exit are deleted by one shutdown
  * hook.
  */
object Artifacts {

  /** Handed to a build: registers what the artifact owns. */
  final class Owner private[Artifacts] (name: String) {
    private var roots = List.empty[(Path, Seq[Path])]
    private var frames = List.empty[DataFrame]

    /** A fresh temp directory owned by this artifact. */
    def root(): String = {
      val p = Files.createTempDirectory(s"graft-$name-")
      liveRoots.add(p)
      roots ::= ((p, Nil))
      p.toString
    }

    /** Registers `df` (and every checkpoint in its plan) as owned. */
    def frame(df: DataFrame): DataFrame = { frames ::= df; df }

    private[Artifacts] def seal(): Unit =
      roots = roots.map { case (r, _) =>
        val s = Files.walk(r)
        try (r, s.iterator().asScala
          .filter(_.getFileName.toString == "_SUCCESS").toList)
        finally s.close()
      }

    private[Artifacts] def valid: Boolean =
      roots.forall { case (r, markers) =>
        Files.isDirectory(r) && markers.forall(Files.exists(_)) } &&
      frames.forall(!_.sparkSession.sparkContext.isStopped)

    private[Artifacts] def release(): Unit = {
      frames.filterNot(_.sparkSession.sparkContext.isStopped)
        .flatMap(_.queryExecution.logical.collect { case r: LogicalRDD => r.rdd })
        .distinctBy(_.id).foreach(_.unpersist(blocking = false))
      roots.foreach { case (r, _) =>
        org.apache.commons.io.FileUtils.deleteQuietly(r.toFile)
        liveRoots.remove(r)
      }
      frames = Nil; roots = Nil
    }

    private[Artifacts] def rootPaths: Seq[String] = roots.map(_._1.toString)
  }

  private final class Entry {
    val lock = new ReentrantLock
    var fp: String = _
    var value: Any = _
    var owner: Owner = _
    def clear(): Unit = { owner.release(); owner = null; value = null }
  }

  private val entries = new ConcurrentHashMap[(String, String, Seq[Any]), Entry]()
  private val liveRoots = ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook {
    liveRoots.forEach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
  }

  /** The artifact `name` with `params` over the current snapshot of the
    * corpus at `dir`: served while valid, otherwise built by `build`.
    */
  private[graft] def memo[V](dir: String, name: String, params: Any*)(
      build: Owner => V): V = {
    sweepDeletedDirs()
    val fp = Tables.snapshotFingerprint(dir)
    val e = entries.computeIfAbsent((dir, name, params), _ => new Entry)
    locked(e) {
      if (e.owner != null && (e.fp != fp || !e.owner.valid)) e.clear()
      if (e.owner == null) {
        val o = new Owner(name)
        val v = try { val v = build(o); o.seal(); v }
          catch { case t: Throwable => o.release(); throw t }
        e.fp = fp; e.value = v; e.owner = o
      }
      e.value.asInstanceOf[V]
    }
  }

  private def locked[T](e: Entry)(body: => T): T = {
    e.lock.lock()
    try body finally e.lock.unlock()
  }

  /** Releases and drops the entries whose corpus dir is gone. An entry
    * that is mid-build (its lock held) is left for a later sweep, so the
    * sweep never waits on a lock while its caller may hold one.
    */
  private def sweepDeletedDirs(): Unit =
    entries.forEach { (key, e) =>
      if (!Files.exists(Paths.get(key._1)) && !e.lock.isHeldByCurrentThread &&
          e.lock.tryLock()) {
        try { if (e.owner != null) e.clear(); entries.remove(key, e) }
        finally e.lock.unlock()
      }
    }

  /** Temp roots owned by the entry held for (dir, name, params). */
  private[graft] def roots(dir: String, name: String, params: Any*): Seq[String] =
    Option(entries.get((dir, name, params))).toSeq
      .flatMap(e => locked(e)(Option(e.owner).toSeq.flatMap(_.rootPaths)))
}
