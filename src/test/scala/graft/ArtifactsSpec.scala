package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class ArtifactsSpec extends SparkSpec {

  /** Runs `body` over a one-file corpus dir, deleted afterwards. */
  private def withCorpus(body: Path => Unit): Unit = {
    val d = Files.createTempDirectory("artifacts_spec")
    Files.writeString(d.resolve("part-0"), "0")
    try body(d) finally org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
  }

  /** Adds a file to the corpus: a new snapshot fingerprint. */
  private def touch(d: Path): Unit =
    Files.writeString(d.resolve(s"part-${System.nanoTime}"), "1")

  test("a concurrent first touch from 4 callers builds exactly once") {
    withCorpus { d =>
      val builds = new AtomicInteger
      val pool = Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val arrived = new CountDownLatch(4)
      try {
        val got = (1 to 4).map(_ => Future {
          arrived.countDown(); arrived.await()
          Artifacts.memo(d.toString, "spec-once") { _ =>
            builds.incrementAndGet(); Thread.sleep(300); 42
          }
        }).map(Await.result(_, 1.minute))
        assert(got === Seq(42, 42, 42, 42))
        assert(builds.get === 1)
      } finally pool.shutdown()
    }
  }

  test("a build that throws is not cached: its root is deleted, the next lookup builds") {
    withCorpus { d =>
      var root = ""
      val err = intercept[IllegalStateException] {
        Artifacts.memo(d.toString, "spec-throw") { a =>
          root = a.root(); throw new IllegalStateException("boom")
        }
      }
      assert(err.getMessage === "boom")
      assert(root.nonEmpty && !Files.exists(Paths.get(root)))
      assert(Artifacts.memo(d.toString, "spec-throw")(_ => 7) === 7)
    }
  }

  test("a superseded checkpointed frame's RDD leaves the block manager") {
    withCorpus { d =>
      val sc = spark.sparkContext
      def frame() = Artifacts.memo(d.toString, "spec-frame")(a =>
        a.frame(spark.range(100).toDF("id").localCheckpoint(eager = true)))
      val before = sc.getPersistentRDDs.keySet.toSet
      val first = frame()
      val held = sc.getPersistentRDDs.keySet.toSet -- before
      assert(held.nonEmpty, "the eager checkpoint should hold a persisted RDD")
      assert(frame() eq first, "same snapshot: the memo should hit")
      touch(d)
      val second = frame()
      assert(second ne first, "new snapshot: the memo should rebuild")
      assert((sc.getPersistentRDDs.keySet & held).isEmpty,
        s"superseded checkpoint RDDs $held still persisted")
      assert(second.count() === 100L)
    }
  }

  test("an entry whose corpus dir is deleted is released by the next lookup") {
    val sc = spark.sparkContext
    val gone = Files.createTempDirectory("artifacts_spec_gone")
    val before = sc.getPersistentRDDs.keySet.toSet
    var root = ""
    Artifacts.memo(gone.toString, "spec-gone") { a =>
      root = a.root()
      Files.writeString(Paths.get(root, "_SUCCESS"), "")
      a.frame(spark.range(10).toDF("id").localCheckpoint(eager = true))
    }
    val held = sc.getPersistentRDDs.keySet.toSet -- before
    assert(held.nonEmpty && Files.exists(Paths.get(root)))
    org.apache.commons.io.FileUtils.deleteDirectory(gone.toFile)
    withCorpus(d => assert(Artifacts.memo(d.toString, "spec-other")(_ => 1) === 1))
    assert(!Files.exists(Paths.get(root)), s"root $root of a deleted corpus still on disk")
    assert((sc.getPersistentRDDs.keySet & held).isEmpty,
      s"checkpoint RDDs $held of a deleted corpus still persisted")
    assert(Artifacts.roots(gone.toString, "spec-gone").isEmpty)
  }

  test("a path artifact with a reaped part is rebuilt, not failed (zone-map layouts)") {
    import graft.operators.ZoneMap
    val first = ZoneMap.zoneMapAudit(spark, sf).collect().toSet
    val Seq(root) = Artifacts.roots(sf, "zonemap-layouts")
    // what a /tmp sweeper leaves: the naive layout, _SUCCESS included, is gone
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(root, "naive").toFile)
    assert(ZoneMap.zoneMapAudit(spark, sf).collect().toSet === first)
    val Seq(rebuilt) = Artifacts.roots(sf, "zonemap-layouts")
    assert(rebuilt !== root)
    assert(!Files.exists(Paths.get(root)), "the invalid root should be released")
  }
}
