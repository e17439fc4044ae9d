package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.EmbeddedTopicLog

class GenSpec extends AnyFunSuite {
  /** Produces two chunks for `seed` and returns every segment file's bytes. */
  private def segments(seed: Long): Map[String, Seq[Byte]] = {
    val root = Files.createTempDirectory("perfbench-gen")
    try {
      val gen = new CdcGen(seed, 1000)
      EmbeddedTopicLog.produce(root.toString, "t", gen.chunk(0, 500), 8)
      EmbeddedTopicLog.produce(root.toString, "t", gen.chunk(500, 500), 8)
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
        root.relativize(p).toString -> Files.readAllBytes(p).toSeq
      }.toMap finally s.close()
    } finally CdcPipeline.rm(root)
  }

  test("the same seed gives byte-identical topic segments") {
    val a = segments(7L)
    assert(a.nonEmpty)
    assert(a == segments(7L))
  }

  test("a different seed gives different segments") {
    assert(segments(7L) != segments(8L))
  }

  test("ops follow the c/u/d mix and keys are skewed") {
    val gen = new CdcGen(3L, 100000)
    val n = 200000
    val ops = (0 until n).map(i => gen.op(i.toLong)).groupBy(identity).map { case (k, v) =>
      k -> v.size.toDouble / n }
    assert(math.abs(ops('c') - 0.19) < 0.01)
    assert(math.abs(ops('u') - 0.76) < 0.01)
    assert(math.abs(ops('d') - 0.05) < 0.01)
    val counts = (0 until n).map(i => gen.key(i.toLong)).groupBy(identity).values.map(_.size)
    // Zipf(1) over 100K keys: the hottest key carries about 8 % of events
    assert(counts.max > n / 20)
  }

  test("the expected state keeps the latest event per key and drops deletes") {
    val gen = new CdcGen(5L, 50)
    val state = gen.expectedState(2000).map(r => r._1 -> r).toMap
    (0L until 50L).foreach { k =>
      val last = (0L until 2000L).filter(id => gen.key(id) == k).lastOption
      last match {
        case Some(id) if gen.op(id) != 'd' =>
          assert(state(k)._4 == id)
          assert(state(k)._3 == id * 1000L)
        case _ => assert(!state.contains(k))
      }
    }
  }
}
