package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graftbench.CdcPipeline.Commit

class TrickleSpec extends AnyFunSuite {
  private def chunk(i: Int, ends: (Int, Long)*) = Trickle.Chunk(i, i * 10L, i * 10L, ends.toMap)

  test("a chunk is visible only once every partition it wrote is committed") {
    val chunks = Seq(chunk(0, 0 -> 5L, 1 -> 3L), chunk(1, 0 -> 9L, 1 -> 6L))
    // batch 0 holds all of partition 0 up to 9 but partition 1 only to 3
    val commits = Seq(Commit(0L, 100L, Map(0 -> 9L, 1 -> 3L)), Commit(1L, 200L, Map(1 -> 6L)))
    val v = Trickle.visibleAt(chunks, commits).map { case (c, at) => c.i -> at.map(_.batchId) }
    assert(v == Seq(0 -> Some(0L), 1 -> Some(1L)))
  }

  test("a chunk no commit covers is reported missing") {
    val v = Trickle.visibleAt(Seq(chunk(0, 0 -> 5L)), Seq(Commit(0L, 1L, Map(0 -> 4L))))
    assert(v.head._2.isEmpty)
  }

  test("commits add only the events no earlier commit made visible") {
    val cs = Seq(Commit(1L, 2L, Map(0 -> 10L, 1 -> 4L)), Commit(0L, 1L, Map(0 -> 6L)))
    assert(CdcPipeline.newRows(cs).map(_._2) == Seq(6L, 8L))
    assert(CdcPipeline.covered(cs) == Map(0 -> 10L, 1 -> 4L))
  }
}
