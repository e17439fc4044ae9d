package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ProgressSpec extends AnyFunSuite {
  private val durations = Map("triggerExecution" -> 200L, "latestOffset" -> 10L,
    "getBatch" -> 5L, "queryPlanning" -> 15L, "addBatch" -> 120L, "walCommit" -> 25L,
    "commitOffsets" -> 20L)

  test("batch time is triggerExecution; its components are never added to it") {
    val b = BatchTiming.of(3L, 1000L, durations, 0L)
    assert(b.triggerMs == 200L)
    assert(!b.components.contains("triggerExecution"))
    assert(b.components.values.sum == 195L)
    assert(b.triggerMs != durations.values.sum)
  }

  test("phase medians come from each component on its own") {
    val bs = Seq(
      BatchTiming.of(0L, 1L, durations, 0L),
      BatchTiming.of(1L, 1L, durations.updated("triggerExecution", 400L)
        .updated("addBatch", 320L), 0L),
      BatchTiming.of(2L, 1L, durations.updated("triggerExecution", 300L)
        .updated("addBatch", 220L), 0L))
    val m = Layers.streaming(bs)
    assert(m("streaming.trigger_p50_ms") == 300.0)
    assert(m("streaming.addBatch_p50_ms") == 220.0)
    assert(m("streaming.walCommit_p50_ms") == 25.0)
    assert(m("sources.latestOffset_p50_ms") == 10.0)
    assert(m("streaming.batches") == 3.0)
  }

  test("a batch that reports no trigger time counts zero, not the sum") {
    val b = BatchTiming.of(0L, 0L, durations - "triggerExecution", 0L)
    assert(b.triggerMs == 0L)
  }
}
