package graftbench

/** The per-layer metric names every traced run reports, with their
  * units. A layer a workload does not load reports 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "gen.lag_p95_ms" -> "ms",
    "gen.backlog_end" -> "events",
    "gen.produce_s" -> "s",
    "sources.latestOffset_p50_ms" -> "ms",
    "sources.scan_s" -> "s",
    "sources.input_records" -> "records",
    "sources.input_bytes" -> "bytes",
    "cdc.parse_s" -> "s",
    "streaming.batches" -> "count",
    "streaming.trigger_p50_ms" -> "ms",
    "streaming.trigger_p95_ms" -> "ms",
    "streaming.queryPlanning_p50_ms" -> "ms",
    "streaming.getBatch_p50_ms" -> "ms",
    "streaming.addBatch_p50_ms" -> "ms",
    "streaming.walCommit_p50_ms" -> "ms",
    "streaming.commitOffsets_p50_ms" -> "ms",
    "streaming.appendBatch_p50_ms" -> "ms",
    "streaming.appendBatch_tail_ms" -> "ms",
    "streaming.appendBatch_busy_share" -> "ratio",
    "streaming.compactions" -> "count",
    "streaming.compact_jobs" -> "count",
    "streaming.compact_s" -> "s",
    "streaming.unfolded_deltas_p50" -> "count",
    "streaming.gold_bytes_per_live_row" -> "bytes",
    "operators.cold_total_s" -> "s",
    "operators.warm_total_s" -> "s",
    "operators.construct_cold_s" -> "s",
    "operators.construct_warm_s" -> "s",
    "operators.eager_jobs" -> "count",
    "operators.cold_warm_gap_s" -> "s",
    "plans.plan_s" -> "s",
    "plans.exchanges" -> "count",
    "plans.topk_exec" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.driver_s" -> "s",
    "spark.block_bytes" -> "bytes",
    "spark.speedup_1core" -> "ratio",
    "trace.throughput_per_s" -> "1/s",
    "trace.latency_ms" -> "ms",
    "trace.tail_ms" -> "ms",
    "trace.read_ms" -> "ms")

  /** Every per-layer metric, in order, taking values from `got`. */
  def complete(got: Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = got.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    units.map { case (k, u) => k -> Metric(got.getOrElse(k, 0.0), u) }
  }

  /** The scheduler totals as layer metrics. */
  def spark(t: LayerTotals, driverS: Double): Map[String, Double] = Map(
    "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
    "spark.tasks" -> t.tasks.toDouble, "spark.executor_cpu_s" -> t.cpuS,
    "spark.executor_run_s" -> t.runS, "spark.gc_s" -> t.gcS,
    "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
    "spark.spill_bytes" -> t.spill.toDouble, "spark.input_bytes" -> t.input.toDouble,
    "spark.peak_exec_mem_bytes" -> t.peakMem.toDouble, "spark.driver_s" -> driverS)

  /** Compaction work inside streaming batches. `BucketedGold.appendBatch`
    * commits a batch with one write job; any later job of the same batch
    * is the inline compaction it triggered.
    */
  def compaction(layer: SparkLayer, f: JobRec => Boolean): Map[String, Double] = {
    val byBatch = layer.jobsWhere(j => f(j) && j.batch.nonEmpty).groupBy(_.batch)
    val extra = byBatch.values.toSeq.flatMap(_.sortBy(_.jobId).drop(1))
    Map(
      "streaming.compactions" -> byBatch.count(_._2.size > 1).toDouble,
      "streaming.compact_jobs" -> extra.size.toDouble,
      "streaming.compact_s" -> extra.flatMap(j =>
        layer.endMs(j.jobId).map(_ - j.submitMs)).sum / 1e3)
  }

  /** Streaming engine phases from progress events: batch time is
    * `triggerExecution` alone; components are reported one by one.
    */
  def streaming(bs: Seq[BatchTiming]): Map[String, Double] = {
    val comp = BatchTiming.byComponent(bs)
    def p50(k: String) = comp.get(k).map(Pct.median).getOrElse(0.0)
    val trig = bs.map(_.triggerMs.toDouble)
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.trigger_p50_ms" -> (if (trig.isEmpty) 0.0 else Pct.median(trig)),
      "streaming.trigger_p95_ms" -> (if (trig.isEmpty) 0.0 else Pct.nearestRank(trig, 95)),
      "sources.latestOffset_p50_ms" -> p50("latestOffset"),
      "streaming.queryPlanning_p50_ms" -> p50("queryPlanning"),
      "streaming.getBatch_p50_ms" -> p50("getBatch"),
      "streaming.addBatch_p50_ms" -> p50("addBatch"),
      "streaming.walCommit_p50_ms" -> p50("walCommit"),
      "streaming.commitOffsets_p50_ms" -> p50("commitOffsets"))
  }
}
