package graftbench

/** `cdc`: the paper's CDC pipeline, kafkalog → `Debezium.parseEnvelope` →
  * `BucketedGold.appendBatch`, measured twice in one JVM. The drain phase
  * runs it at capacity over a backlog produced during set-up (see
  * [[Drain]]); the trickle phase runs it far below capacity, open loop,
  * with gold reads beside the writes (see [[Trickle]]). Both gold states
  * are audited against the state recomputed from the seed.
  */
object CdcWorkload {
  def run(ctx: Ctx): Outcome = {
    val spark = Main.session(ctx.cores)
    ctx.mark("session")
    val tracer = new Tracer(ctx.trace)
    val layer = new SparkLayer
    val progress = new ProgressCollector
    val gen = new CdcGen(ctx.seed, CdcPipeline.Keys)
    val n = ctx.seconds * Drain.EventsPerSecond
    val batch = (n + Drain.Batches - 1) / Drain.Batches
    val root = ctx.work("cdc")
    val logRoot = root.resolve("log").toString

    CdcPipeline.warmUp(spark, gen, root, batch)
    ctx.mark("warmup")
    val tp = System.nanoTime()
    CdcPipeline.produce(gen, logRoot, "backlog", 0, n, 50000)
    val produceS = (System.nanoTime() - tp) / 1e9
    if (ctx.trace) {
      spark.sparkContext.addSparkListener(layer)
      spark.streams.addListener(progress)
    }
    val setupS = ctx.mark("produce")

    val drainDir = root.resolve("drain")
    val d = Drain.drain(spark, tracer, logRoot, "backlog", drainDir, batch)
    ctx.mark("drain")
    val drained = d.rows.map(_._2).sum
    val w = Trickle.run(spark, tracer, gen, root.resolve("trickle"), ctx.seconds)
    ctx.mark("trickle")
    val (drainRows, drainBad) =
      CdcPipeline.audit(spark, gen, n, drainDir.resolve("gold").toString)
    val (trickleRows, trickleBad) = CdcPipeline.audit(spark, gen, w.produced, w.gold)
    ctx.mark("audit")

    val commit = Pct.summary(w.latencyMs)
    val read = Pct.summary(w.readMs)
    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "throughput_per_s" -> Metric(drained / d.wallS, "1/s"),
      "latency_ms" -> Metric(commit.p50, "ms"),
      "tail_ms" -> Metric(commit.tail, "ms"),
      "read_ms" -> Metric(read.p50, "ms"))
    val notes = Seq(
      f"drain: $n events in ${d.commits.size} batches of ~$batch in ${d.wallS}%.3f s " +
        f"(drain_ev_per_s=${drained / d.wallS}%.1f)",
      commit.render("trickle commit latency from due time", "ms"),
      read.render("trickle gold read beside writes", "ms"),
      s"audit: drain $drainRows gold rows, $drainBad mismatching; " +
        s"trickle $trickleRows gold rows, $trickleBad mismatching; " +
        s"${w.missing} trickle chunks never visible")

    val layerVals: Map[String, Double] = if (!ctx.trace) Map.empty else {
      layer.drain(spark.sparkContext)
      val nowMs = System.currentTimeMillis()
      val nowNs = System.nanoTime()
      def ms(ns: Long) = nowMs - (nowNs - ns) / 1000000L
      val inDrain = (j: JobRec) => j.submitMs >= d.t0Ms && j.submitMs <= d.endMs
      val inTrickle = (j: JobRec) => j.submitMs >= ms(w.tStart) && j.submitMs <= ms(w.tEnd)
      val drainT = layer.totals(inDrain)
      val trickleT = layer.totals(inTrickle)
      val all = layer.totals(j => inDrain(j) || inTrickle(j))
      val trickleS = (w.tEnd - w.tStart) / 1e9
      def spansIn(name: String, from: Long, to: Long) =
        tracer.named(name).filter(s => s.startNs >= from && s.endNs <= to).map(_.ms)
      val drainAppend = spansIn("streaming.appendBatch", d.t0Nanos, d.endNanos)
      val trickleAppend = spansIn("streaming.appendBatch", w.tStart, w.tEnd)
      val committedByEnd = CdcPipeline.newRows(w.commits.filter(_.doneNanos <= w.tEnd))
        .map(_._2).sum
      val sentByEnd = w.chunks.count(_.sentNanos <= w.tEnd).toLong * Trickle.ChunkEvents
      val liveRows = w.reads.lastOption.map(_.rows).getOrElse(0L)
      val scanS = CdcExtras.scanS(spark, logRoot, "backlog")
      val parseS = CdcExtras.parseS(spark, logRoot, "backlog") - scanS
      val blocks = SparkLayer.blockBytes(spark.sparkContext).toDouble
      val speedup = CdcExtras.speedup(spark, gen, root, batch)
      Layers.streaming(progress.batches.filter(b => b.rows > 0 &&
        b.endNanos >= w.tStart && b.endNanos <= w.tEnd)) ++
        Layers.compaction(layer, inDrain) ++
        Layers.spark(all, d.wallS - drainT.busyMs / 1e3 + trickleS - trickleT.busyMs / 1e3) ++
        Map(
          "gen.lag_p95_ms" -> Pct.nearestRank(w.timed.map(c => Pct.fromDue(c.dueNanos, c.sentNanos)), 95),
          "gen.backlog_end" -> (sentByEnd - committedByEnd).toDouble,
          "gen.produce_s" -> produceS,
          "sources.scan_s" -> scanS,
          "sources.input_records" -> n.toDouble,
          "sources.input_bytes" -> CdcPipeline.dirBytes(s"$logRoot/backlog").toDouble,
          "cdc.parse_s" -> parseS,
          "streaming.appendBatch_p50_ms" -> Pct.median(trickleAppend),
          "streaming.appendBatch_tail_ms" -> Pct.summary(trickleAppend).tail,
          "streaming.appendBatch_busy_share" -> drainAppend.sum / 1e3 / d.wallS,
          "streaming.unfolded_deltas_p50" -> Pct.median(w.reads.map(_.deltas.toDouble)),
          "streaming.gold_bytes_per_live_row" ->
            CdcPipeline.dirBytes(w.gold).toDouble / math.max(1L, liveRows),
          "spark.block_bytes" -> blocks,
          "spark.speedup_1core" -> speedup,
          "trace.throughput_per_s" -> e2e(1)._2.value, "trace.latency_ms" -> e2e(2)._2.value,
          "trace.tail_ms" -> e2e(3)._2.value, "trace.read_ms" -> e2e(4)._2.value)
    }
    if (ctx.trace) tracer.write(ctx.outDir.resolve(s"${ctx.tag}-spans.jsonl"))
    if (!spark.sparkContext.isStopped) spark.stop()
    CdcPipeline.rm(root)
    val record = Seq(
      "workload_params" -> Json.obj(Seq(
        "keys" -> CdcPipeline.Keys.toString, "zipf_s" -> "1.0",
        "op_mix_c_u_d" -> Json.str("19/76/5"), "partitions" -> CdcPipeline.Partitions.toString,
        "drain_compact_every" -> "16", "backlog_events" -> n.toString,
        "max_offsets_per_trigger" -> batch.toString,
        "chunk_events" -> Trickle.ChunkEvents.toString, "period_ms" -> Trickle.PeriodMs.toString,
        "read_period_ms" -> Trickle.ReadPeriodMs.toString,
        "warm_chunks" -> Trickle.WarmChunks.toString, "window_chunks" -> w.timed.size.toString)),
      "drain_ev_per_s" -> Json.num(drained / d.wallS),
      "drain_batches" -> d.commits.size.toString,
      "commit_samples" -> commit.n.toString,
      "commit_tail_percentile" -> Json.num(commit.tailPct),
      "commit_ms_by_chunk" -> w.latencyMs.map(x => Json.num(math.rint(x * 10) / 10))
        .mkString("[", ",", "]"),
      "read_samples" -> read.n.toString,
      "audit" -> Json.obj(Seq("drain_rows" -> drainRows.toString,
        "drain_mismatches" -> drainBad.toString, "trickle_rows" -> trickleRows.toString,
        "trickle_mismatches" -> trickleBad.toString)))
    Outcome(
      attempted = n + w.timed.size + w.readMs.size + w.readFails + drainRows + trickleRows,
      failed = d.missing + w.missing + w.readFails + drainBad + trickleBad,
      e2e, if (ctx.trace) Layers.complete(layerVals) else Nil, record, notes)
  }
}
