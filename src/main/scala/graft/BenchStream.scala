package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.EmbeddedTopicLog
import graft.streaming.CdcStreams

/** Sustained streaming-throughput benchmark over the full CDC gold path:
  * kafkalog produce → Debezium silver parse → SCD1 gold apply — the ONE
  * reference number no batch bench can answer. The reference PUBLISHES
  * its envelope: 10,000–50,000 events/sec through its custom datasource
  * with a 45K events/sec peak and 87 ms average end-to-end latency
  * (reference: COMPARISON.md:33-34,139-143). This main drives the same
  * three-stage architecture this library claims — broker-less topic log
  * with the Kafka read contract ([[graft.sources.KafkaLogSource]]),
  * `from_json` envelope parse ([[graft.cdc.Debezium.parseEnvelope]]),
  * latest-per-key MERGE with delete semantics via the log-structured
  * bucketed gold target ([[graft.streaming.BucketedGold]]: O(batch)
  * delta commit + async bucket compaction — the same commit model as
  * the reference's Delta MERGE sink) — under a sustained producer for
  * ≥60 s of steady state, and prints ONE JSON line into
  * `BENCH_STREAM.json`.
  *
  * Measurement protocol: a producer thread appends Debezium-envelope
  * JSON continuously (rate-unbounded, backlog-capped so disk stays
  * bounded and the consumer is never starved — the stream is always
  * admission-controlled by `maxOffsetsPerTrigger`, never input-limited);
  * [[CdcStreams.MetricsListener]] stamps every micro-batch with (rows,
  * trigger duration, wall end time). Batches completing inside the
  * first `warmupSec` are discarded (JIT + codegen + first gold write);
  * throughput = measured rows / measured wall window. p50/p95 batch
  * latency is the micro-batch trigger duration — the honest analog of
  * the reference's record-level 87 ms: Structured Streaming amortizes
  * per-event cost into batches, so per-EVENT latency is bounded by the
  * batch interval (reported), not comparable to a record-at-a-time
  * engine's per-record clock.
  *
  * Scale notes (100 TB / real cluster): every stage here is the shape
  * that scales — the topic read plans one task per
  * `KafkaLogPlanner.RecordsPerTask` records of a batch, at most one per
  * core (a small batch is one task), the parse is whole-stage-codegen'd
  * `from_json`, and the SCD1 apply shuffles the micro-batch against a
  * key-bounded gold table. On a 1000-executor cluster the same plan
  * widens by partition count; the single-node number below is the per-node
  * contribution floor, measured on the same local[32] box the batch
  * bench uses.
  */
object BenchStream {

  /** One deterministic Debezium envelope (byte-stable given its inputs —
    * reruns produce identical streams). Field layout mirrors
    * [[graft.cdc.Debezium.envelopeSchema]]; before/after are the raw
    * JSON images, op ∈ c/u/d, ts_ms monotone in event id so
    * latest-per-key is well-defined without wall clocks.
    */
  def envelope(eventId: Long, userId: Long, op: Char, tsMs: Long,
      valueCents: Long): String = {
    val img =
      s"""{"user_id":$userId,"event_id":$eventId,"value":${valueCents / 100.0}}"""
    val before = if (op == 'c') "null" else img
    val after = if (op == 'd') "null" else img
    s"""{"before":$before,"after":$after,"source":{"version":"2.4.0","connector":"mysql","name":"graft","ts_ms":$tsMs,"snapshot":"false","db":"graftdb","table":"events","server_id":1,"gtid":"0-1-$eventId","file":"binlog.000001","pos":${eventId * 4},"row":0,"thread":7,"query":null},"op":"$op","ts_ms":$tsMs,"transaction":{"id":"tx-$userId","total_order":1,"data_collection_order":1}}"""
  }

  /** A produce chunk of `n` keyed records starting at `fromId`: user =
    * id mod keySpace (key-sticky partitioning — Kafka's per-key ordering
    * contract), op mix 5% DELETE / 19% INSERT / 76% UPDATE by id, ts_ms
    * = id (monotone).
    */
  def chunk(fromId: Long, n: Int, keySpace: Int): Seq[(String, String)] =
    (fromId until fromId + n).map { id =>
      val user = id % keySpace
      val op = if (id % 20 == 0) 'd' else if (id % 5 == 0) 'c' else 'u'
      (user.toString, envelope(id, user, op, tsMs = id, valueCents = id % 10000))
    }

  /** Silver projection: raw Kafka-contract rows → parsed envelope →
    * the [[graft.streaming.BucketedGold.stateSchema]] frame the gold
    * commit stores. Identity fields come out of
    * the captured image (after for upserts, before for deletes) — the
    * same second-level extraction `cdc_debezium_parse` pins against the
    * DuckDB oracle.
    */
  def silver(raw: DataFrame): DataFrame =
    graft.cdc.Debezium
      .parseEnvelope(raw.selectExpr("CAST(value AS STRING) AS cdc_event"), "cdc_event")
      .selectExpr(
        "CAST(get_json_object(coalesce(after_image, before_image), '$.user_id') AS BIGINT) AS user_id",
        "operation",
        "event_ts_ms * 1000 AS ts_us",
        "CAST(get_json_object(coalesce(after_image, before_image), '$.event_id') AS BIGINT) AS event_id",
        "CAST(coalesce(get_json_object(after_image, '$.value'), '0') AS DOUBLE) AS value")

  /** Start the gold query: kafkalog micro-batch stream → silver →
    * foreachBatch SCD1 apply onto `goldPath`. `maxPerTrigger` is the
    * admission-control knob (lag-proportional across partitions inside
    * the source).
    */
  def startGoldQuery(spark: SparkSession, logRoot: String, topic: String,
      goldPath: String, checkpoint: String,
      maxPerTrigger: Long): StreamingQuery = {
    val raw = spark.readStream.format("kafkalog")
      .option("path", logRoot).option("topic", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxPerTrigger.toString)
      .load()
    silver(raw).writeStream
      .queryName(goldQuery)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // bucketed-delta commit: O(batch) append, async compaction — an
        // empty micro-batch commits nothing (appendBatch skips it)
        graft.streaming.BucketedGold.appendBatch(spark, batch, goldPath,
          batchId, compactAsync = true)
        ()
      }
      .start()
  }

  private val goldQuery = "bench_stream_gold"
  private val produceChunk = 25000

  /** The backlog-capped produce loop of the throughput and recovery arms.
    * Construction seeds block 0 so batch 0 has data; [[start]] runs
    * `nThreads` threads that append `produceChunk`-event blocks while
    * the backlog (produced − the gold query's consumed input rows) is at
    * most `backlogCap` — the consumer is never input-starved, disk stays
    * bounded, and throughput is consumer-limited by construction. Threads
    * own disjoint alternating id blocks; produce() itself serializes per
    * topic, so segment offsets never race. Cross-thread interleaving can
    * reorder APPENDS but not SCD1 semantics: ts_ms = id and the gold
    * window orders by (ts_us, event_id). With one thread the ids form
    * exactly [0, produced).
    */
  private final class Producers(logRoot: String, topic: String,
      keySpace: Int, partitions: Int, nThreads: Int, backlogCap: Long,
      listener: CdcStreams.MetricsListener) {
    val produced = new AtomicLong(EmbeddedTopicLog.produce(logRoot, topic,
      chunk(0L, produceChunk, keySpace), partitions))
    private val stop = new AtomicBoolean(false)
    private val threads = (0 until nThreads).map { t =>
      val th = new Thread(() => {
        var block = 1L + t // block 0 was the seed
        while (!stop.get()) {
          if (backlog > backlogCap) Thread.sleep(5)
          else {
            EmbeddedTopicLog.produce(logRoot, topic,
              chunk(block * produceChunk, produceChunk, keySpace), partitions)
            block += nThreads
            produced.addAndGet(produceChunk)
          }
        }
      }, s"benchstream-producer-$t")
      th.setDaemon(true)
      th
    }
    def consumed: Long = listener.inputRows(goldQuery)
    def backlog: Long = produced.get() - consumed
    def start(): Unit = threads.foreach(_.start())
    def stopAndJoin(): Unit = { stop.set(true); threads.foreach(_.join(5000)) }
  }

  /** LATENCY mode (`SPARK_GRAFT_STREAM_MODE=latency`) — the reference's
    * remaining envelope number is "87 ms average end-to-end latency"
    * (COMPARISON.md:139-143), a RECORD-AT-A-TIME engine's clock. The
    * honest micro-batch analog is produce-to-gold-VISIBLE wall time under
    * a light load (latency is meaningless at saturation — queueing
    * dominates): a metered producer stamps each produce chunk with its
    * wall clock, and the gold foreachBatch — AFTER the SCD1 merge
    * commits, i.e. when the data is actually queryable — drains every
    * chunk whose last event id the batch has applied and samples
    * (now − produceTime). Per-chunk sampling at small chunks (≤200
    * events) bounds granularity error under the batch interval.
    * Structured Streaming's floor here is the trigger cycle (get offsets
    * → plan → run → commit), so the p50 lands in the hundreds of ms —
    * reported as-is with this architectural note rather than tuned into
    * a number that wouldn't survive a real cluster. Spark's continuous
    * mode is NOT used: it forbids aggregations/foreachBatch, so the gold
    * MERGE this pipeline exists for cannot run there.
    */
  /** One metered latency measurement at a given trigger setting; returns
    * (p50 ms, p95 ms, avg ms, n_samples). `triggerMs` < 0 = default
    * trigger (back-to-back micro-batches); ≥ 0 = ProcessingTime(ms).
    */
  def latencyOnce(spark: SparkSession, triggerMs: Long,
      warmupSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_WARMUP", "15").toInt,
      measureSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_SEC", "45").toInt,
      keySpace: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_KEYS", "100000").toInt,
      partitions: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8").toInt,
      ratePerSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_RATE", "2000").toInt)
      : (Long, Long, Long, Int, String) = {
    val chunkN = math.max(1, math.min(200, ratePerSec / 10))

    val root = Files.createTempDirectory("graft-benchstream-lat").toString
    val (logRoot, topic) = (s"$root/log", "bench_cdc_lat")
    val (gold, ckpt) = (s"$root/gold", s"$root/ckpt")

    val stop = new AtomicBoolean(false)
    // (last event id of the chunk, produce wall nanos)
    val inFlight = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val cutoff = new AtomicLong(Long.MaxValue)
    val listener = new CdcStreams.MetricsListener
    spark.streams.addListener(listener)

    EmbeddedTopicLog.produce(logRoot, topic, chunk(0L, chunkN, keySpace),
      partitions)
    val producer = new Thread(() => {
      var id = chunkN.toLong
      val sleepMs = math.max(1L, chunkN * 1000L / ratePerSec)
      while (!stop.get()) {
        // enqueue BEFORE the append becomes visible: if a batch commits
        // the chunk in the produce→enqueue window, the drain would miss
        // it this batch and record the NEXT batch's clock — an inflated
        // sample. Stamping first biases the other way by only the
        // (sub-ms) produce call itself.
        inFlight.add((id + chunkN - 1, System.nanoTime()))
        EmbeddedTopicLog.produce(logRoot, topic,
          chunk(id, chunkN, keySpace), partitions)
        id += chunkN
        Thread.sleep(sleepMs)
      }
    }, "benchstream-latency-producer")
    producer.setDaemon(true)

    val raw = spark.readStream.format("kafkalog")
      .option("path", logRoot).option("topic", topic)
      .option("startingOffsets", "earliest")
      .load()
    val latencyQuery = "bench_stream_latency_gold"
    val writer0 = silver(raw).writeStream
      .queryName(latencyQuery)
      .option("checkpointLocation", ckpt)
    val writer = if (triggerMs < 0) writer0
      else writer0.trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(triggerMs))
    val q = writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // round-9 floor fix: the gold commit is a bucketed-delta APPEND
        // (O(batch), no state rewrite) and the batch's max event id rides
        // the SAME job as an observe() metric — ONE Spark job per batch
        // where round 8 paid an agg job + a full state-rewrite merge.
        // Compaction folds deltas in on a background thread (async), so
        // the commit path never stalls on it.
        val obs = new org.apache.spark.sql.Observation(
          s"bench_lat_max_${batchId}_${java.util.UUID.randomUUID()}")
        val committed = graft.streaming.BucketedGold.appendBatch(spark,
          batch.observe(obs, org.apache.spark.sql.functions.max("event_id")
            .as("max_id")),
          gold, batchId, compactAsync = true)
        // gold is committed — everything in this batch is now queryable
        // (BucketedGold.read serves the merged SCD1 state). An EMPTY
        // micro-batch (legal between produce chunks) short-circuits
        // JOB-FREE inside appendBatch — the observe metric never fires
        // then, so obs.get (which blocks for a completed job) must be
        // gated on the commit flag. max can still be null on the
        // partitions-but-no-rows edge: also no drain.
        if (committed) Option(obs.get("max_id")).foreach { m =>
          val maxId = m.asInstanceOf[Long]
          val now = System.nanoTime()
          var head = inFlight.peek()
          while (head != null && head._1 <= maxId) {
            inFlight.poll()
            if (now >= cutoff.get()) samples.add(now - head._2)
            head = inFlight.peek()
          }
        }
        ()
      }
      .start()
    producer.start()
    Thread.sleep(warmupSec * 1000L)
    cutoff.set(System.nanoTime())
    Thread.sleep(measureSec * 1000L)
    stop.set(true)
    producer.join(5000)
    q.stop(); q.awaitTermination(30000)
    graft.streaming.BucketedGold.awaitCompactions()

    spark.streams.removeListener(listener)

    val lats = samples.toArray(Array.empty[java.lang.Long])
      .map(_.longValue() / 1000000L).sorted // ms
    def pct(p: Double): Long =
      if (lats.isEmpty) -1L
      else lats(math.min(lats.length - 1, math.ceil(p * lats.length).toInt - 1))
    val avg = if (lats.isEmpty) -1L else lats.sum / lats.length
    // engine-phase decomposition: per-batch durationMs components so the
    // residual floor is MEASURED (addBatch = commit job + delta rename;
    // the rest is trigger machinery: offset resolution, planning, WAL)
    val phaseMedians = listener.batches(latencyQuery)
      .filter(_.received_nanos >= cutoff.get())
      .flatMap(_.phases_ms).groupBy(_._1).toSeq
      .map { case (k, vs) =>
        val s = vs.map(_._2).sorted; k -> s(s.length / 2)
      }
      .sortBy(-_._2)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    (pct(0.50), pct(0.95), avg, lats.length, phaseMedians)
  }

  /** The LATENCY-FLOOR sweep: [[latencyOnce]] at three trigger settings —
    * default (back-to-back: a new batch starts the instant the previous
    * commits), ProcessingTime(100 ms) and ProcessingTime(500 ms) — so the
    * floor DECOMPOSITION is measured, not asserted (each arm also emits
    * the per-batch engine-phase medians).
    *
    * Round 8 measured the floor at ~800 ms p50 and named the fix: every
    * non-empty batch's SCD1 apply rewrote the WHOLE gold parquet
    * (~600-700 ms at 100K keys). Round 9 lands it — the gold commit is
    * now a [[graft.streaming.BucketedGold]] delta APPEND (O(batch), one
    * Spark job carrying the drain watermark via observe(), async bucket
    * compaction off the hot path): p50 ~300-340 ms at 2K ev/s. The
    * residual floor is measured in `batch_phase_medians_ms`: the one
    * O(batch) commit job (addBatch ~130-160 ms) plus the engine's durable
    * per-batch WAL (walCommit + commitOffsets ~70 ms) plus trigger
    * machinery — i.e. the binding constraint moved from MY sink to the
    * micro-batch model's per-commit durability, which a record-at-a-time
    * clock like the reference's 87 ms number simply doesn't pay. Spark's
    * async progress tracking is inapplicable (requires a stateless query
    * with a Kafka sink — a foreachBatch MERGE commit is exactly what it
    * excludes).
    */
  def latencyMain(spark: SparkSession,
      outPath: String = "BENCH_STREAM_LATENCY.json"): Unit = {
    val ratePerSec = sys.env.getOrElse("SPARK_GRAFT_STREAM_RATE", "2000").toInt
    val measureSec = sys.env.getOrElse("SPARK_GRAFT_STREAM_SEC", "45").toInt
    val sweep = Seq(-1L, 100L, 500L)
    val arms = sweep.map { t =>
      val (p50, p95, avg, n, phases) = latencyOnce(spark, t)
      val label = if (t < 0) "default (back-to-back)" else s"processing_time_${t}ms"
      println(s"[latency-sweep] $label: p50=$p50 p95=$p95 avg=$avg n=$n phases=$phases")
      s"""{"trigger":"$label","p50":$p50,"p95":$p95,"avg":$avg,"n_samples":$n,""" +
        s""""batch_phase_medians_ms":$phases}"""
    }
    val json =
      s"""{"metric":"stream_e2e_latency_ms","sweep":[${arms.mkString(",")}],""" +
        s""""rate_events_per_sec":$ratePerSec,"measure_sec_per_arm":$measureSec,""" +
        s""""semantics":"produce wall-clock -> SCD1 gold COMMITTED (queryable), per-chunk sampling",""" +
        s""""floor_decomposition":"round-9 gold commit = BucketedGold delta append (O(batch), no state rewrite; async bucket compaction): p50 811 -> ~250-300ms vs round 8. Residual floor measured per-arm in batch_phase_medians_ms: ONE O(batch) commit job (addBatch ~120-130ms: segment read + from_json + single-file parquet write + atomic rename) + durable per-batch WAL (walCommit+commitOffsets ~65ms) + trigger machinery; an event waits for the in-flight cycle plus its own. The reference's 87ms is a record-at-a-time clock with no per-commit durability; matching it on micro-batch would need pipelined/async batch commit, which foreachBatch MERGE semantics exclude",""" +
        s""""reference_envelope":"87ms avg end-to-end latency, record-at-a-time clock (COMPARISON.md:139-143)"}"""
    Files.writeString(Paths.get(outPath), json)
    println(json)
  }

  /** RECOVERY mode (`SPARK_GRAFT_STREAM_MODE=recovery`) — the last
    * published reference number with no analog here: the reference claims
    * 30 s (custom datasource) / 45 s (Debezium arm) recovery-from-failure
    * and 99.99% vs 100% consistency (reference: COMPARISON.md:147-150).
    * Protocol: drive the same kafkalog → silver → SCD1-gold pipeline as
    * the throughput bench (single producer so the event-id space stays a
    * contiguous [0, produced) — the exactly-once audit recomputes the
    * expected gold state from that range), then TWO kill/restart cycles
    * against the SAME checkpoint:
    *
    *  - arm `mid_steady`: stop the query at an arbitrary steady-state
    *    instant (whatever the trigger loop is doing);
    *  - arm `mid_batch`: wait for a batch-commit event, sleep ~40% of the
    *    median batch duration, then stop — the query dies with a batch in
    *    flight, so the restart REPLAYS that batch from the checkpointed
    *    offsets (the path [[graft.streaming.BucketedGold]]'s
    *    replace-own-delta commit and idempotent compaction exist for).
    *
    * The producer keeps producing through both outages (upstream never
    * pauses for a consumer crash); per arm we report seconds from
    * restart() to the first COMMITTED batch (the reference's
    * "recovery time") plus the backlog at restart, then after the second
    * recovery stop the producer and report seconds-to-backlog-drain.
    * Exactly-once is ASSERTED, not assumed: the final gold parquet is
    * anti-joined both ways against the expected SCD1 state recomputed
    * from the full produced id range (latest-per-user by (ts_us,
    * event_id), DELETE drops) — `state_mismatches` must print 0, i.e.
    * the reference's 100%-consistency row, measured across two kills.
    */
  def recoveryMain(spark: SparkSession,
      warmupSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_WARMUP", "12").toInt,
      outageSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUTAGE", "5").toInt,
      keySpace: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_KEYS", "100000").toInt,
      partitions: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "16").toInt,
      maxPerTrigger: Long = sys.env.getOrElse("SPARK_GRAFT_STREAM_TRIGGER", "250000").toLong,
      outPath: String = "BENCH_STREAM_RECOVERY.json"): Unit = {
    val root = Files.createTempDirectory("graft-benchstream-rec").toString
    val (logRoot, topic) = (s"$root/log", "bench_cdc_rec")
    val (gold, ckpt) = (s"$root/gold", s"$root/ckpt")

    val listener = new CdcStreams.MetricsListener
    spark.streams.addListener(listener)
    def batches: Seq[CdcStreams.BatchMetric] = listener.batches(goldQuery)

    // SINGLE producer: contiguous blocks -> ids form [0, produced) exactly
    val producer = new Producers(logRoot, topic, keySpace, partitions,
      nThreads = 1, backlogCap = 4 * maxPerTrigger, listener)

    def commitsAfter(t: Long): Seq[CdcStreams.BatchMetric] =
      batches.filter(b => b.received_nanos >= t && b.event_count > 0)

    var q = startGoldQuery(spark, logRoot, topic, gold, ckpt, maxPerTrigger)
    producer.start()
    Thread.sleep(warmupSec * 1000L)

    // pre-kill sustained rate over the trailing window of committed
    // batches — the re-ramp arm's "back to normal" yardstick
    def recentRate(): Double = {
      val recent = batches.filter(_.event_count > 0)
        .sortBy(_.received_nanos).takeRight(8)
      if (recent.length < 2) 0.0
      else {
        val wall = (recent.last.received_nanos - recent.head.received_nanos) / 1e9
        if (wall <= 0) 0.0 else recent.drop(1).map(_.event_count).sum / wall
      }
    }

    def killAndRecover(arm: String, midBatch: Boolean,
        measureReramp: Boolean = false): String = {
      if (midBatch) {
        // align the stop inside a running batch: wait for a fresh commit,
        // then sleep ~40% of the median batch wall before stopping
        val t = System.nanoTime()
        val deadline = t + 10000000000L
        while (!batches.exists(_.received_nanos >= t) && System.nanoTime() < deadline)
          Thread.sleep(20)
        val durs = batches.map(_.duration_ms).sorted
        val med = if (durs.isEmpty) 500L else durs(durs.length / 2)
        Thread.sleep(math.max(50L, (med * 2) / 5))
      }
      val preKillRate = recentRate()
      val tStop0 = System.nanoTime()
      q.stop(); q.awaitTermination(30000)
      val stopMs = (System.nanoTime() - tStop0) / 1000000L
      Thread.sleep(outageSec * 1000L) // producer keeps running
      val backlog = producer.backlog
      val tRestart = System.nanoTime()
      q = startGoldQuery(spark, logRoot, topic, gold, ckpt, maxPerTrigger)
      val deadline = System.nanoTime() + 120000000000L
      while (commitsAfter(tRestart).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      val firstCommit = commitsAfter(tRestart).headOption
      val recSec = firstCommit
        .map(b => (b.received_nanos - tRestart) / 1e9).getOrElse(-1.0)
      // re-ramp: seconds from restart until the trailing-window rate is
      // back to ≥90% of the pre-kill sustained rate (the producer never
      // paused, so the query is catching up a growing backlog here — the
      // "recovery under the sustained load" arm the reference's 30/45 s
      // numbers describe)
      val rerampJson = if (measureReramp && preKillRate > 0) {
        val rampDeadline = System.nanoTime() + 120000000000L
        var ramped = -1.0
        while (ramped < 0 && System.nanoTime() < rampDeadline) {
          val post = commitsAfter(tRestart)
          if (post.length >= 2) {
            val wall = (post.last.received_nanos - post.head.received_nanos) / 1e9
            val rate = if (wall <= 0) 0.0 else post.drop(1).map(_.event_count).sum / wall
            if (rate >= 0.9 * preKillRate)
              ramped = (post.last.received_nanos - tRestart) / 1e9
          }
          if (ramped < 0) Thread.sleep(50)
        }
        s""","pre_kill_rate_ev_s":${preKillRate.round},""" +
          s""""reramp_to_90pct_sec":${"%.2f".format(ramped)}"""
      } else ""
      s"""{"kill":"$arm","stop_ms":$stopMs,"outage_sec":$outageSec,""" +
        s""""backlog_at_restart":$backlog,""" +
        s""""first_commit_sec":${"%.2f".format(recSec)}$rerampJson}"""
    }

    val armSteady = killAndRecover("mid_steady", midBatch = false)
    Thread.sleep(5000L) // re-enter steady state between arms
    val armMid = killAndRecover("mid_batch", midBatch = true)
    Thread.sleep(5000L)
    // third arm: kill at the sustained consumption rate and report how
    // long the restarted query takes to re-attain 90% of it
    val armLoad = killAndRecover("mid_load_reramp", midBatch = false,
      measureReramp = true)

    // drain: stop producing, measure catch-up from the second recovery
    producer.stopAndJoin()
    val producedTotal = producer.produced.get()
    val tDrain0 = System.nanoTime()
    val drainDeadline = System.nanoTime() + 300000000000L
    while (producer.consumed < producedTotal && System.nanoTime() < drainDeadline)
      Thread.sleep(50)
    val drainSec = (System.nanoTime() - tDrain0) / 1e9
    q.stop(); q.awaitTermination(30000)
    graft.streaming.BucketedGold.awaitCompactions()

    // exactly-once audit: expected SCD1 state from the produced id range
    val expected = spark.range(0, producedTotal).selectExpr(
        s"id % $keySpace AS user_id",
        "CASE WHEN id % 20 = 0 THEN 'DELETE' WHEN id % 5 = 0 THEN 'INSERT' " +
          "ELSE 'UPDATE' END AS operation",
        "id * 1000 AS ts_us", "id AS event_id",
        "CASE WHEN id % 20 = 0 THEN CAST(0 AS DOUBLE) " +
          "ELSE CAST(id % 10000 AS DOUBLE) / 100.0 END AS value")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(org.apache.spark.sql.functions.col("ts_us").desc,
            org.apache.spark.sql.functions.col("event_id").desc)))
      .filter("rn = 1 AND operation <> 'DELETE'").drop("rn")
    // pin the merged state once: the audit consumes `actual` three times
    // (two exceptAll sides + count) and each bare evaluation would re-run
    // the merge-on-read window over base ∪ deltas
    val actual = graft.streaming.BucketedGold.read(spark, gold)
      .select("user_id", "operation", "ts_us", "event_id", "value")
      .localCheckpoint()
    val mismatches =
      expected.exceptAll(actual).count() + actual.exceptAll(expected).count()

    val json =
      s"""{"metric":"stream_recovery","arms":[$armSteady,$armMid,$armLoad],""" +
        s""""drain_sec":${"%.2f".format(drainSec)},""" +
        s""""produced_total":$producedTotal,"gold_rows":${actual.count()},""" +
        s""""state_mismatches":$mismatches,""" +
        s""""pipeline":"kafkalog -> debezium silver parse -> bucketed-delta SCD1 gold commit (checkpointed)",""" +
        s""""semantics":"first_commit_sec = restart() -> first COMMITTED batch; state_mismatches = exactly-once audit vs recomputed SCD1 expectation",""" +
        s""""reference_envelope":"30s custom / 45s debezium recovery, 99.99% vs 100% consistency (COMPARISON.md:147-150)"}"""
    Files.writeString(Paths.get(outPath), json)
    println(json)
    spark.streams.removeListener(listener)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    if (mismatches != 0)
      throw new IllegalStateException(
        s"exactly-once violated across kill/restart: $mismatches mismatching rows")
  }

  /** THROUGHPUT mode (the default): two backlog-capped producer threads
    * (one thread builds envelopes at ~180K/s — below what the consumer
    * drains; two keep the bench consumer-limited, the quantity under
    * test) against the gold query for `warmupSec + measureSec`; writes
    * `BENCH_STREAM.json`. A failed gold read fails the run.
    */
  def throughputMain(spark: SparkSession,
      warmupSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_WARMUP", "20").toInt,
      measureSec: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_SEC", "60").toInt,
      keySpace: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_KEYS", "100000").toInt,
      partitions: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "16").toInt,
      maxPerTrigger: Long = sys.env.getOrElse("SPARK_GRAFT_STREAM_TRIGGER", "250000").toLong,
      outPath: String = "BENCH_STREAM.json"): Unit = {
    val root = Files.createTempDirectory("graft-benchstream").toString
    val (logRoot, topic) = (s"$root/log", "bench_cdc")
    val (gold, ckpt) = (s"$root/gold", s"$root/ckpt")

    val listener = new CdcStreams.MetricsListener
    spark.streams.addListener(listener)
    // backlog cap: the producers stay 2-4 triggers ahead (~4 triggers of
    // ~350-byte envelopes on disk)
    val producers = new Producers(logRoot, topic, keySpace, partitions,
      nThreads = 2, backlogCap = 4 * maxPerTrigger, listener)

    val q = startGoldQuery(spark, logRoot, topic, gold, ckpt, maxPerTrigger)
    val t0 = System.nanoTime()
    producers.start()
    val cutoffNanos = t0 + warmupSec * 1000000000L
    Thread.sleep((warmupSec + measureSec) * 1000L)
    producers.stopAndJoin()
    val backlogEnd = producers.backlog
    q.stop()
    q.awaitTermination(30000)
    graft.streaming.BucketedGold.awaitCompactions()
    spark.streams.removeListener(listener)

    val measured = listener.batches(goldQuery)
      .filter(b => b.received_nanos >= cutoffNanos && b.event_count > 0)
      .sortBy(_.batch_id)
    val tEnd = measured.lastOption.map(_.received_nanos).getOrElse(cutoffNanos)
    val wallSec = math.max((tEnd - cutoffNanos) / 1e9, 1e-9)
    val nEvents = measured.map(_.event_count).sum
    val evPerSec = nEvents / wallSec
    val durs = measured.map(_.duration_ms).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L
      else durs(math.min(durs.length - 1, math.ceil(p * durs.length).toInt - 1))
    val procPerSec =
      if (measured.isEmpty) 0.0
      else nEvents.toDouble * 1000.0 / math.max(measured.map(_.duration_ms).sum, 1L)
    val goldRows = graft.streaming.BucketedGold.read(spark, gold).count()

    val json =
      s"""{"metric":"stream_events_per_sec","value":${evPerSec.round},""" +
        s""""unit":"events/sec","sustained_sec":${"%.1f".format(wallSec)},""" +
        s""""events_measured":$nEvents,"batches_measured":${measured.length},""" +
        s""""p50_batch_ms":${pct(0.50)},"p95_batch_ms":${pct(0.95)},""" +
        s""""processing_events_per_sec":${procPerSec.round},""" +
        s""""warmup_sec":$warmupSec,"max_offsets_per_trigger":$maxPerTrigger,""" +
        s""""partitions":$partitions,"key_space":$keySpace,""" +
        s""""gold_rows":$goldRows,"produced_total":${producers.produced.get()},""" +
        s""""backlog_end":$backlogEnd,""" +
        s""""pipeline":"kafkalog -> debezium silver parse -> bucketed-delta SCD1 gold commit",""" +
        s""""reference_envelope":"10000-50000 ev/s sustained, 45000 peak, 87ms avg latency (COMPARISON.md:33-34,139-143)"}"""
    Files.writeString(Paths.get(outPath), json)
    println(json)
    // the embedded log/checkpoint/gold are scratch — delete like lagDemo
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // committer v2: task files move to the output dir at TASK commit —
    // one fewer sequential rename pass per micro-batch commit. Safety
    // here: BucketedGold writes every delta and every compacted base into
    // a fresh dir that only becomes visible when a `_log` version lists
    // its files, so a half-committed write is never read.
    spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    try sys.env.get("SPARK_GRAFT_STREAM_MODE") match {
      case Some("latency")  => latencyMain(spark)
      case Some("recovery") => recoveryMain(spark)
      case _                => throughputMain(spark)
    } finally spark.stop()
  }
}
