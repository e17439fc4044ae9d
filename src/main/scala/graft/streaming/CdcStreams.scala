package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Structured Streaming re-expression of the reference's CDC runtime:
  * stream-in → normalize envelope → watermarked monitoring aggregations →
  * stateful current-state tracking → foreachBatch MERGE into the target
  * (reference: src/notebooks/demo/cdc_500_tables_streaming.py:117-354,
  * notebooks/demo/unity_catalog_cdc_demo.py:279-501).
  *
  * The reference's custom DataSource polls MySQL binlog positions
  * (aurora_cdc_datasource_v2.py:248-348); Spark-first, any streaming source
  * (file/kafka/memory) that delivers the same envelope plugs into these
  * transforms — sources and logic stay decoupled.
  *
  * Scale: the stateful ops partition by user_id (state store sharded by
  * key); windowed aggs are watermark-bounded so state is evicted; the
  * foreachBatch commit writes only the micro-batch ([[BucketedGold]]).
  */
object CdcStreams {

  case class Ev(event_id: Long, ts_us: Long, user_id: Long, event_type: String, value: Double)
  case class UserState(user_id: Long, last_event_id: Long, last_op: String,
      last_value: Double, n_events: Long)

  /** Normalize a raw events frame (batch or streaming) into the CDC
    * envelope; mirror of graft.cdc.Cdc.log for arbitrary sources.
    */
  def normalize(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"),
      when(col("event_type") === "signup", "INSERT")
        .when(col("event_type") === "error", "DELETE")
        .otherwise("UPDATE").as("operation"),
      expr("ts DIV 1000").as("ts_us"),
      col("event_type"), col("value"))

  /** Watermarked 5-minute windowed monitoring aggregation (streaming analog
    * of Cdc.qualityMetrics / the reference's progress query).
    */
  def windowedCounts(normalized: DataFrame): DataFrame =
    normalized
      .withColumn("tsx", timestamp_micros(col("ts_us")))
      .withWatermark("tsx", "30 minutes")
      .groupBy(window(col("tsx"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Declarative gap-based sessionization for streams: session_window keeps
    * per-key state only until watermark passes the gap.
    */
  def sessionWindows(normalized: DataFrame): DataFrame =
    normalized
      .withColumn("tsx", timestamp_micros(col("ts_us")))
      .withWatermark("tsx", "1 hour")
      .groupBy(session_window(col("tsx"), "30 minutes").as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"), col("session_value"))

  /** Stateful SCD1 current-state tracking: one state row per user, updated
    * per micro-batch (mapGroupsWithState), emitted in Update mode — the
    * streaming analog of Cdc.currentScd1 / DLT apply_changes SCD1.
    */
  def latestState(normalized: DataFrame)(implicit spark: SparkSession): Dataset[UserState] = {
    implicit val evEnc = Encoders.product[Ev]
    implicit val stEnc = Encoders.product[UserState]
    normalized
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("operation").as("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, -1L, "NONE", 0.0, 0L))
          // events within a batch ordered by (ts_us, event_id) for determinism
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val next = sorted.foldLeft(prev) { (st, e) =>
            UserState(uid, e.event_id, e.event_type, e.value, st.n_events + 1)
          }
          state.update(next)
          next
      }
  }

  /** #367 [[latestState]] on Spark 4's transformWithState — the state-v2
    * API this engine should be written against going forward: typed
    * `ValueState` acquired from the StatefulProcessorHandle (instead of
    * the single opaque GroupState blob), per-state TTL configs, timers
    * as first-class callbacks, and schema-evolvable state — all backed by
    * the RocksDB provider in production. Semantics are IDENTICAL to the
    * v1 twin (same fold, same batch-internal (ts, event_id) ordering),
    * which the spec pins by running both against the same stream.
    */
  class LatestStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserState] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserState]("latest",
        Encoders.product[UserState], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, evs: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserState] = {
      val prev = if (st.exists()) st.get() else UserState(uid, -1L, "NONE", 0.0, 0L)
      val next = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foldLeft(prev) {
        (s, e) => UserState(uid, e.event_id, e.event_type, e.value, s.n_events + 1)
      }
      st.update(next)
      Iterator.single(next)
    }
  }

  /** #367 Registered transform: [[LatestStateProcessor]] wired through
    * `KeyValueGroupedDataset.transformWithState` (requires the RocksDB
    * state store provider — transformWithState does not run on the
    * default HDFS-backed store).
    */
  def latestStateTws(normalized: DataFrame)(
      implicit spark: SparkSession): Dataset[UserState] = {
    implicit val evEnc = Encoders.product[Ev]
    implicit val stEnc = Encoders.product[UserState]
    normalized
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("operation").as("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new LatestStateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** #380 [[sessionState]] on transformWithState — the state-v2 twin of
    * the v1 sessionizer, and the op that exercises the part of the new
    * API the latest-state twin doesn't: EVENT-TIME TIMERS as first-class
    * callbacks. In-batch gap splits emit from `handleInputRows` (same
    * fold, same (ts, event_id) ordering as v1); the final close of an
    * idle session comes from a registered timer at `last + gap` firing in
    * `handleExpiredTimer` once the watermark passes. A session extended
    * after its timer was registered leaves a STALE timer behind —
    * guarded on fire (close only if the watermark really cleared
    * `last + gap`), the standard pattern instead of tracking the old
    * expiry for deleteTimer. Requires RocksDB + watermark, like every
    * transformWithState operator.
    */
  class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvW, SessionOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessState]("session",
        Encoders.product[SessState], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, evs: Iterator[EvW],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      var closed = List.empty[SessionOut]
      var cur = if (st.exists()) Some(st.get()) else None
      evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        cur match {
          case Some(s) if e.ts_us - s.lastUs <= gapUs =>
            cur = Some(SessState(s.n + 1, s.value + e.value, s.startUs, e.ts_us))
          case Some(s) =>
            closed ::= SessionOut(uid, s.n, s.value, s.startUs, s.lastUs)
            cur = Some(SessState(1, e.value, e.ts_us, e.ts_us))
          case None =>
            cur = Some(SessState(1, e.value, e.ts_us, e.ts_us))
        }
      }
      cur.foreach { s =>
        st.update(s)
        getHandle.registerTimer(s.lastUs / 1000 + gapUs / 1000)
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(uid: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!st.exists()) Iterator.empty
      else {
        val s = st.get()
        // stale-timer guard: the session may have been extended since
        // this timer was registered — only close once truly idle
        if (tv.getCurrentWatermarkInMs() >= s.lastUs / 1000 + gapUs / 1000) {
          st.clear()
          Iterator.single(SessionOut(uid, s.n, s.value, s.startUs, s.lastUs))
        } else Iterator.empty
      }
    }
  }

  /** #380 Registered transform: [[SessionProcessor]] wired through
    * `transformWithState` with `TimeMode.EventTime` (timers keyed to the
    * watermark) — output = CLOSED sessions only, matching the v1
    * [[sessionState]] twin row-for-row on any stream.
    */
  def sessionStateTws(normalized: DataFrame)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    implicit val evEnc = Encoders.product[EvW]
    implicit val outEnc = Encoders.product[SessionOut]
    val gapUs = 30L * 60 * 1000000
    normalized
      .withColumn("tsx", timestamp_micros(col("ts_us")))
      .select(col("event_id"), col("ts_us"), col("user_id"), col("value"), col("tsx"))
      .withWatermark("tsx", "10 minutes")
      .as[EvW]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  case class RecentEv(ts_us: Long, event_id: Long, cents: Long)
  case class RecentOut(user_id: Long, event_id: Long, n_recent: Long,
    sum_recent_c: Long)

  /** #384 Rolling last-N activity cache on transformWithState LIST state —
    * the third state-v2 primitive after the ValueState twin (#367) and the
    * timer-driven sessionizer (#380): per user, a bounded buffer of the
    * most recent N events (ts, id, exact cents), trimmed on every append,
    * emitting each event's rolling census (how many of the last N exist
    * yet, their cents sum) — the online feature `ml_pit_training_set`
    * computes offline. ListState keeps the buffer as N SEPARATE store
    * rows (append = one RocksDB put, no read-modify-write of a blob),
    * which is the point of the API; the trim rewrite only pays when the
    * buffer is full. State is O(N) per key by construction.
    */
  class RecentEventsProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, RecentOut] {
    @transient private var recent: org.apache.spark.sql.streaming.ListState[RecentEv] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[RecentEv]("recent",
        Encoders.product[RecentEv], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, evs: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RecentOut] = {
      val prior = recent.get().toVector
      var buf = prior
      val out = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        buf = (buf :+ RecentEv(e.ts_us, e.event_id,
          math.round(e.value * 100))).takeRight(n)
        RecentOut(uid, e.event_id, buf.length.toLong, buf.map(_.cents).sum)
      }
      // common (non-full) case: the prior rows are an untrimmed prefix of
      // the new buffer → append ONLY the new suffix as individual puts
      // (the reason ListState exists); full clear+rewrite pays only when
      // trimming actually dropped a head element
      if (buf.startsWith(prior)) {
        buf.drop(prior.length).foreach(recent.appendValue)
      } else {
        recent.clear()
        recent.appendList(buf.toArray)
      }
      out.iterator
    }
  }

  /** #384 Registered transform for [[RecentEventsProcessor]] (RocksDB
    * required, like every transformWithState operator). */
  def recentEventsTws(normalized: DataFrame, n: Int = 5)(
      implicit spark: SparkSession): Dataset[RecentOut] = {
    implicit val evEnc = Encoders.product[Ev]
    implicit val outEnc = Encoders.product[RecentOut]
    normalized
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("operation").as("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new RecentEventsProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class TypeCountOut(user_id: Long, event_type: String, n: Long)

  /** #397 Per-(user, event-type) running counts on transformWithState MAP
    * state — the fourth and last state-v2 primitive after ValueState
    * (#367), timers (#380), and ListState (#384): MapState keys
    * (event_type) are SEPARATE store rows, so bumping one type is a
    * point get+put — never a read-modify-write of the whole per-user
    * census, which is the reason MapState exists over a ValueState map
    * blob. Emits the updated rows only (Update-mode delta, what a
    * downstream upsert sink wants). State is O(types)/key.
    */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TypeCountOut] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, evs: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCountOut] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val cur = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCountOut(uid, t, counts.getValue(t)))
    }
  }

  /** #397 Registered transform for [[TypeCountsProcessor]] (RocksDB
    * required, like every transformWithState operator). */
  def typeCountsTws(normalized: DataFrame)(
      implicit spark: SparkSession): Dataset[TypeCountOut] = {
    implicit val evEnc = Encoders.product[Ev]
    implicit val outEnc = Encoders.product[TypeCountOut]
    normalized
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("operation").as("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class Scd2Out(user_id: Long, event_id: Long, operation: String,
    value: Double, valid_from_us: Long, valid_to_us: Long, is_current: Boolean)

  /** Stateful SCD TYPE 2 maintenance on the stream — the history-keeping
    * counterpart of [[latestState]] (DLT `apply_changes` with
    * stored_as_scd_type=2, dlt_cdc_pipeline.py:312-329): per key the state
    * holds the OPEN version; each arriving change emits the previous
    * version CLOSED (valid_to = the new change's time, is_current=false)
    * plus the new open version. Update-mode sinks upsert on
    * (user_id, valid_from_us, event_id); state is one row per key
    * regardless of history length — the history lives in the sink, not
    * the store.
    */
  def scd2Stream(normalized: DataFrame)(implicit spark: SparkSession): Dataset[Scd2Out] = {
    implicit val evEnc = Encoders.product[Ev]
    implicit val stEnc = Encoders.product[Scd2Out]
    normalized
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("operation").as("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Scd2Out, Scd2Out](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Scd2Out]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          var open = state.getOption
          sorted.foreach { e =>
            open.foreach { prev =>
              out += prev.copy(valid_to_us = e.ts_us, is_current = false)
            }
            open = Some(Scd2Out(uid, e.event_id, e.event_type, e.value,
              e.ts_us, Long.MaxValue, is_current = true))
          }
          open.foreach { cur => state.update(cur); out += cur }
          out.iterator
      }
  }

  case class IvmEv(event_id: Long, ts_us: Long, user_id: Long,
    operation: String, event_type: String, value: Double)
  case class IvmLive(live: Boolean, grp: String, cents: Long)
  case class IvmDelta(user_id: Long, event_id: Long, grp: String,
    delta_cents: Long, drows: Int)

  /** #259 Streaming incremental-view maintenance: the stateful realization
    * of the contract `Cdc.ivmAudit` proves in batch — per key the state
    * holds the LIVE (group, cents) pair; every arriving change emits a
    * retraction of the previous live state (if any) plus its own
    * assertion (unless it is a DELETE, which leaves a tombstone in
    * state). Downstream, `sum(delta_cents), sum(drows)` grouped by `grp`
    * IS the maintained aggregate, and by the audit's telescoping argument
    * it equals recomputing from each key's final live row — for any op
    * sequence and any micro-batch boundary placement, because the
    * tombstone travels in state across batches.
    *
    * Deltas are append-only facts (Append mode); state is ONE row per
    * key regardless of history. Out-of-order arrivals WITHIN a batch are
    * folded in (ts_us, event_id) order; across batches the CDC source's
    * per-key ordering is assumed (the reference's binlog guarantee).
    */
  def ivmDeltas(enveloped: DataFrame)(implicit spark: SparkSession): Dataset[IvmDelta] = {
    implicit val evEnc = Encoders.product[IvmEv]
    implicit val outEnc = Encoders.product[IvmDelta]
    implicit val stEnc = Encoders.product[IvmLive]
    enveloped
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("operation"), col("event_type"), col("value")).as[IvmEv]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[IvmLive, IvmDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[IvmEv], state: GroupState[IvmLive]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[IvmDelta]
          var cur = state.getOption
          sorted.foreach { e =>
            cur.filter(_.live).foreach { p =>
              out += IvmDelta(uid, e.event_id, p.grp, -p.cents, -1)
            }
            if (e.operation != "DELETE") {
              val c = math.floor(e.value * 100).toLong
              out += IvmDelta(uid, e.event_id, e.event_type, c, 1)
              cur = Some(IvmLive(live = true, e.event_type, c))
            } else cur = Some(IvmLive(live = false, "", 0L))
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming exactly-once dedup: duplicate deliveries dropped by event_id
    * with state bounded by the watermark (the streaming analog of
    * Cdc.dedupExactlyOnce; covers at-least-once upstreams like Kafka
    * redeliveries — reference handles this with binlog offsets,
    * aurora_cdc_datasource_v2.py:479-489).
    */
  def streamingDedup(normalized: DataFrame): DataFrame =
    normalized
      .withColumn("tsx", timestamp_micros(col("ts_us")))
      .withWatermark("tsx", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Multi-table CDC: tag + union envelopes from heterogeneous sources into
    * ONE stream (the reference's core claim — 500+ tables through a single
    * unified envelope, aurora_cdc_datasource_v2.py:55-90 + table registry).
    * Downstream operators key on (src_table, entity) and the foreachBatch
    * writer routes by partitionBy(src_table).
    */
  def multiSourceUnion(tagged: Seq[(String, DataFrame)]): DataFrame =
    tagged.map { case (name, df) =>
      normalize(df).withColumn("src_table", lit(name))
    }.reduce(_ unionByName _)

  /** Streaming Debezium silver + quarantine: raw envelope strings →
    * full-schema parse → expectation split, both branches independently
    * sinkable — the DLT silver/quarantine topology on plain Structured
    * Streaming (dlt_cdc_pipeline.py:149-206 + expect_all_or_drop). Every
    * stage is stateless column arithmetic, so the stream shuffles
    * nothing and scales with input partitions.
    */
  def silverWithQuarantine(raw: DataFrame, eventCol: String,
      rules: Seq[(String, String)]): (DataFrame, DataFrame) =
    graft.cdc.Debezium.expectOrDrop(
      graft.cdc.Debezium.parseEnvelope(raw, eventCol), rules)

  /** Streaming processing-delay latency metrics — the watermarked twin of
    * [[graft.cdc.Debezium.latencyMetrics]] for the silver stream
    * (dlt_cdc_pipeline.py:338-372): delay = capture time − source commit
    * time per 5-minute event-time window × operation, with latency and
    * volume flags. Watermark bounds the window state; everything before
    * the aggregation is stateless column arithmetic.
    */
  def streamingLatency(silver: DataFrame): DataFrame =
    silver
      .withColumn("delay_ms", col("event_ts_ms") - col("source_ts_ms"))
      .withColumn("src_ts", timestamp_millis(col("source_ts_ms")))
      .withWatermark("src_ts", "30 minutes")
      .groupBy(window(col("src_ts"), "5 minutes"), col("operation"))
      .agg(count(lit(1)).as("event_count"),
        expr("sum(delay_ms) * 10000 DIV count(1)").as("avg_delay_ms_e4"),
        max(col("delay_ms")).as("max_delay_ms"))
      .withColumn("high_latency_flag", col("max_delay_ms") > 60000L)
      .withColumn("low_volume_flag", col("event_count") < 10)

  /** Streaming anomaly monitor: per event-time window × event type,
    * mean/stddev value plus how many events sit beyond `k` standard
    * deviations of THAT window's mean — the streamable counterpart to
    * the batch median/MAD fences ([[graft.operators.Events.anomalyMad]];
    * medians need two passes, so a stream trades robustness for
    * single-pass moments). count/sum/sum-of-squares aggregate
    * incrementally under the watermark; mean and variance derive in the
    * post-aggregation projection and the window flags hot when its most
    * extreme value breaches the z-fence of its OWN moments — one pass,
    * no per-event re-join against the aggregate.
    */
  def streamingAnomaly(events: DataFrame, k: Double = 3.0): DataFrame =
    events
      .withColumn("ev_ts", timestamp_micros(col("ts_us")))
      .withWatermark("ev_ts", "30 minutes")
      .groupBy(window(col("ev_ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("s1"),
        sum(col("value") * col("value")).as("s2"),
        max(abs(col("value"))).as("max_abs"))
      .withColumn("mean_v", col("s1") / col("n"))
      .withColumn("var_v", greatest(lit(0.0), col("s2") / col("n") - col("mean_v") * col("mean_v")))
      .withColumn("hot_flag",
        col("max_abs") > col("mean_v") + lit(k) * sqrt(col("var_v")))
      .drop("s1", "s2")

  /** Heterogeneous multi-table union — the 500-table reality: tables with
    * DIFFERENT columns unify under one envelope (the reference's unified
    * event schema keeps per-table payloads as serialized records,
    * aurora_cdc_datasource_v2.py:55-90; Debezium does the same with
    * string before/after images). Shared metadata columns stay typed
    * (src_table, entity_key, seq); the per-table payload packs to a JSON
    * string; `payload_schema` carries the DDL so consumers can
    * `from_json` back — a self-describing schema registry riding with the
    * data. All row-local, codegen'd, works identically on batch and
    * streaming frames.
    */
  def heterogeneousUnion(tagged: Seq[(String, DataFrame, String, String)]): DataFrame =
    tagged.map { case (name, df, keyCol, seqCol) =>
      val payloadCols = df.columns.filterNot(c => c == keyCol || c == seqCol).toSeq
      val payloadSchema = org.apache.spark.sql.types.StructType(
        payloadCols.map(c => df.schema(c)))
      df.select(
        lit(name).as("src_table"),
        col(keyCol).cast("string").as("entity_key"),
        col(seqCol).cast("long").as("seq"),
        to_json(struct(payloadCols.map(col): _*)).as("payload"),
        lit(payloadSchema.toDDL).as("payload_schema"))
    }.reduce(_ unionByName _)

  /** Recover one table's typed columns from the unified envelope: filter
    * by tag, `from_json` the payload with the registered DDL.
    */
  def decodePayload(env: DataFrame, srcTable: String, ddl: String): DataFrame =
    env.filter(col("src_table") === srcTable)
      .select(col("entity_key"), col("seq"),
        from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL(ddl)).as("p"))
      .selectExpr("entity_key", "seq", "p.*")

  /** Schema-drift detection over the unified envelope — the 500-table
    * operational hazard the reference's registry never guards: a source
    * table gains or drops a column and every downstream `from_json` decode
    * silently nulls or ignores it. Compares the REGISTERED column set per
    * table against the keys actually observed in payload JSON:
    *
    *  - `unregistered`  — column in the data, absent from the registry
    *    (source added a column; the registered DDL must evolve),
    *  - `missing_in_data` — registered column never observed (source
    *    dropped/renamed it, or it is null in every row — `to_json` omits
    *    null fields, so per-row presence counts also expose partial
    *    nullability drift),
    *  - `ok` — registered and observed.
    *
    * `json_object_keys` is row-local and codegen'd; the observed-key
    * aggregate shuffles (table, column) pairs — bounded by the total
    * column count, not the row count — so the full-outer reconciliation
    * join runs over two frames the size of the combined schemas (Spark
    * can't broadcast a full-outer side; both inputs are already tiny).
    */
  def schemaDrift(env: DataFrame, registry: Map[String, Seq[String]]): DataFrame = {
    val spark = env.sparkSession
    import spark.implicits._
    val observed = env
      .select(col("src_table"), explode(expr("json_object_keys(payload)")).as("col_name"))
      .groupBy("src_table", "col_name")
      .agg(count(lit(1)).as("n_rows_present"))
    val registered = registry.toSeq
      .flatMap { case (t, cols) => cols.map(c => (t, c)) }
      .toDF("src_table", "col_name")
      .withColumn("registered", lit(true))
    observed.join(registered, Seq("src_table", "col_name"), "full_outer")
      .select(col("src_table"), col("col_name"),
        coalesce(col("n_rows_present"), lit(0L)).as("n_rows_present"),
        when(col("registered").isNull, "unregistered")
          .when(col("n_rows_present").isNull, "missing_in_data")
          .otherwise("ok").as("status"))
  }

  /** #395 `cdc_schema_migration` — the DDL plan [[schemaDrift]]'s census
    * calls for: per (table, column), unregistered columns get an
    * `ALTER TABLE … ADD COLUMN` statement with the type INFERRED from the
    * observed payload values (all-BIGINT-castable → BIGINT, else
    * all-DOUBLE-castable → DOUBLE, else STRING — inference through the
    * JSON string form, the only form a CDC consumer actually sees) and a
    * nullability verdict from the fill rate; registered-but-absent
    * columns report for review with no destructive DDL (dropping is a
    * human decision). One payload key-space aggregate (schema-sized
    * output) + a broadcast table-total join — the 500-table onboarding
    * loop closed as column arithmetic.
    */
  def schemaMigration(env: DataFrame,
      registry: Map[String, Seq[String]]): DataFrame = {
    val spark = env.sparkSession
    import spark.implicits._
    val totals = env.groupBy("src_table").agg(count(lit(1)).as("n_table_rows"))
    val observed = env
      .select(col("src_table"),
        explode(expr("json_object_keys(payload)")).as("col_name"), col("payload"))
      .withColumn("v", expr("get_json_object(payload, concat('$.', col_name))"))
      .groupBy("src_table", "col_name")
      // integerness by REGEX, not try_cast: DuckDB's string→BIGINT cast
      // rounds '81137.29' where Spark's returns NULL — the one string-cast
      // divergence between the engines, dodged entirely by the char class
      .agg(count(lit(1)).as("n_rows_present"),
        sum(expr("CASE WHEN v RLIKE '^-?[0-9]+$' THEN 1 ELSE 0 END"))
          .as("n_int"),
        sum(expr("CASE WHEN try_cast(v AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END"))
          .as("n_num"))
    val registered = registry.toSeq
      .flatMap { case (t, cols) => cols.map(c => (t, c)) }
      .toDF("src_table", "col_name")
      .withColumn("registered", lit(true))
    observed.join(registered, Seq("src_table", "col_name"), "full_outer")
      .join(broadcast(totals), Seq("src_table"), "left")
      .withColumn("status",
        when(col("registered").isNull, "unregistered")
          .when(col("n_rows_present").isNull, "missing_in_data")
          .otherwise("ok"))
      .withColumn("inferred_type",
        when(col("n_rows_present").isNull, lit(null))
          .when(col("n_int") === col("n_rows_present"), "BIGINT")
          .when(col("n_num") === col("n_rows_present"), "DOUBLE")
          .otherwise("STRING"))
      .withColumn("fill_ppm",
        expr("CASE WHEN n_rows_present IS NULL THEN 0 " +
          "ELSE n_rows_present * 1000000 DIV n_table_rows END"))
      .withColumn("ddl",
        when(col("status") === "unregistered",
          concat(lit("ALTER TABLE "), col("src_table"), lit(" ADD COLUMN "),
            col("col_name"), lit(" "), col("inferred_type"),
            when(col("fill_ppm") === 1000000L, lit("")).otherwise(lit(" NULL")))))
      .select(col("src_table"), col("col_name"), col("status"),
        coalesce(col("n_rows_present"), lit(0L)).as("n_rows_present"),
        col("inferred_type"), col("fill_ppm"), col("ddl"))
  }

  /** Stream-static enrichment: join the CDC stream against a broadcast
    * dimension snapshot (the reference resolves table/PK metadata per event
    * the same way, aurora_cdc_datasource_v2.py:387-399). Stream-static
    * joins never shuffle the stream side when the static side broadcasts.
    */
  def enriched(normalized: DataFrame, dim: DataFrame, dimKey: String): DataFrame =
    normalized.join(broadcast(dim), normalized("user_id") === dim(dimKey), "left")

  case class SessionOut(user_id: Long, n_events: Long, session_value: Double,
      start_us: Long, end_us: Long)
  case class SessState(n: Long, value: Double, startUs: Long, lastUs: Long)

  /** Custom gap-session tracking with flatMapGroupsWithState: emits a
    * session row when the 30-minute gap elapses in EVENT time (watermark-
    * driven EventTimeTimeout — no busy polling), keeping one small state
    * record per active user — the hand-rolled equivalent of session_window
    * for semantics it can't express (per-event state updates, custom
    * emission).
    */
  case class EvW(event_id: Long, ts_us: Long, user_id: Long, value: Double,
      tsx: java.sql.Timestamp)

  def sessionState(normalized: DataFrame)(implicit spark: SparkSession): Dataset[SessionOut] = {
    implicit val evEnc = Encoders.product[EvW]
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[SessState]
    val gapUs = 30L * 60 * 1000000
    normalized
      .withColumn("tsx", timestamp_micros(col("ts_us")))
      .select(col("event_id"), col("ts_us"), col("user_id"), col("value"), col("tsx"))
      .withWatermark("tsx", "10 minutes")
      .as[EvW]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[EvW], state: GroupState[SessState]) =>
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          if (state.hasTimedOut) {
            cur.foreach(s => closed ::= SessionOut(uid, s.n, s.value, s.startUs, s.lastUs))
            state.remove()
            closed.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.lastUs <= gapUs =>
                  cur = Some(SessState(s.n + 1, s.value + e.value, s.startUs, e.ts_us))
                case Some(s) =>
                  closed ::= SessionOut(uid, s.n, s.value, s.startUs, s.lastUs)
                  cur = Some(SessState(1, e.value, e.ts_us, e.ts_us))
                case None =>
                  cur = Some(SessState(1, e.value, e.ts_us, e.ts_us))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes last event + gap
              state.setTimeoutTimestamp(s.lastUs / 1000 + gapUs / 1000)
            }
            closed.reverseIterator
          }
      }
  }

  case class AbState(nA: Long, s1A: Long, s2A: Long, nB: Long, s1B: Long,
      s2B: Long, maxLlr: Double)
  case class AbLook(experiment: String, n_a: Long, n_b: Long,
      mean_a: Double, mean_b: Double, llr: Double, pval: Double,
      signif: Boolean)

  /** #361 Streaming always-valid A/B monitor — the live realization of
    * [[graft.operators.Events.sequentialAb]]: per-experiment state holds
    * the six cumulative integers (n, Σcents, Σcents² per arm) plus the
    * running-max mSPRT log-likelihood ratio; every micro-batch is a
    * "look" that folds its purchases in and emits the current
    * always-valid p-value and significance flag. Because the p-value is
    * valid at EVERY look, emitting one per micro-batch is statistically
    * sound — no peeking penalty, the whole point of the sequential test.
    *
    * Scale: state is O(1) per experiment (seven numbers), keyed by
    * experiment id so thousands of concurrent experiments shard across
    * the state store; arithmetic matches the batch operator exactly
    * (integer cents in, identical float formula out).
    */
  def sequentialAbStream(normalized: DataFrame, tau2: Double = 100.0,
      lnInvAlpha: Double = math.log(20.0))(
      implicit spark: SparkSession): Dataset[AbLook] = {
    import spark.implicits._
    normalized
      .filter(col("event_type") === "purchase")
      .select(lit("exp0").as("experiment"),
        (col("user_id") % 2).cast("long").as("arm"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_c"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[AbState, AbLook](GroupStateTimeout.NoTimeout) {
        (exp, rows, state) =>
          var st = state.getOption
            .getOrElse(AbState(0, 0, 0, 0, 0, 0, Double.NegativeInfinity))
          rows.foreach { case (_, arm, v) =>
            if (arm == 0)
              st = st.copy(nA = st.nA + 1, s1A = st.s1A + v, s2A = st.s2A + v * v)
            else
              st = st.copy(nB = st.nB + 1, s1B = st.s1B + v, s2B = st.s2B + v * v)
          }
          val look = if (st.nA >= 2 && st.nB >= 2) {
            val mA = st.s1A.toDouble / st.nA / 100.0
            val mB = st.s1B.toDouble / st.nB / 100.0
            val vA = (st.s2A.toDouble / 10000.0 - st.nA * mA * mA) / (st.nA - 1)
            val vB = (st.s2B.toDouble / 10000.0 - st.nB * mB * mB) / (st.nB - 1)
            val se2 = vA / st.nA + vB / st.nB
            if (se2 > 0) {
              val th = mB - mA
              val llr = 0.5 * math.log(se2 / (se2 + tau2)) +
                th * th * tau2 / (2.0 * se2 * (se2 + tau2))
              st = st.copy(maxLlr = math.max(st.maxLlr, llr))
              AbLook(exp, st.nA, st.nB, mA, mB, llr,
                math.min(1.0, math.exp(-st.maxLlr)), st.maxLlr > lnInvAlpha)
            } else AbLook(exp, st.nA, st.nB, mA, mB, 0.0, 1.0, signif = false)
          } else AbLook(exp, st.nA, st.nB, 0.0, 0.0, 0.0, 1.0, signif = false)
          state.update(st)
          look
      }
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * signup within the preceding 7 days. Both sides watermarked, so join
    * state is bounded by watermark + interval — the streaming analog of
    * the as-of lookup (Cdc.asofJoin) when BOTH sides move.
    */
  def purchaseAttribution(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        timestamp_micros(col("ts_us")).as("ptime"))
      .withWatermark("ptime", "1 hour")
    val s = signups
      .select(col("event_id").as("s_event_id"), col("user_id").as("s_user"),
        timestamp_micros(col("ts_us")).as("stime"))
      .withWatermark("stime", "1 hour")
    p.join(s,
      col("p_user") === col("s_user") &&
        col("ptime") >= col("stime") &&
        col("ptime") <= col("stime") + expr("INTERVAL 7 DAYS"))
      .select(col("p_user").as("user_id"), col("p_event_id"), col("s_event_id"),
        col("stime"), col("ptime"))
  }

  /** Stream-stream LEFT OUTER attribution: signups with NO purchase within
    * the window still emit (null-joined) once the watermark passes the
    * join window — the "who signed up but never converted" stream. State
    * eviction is watermark-driven on both sides; unmatched left rows
    * release exactly when no future right row could match them.
    */
  def signupConversion(signups: DataFrame, purchases: DataFrame): DataFrame = {
    val s = signups
      .select(col("event_id").as("s_event_id"), col("user_id").as("s_user"),
        timestamp_micros(col("ts_us")).as("stime"))
      .withWatermark("stime", "10 seconds")
    val p = purchases
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user"),
        timestamp_micros(col("ts_us")).as("ptime"))
      .withWatermark("ptime", "10 seconds")
    s.join(p,
      col("s_user") === col("p_user") &&
        col("ptime") >= col("stime") &&
        col("ptime") <= col("stime") + expr("INTERVAL 1 MINUTE"),
      "leftOuter")
      .select(col("s_user").as("user_id"), col("s_event_id"), col("p_event_id"),
        col("p_event_id").isNotNull.as("converted"))
  }

  /** True iff `e` means "the target doesn't exist yet" (first batch) —
    * the ONLY failure an upsert may treat as an empty table. Any other
    * read failure (interrupt during query stop, transient IO) must
    * propagate: swallowing it as "empty" would silently merge the batch
    * against nothing and TRUNCATE the target to the batch's keys.
    */
  private def isMissingTarget(e: Throwable): Boolean = e match {
    case a: org.apache.spark.sql.AnalysisException =>
      a.getErrorClass == "PATH_NOT_FOUND" ||
        Option(a.getMessage).exists(_.contains("Path does not exist"))
    case _: java.io.FileNotFoundException => true
    case _ => false
  }

  /** The parquet table at `path`, or None when it does not exist. The
    * filesystem is asked first and only an existing path is read: reading
    * a missing one fails in analysis, and Spark posts that failed query to
    * every query-execution listener of the session (an `Observation`'s
    * listener then re-analyses it and logs the PATH_NOT_FOUND as a listener
    * error). A path removed between the probe and the read still reads as
    * missing through [[isMissingTarget]].
    */
  private def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else try Some(spark.read.parquet(path))
    catch { case e: Exception if isMissingTarget(e) => None }
  }

  /** Multi-table MERGE in ONE job: apply a micro-batch of UNIFIED-envelope
    * events ([[heterogeneousUnion]] shape: src_table, entity_key, seq,
    * operation, payload) onto a src_table-partitioned parquet target.
    *
    * The reference fans a mixed batch out to a 10-thread pool running one
    * Delta MERGE per table (cdc_500_tables_streaming.py:151-227 —
    * process_cdc_batch / process_table_events). Spark-first that
    * thread pool is unnecessary: latest-per-(table, key) is one window
    * over the union of the affected partitions and the incoming batch,
    * and dynamic partition overwrite rewrites exactly the touched
    * `src_table=` partitions — 500 tables merge as ONE shuffle + ONE
    * write, parallelism from partitioning instead of driver threads.
    * Idempotent under batch replay (same merge result → same partition
    * contents), so exactly-once composes with a checkpointed foreachBatch.
    * A touched table left with no rows has its partition deleted.
    */
  def applyCdcBatchMultiTable(spark: SparkSession, batch: DataFrame,
      targetRoot: String): Unit = {
    val cols = Seq("src_table", "entity_key", "seq", "operation", "payload")
    val incoming = batch.select(cols.map(col): _*)
    // O(affected tables) driver rows — the routing decision, not a data read
    val affected = incoming.select("src_table").distinct()
      .collect().map(_.getString(0)).toSeq
    if (affected.isEmpty) return
    val existing = readIfExists(spark, targetRoot)
      .map(_.filter(col("src_table").isin(affected: _*)).select(cols.map(col): _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], incoming.schema))
    val w = Window.partitionBy("src_table", "entity_key")
      .orderBy(col("seq").desc, col("operation"))
    val merged = existing.unionByName(incoming)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= "DELETE")
      .drop("rn")
    // pin the merge result before writing: the overwrite must not read its
    // own destination (Spark rejects self-overwriting scans), and the
    // truncated lineage is what makes replay idempotent mid-write
    val written = new org.apache.spark.sql.Observation()
    merged.localCheckpoint()
      .observe(written, collect_set(col("src_table")).as("tables"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("src_table")
      .parquet(targetRoot)
    // dynamic overwrite replaces only the partitions it writes, so a
    // touched table the merge left empty still shows its old partition
    val kept = written.get("tables").asInstanceOf[Seq[String]].toSet
    val root = new org.apache.hadoop.fs.Path(targetRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(kept).foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString("src_table", t)), true)
    }
  }

  /** Per-micro-batch pipeline metrics via StreamingQueryListener — the
    * reference's `cdc_metrics` table (batch_id, event_count, processing
    * rate; unity_catalog_cdc_demo.py:650-663) without a second write
    * path: the listener taps the engine's own progress events, so
    * metrics cost nothing on the data plane. `toDF` snapshots the
    * collected batches for analysis/alerting.
    *
    * `duration_ms` is `triggerExecution`, the whole trigger; `phases_ms`
    * is the engine's full `durationMs` map, whose other entries
    * (addBatch, walCommit, queryPlanning, ...) are parts of it.
    * `received_nanos` is the `System.nanoTime` at which the progress
    * event reached the listener, and `rows_total` the query's input rows
    * summed over its batches up to and including this one.
    */
  case class BatchMetric(query_name: String, batch_id: Long, event_count: Long,
      rows_per_sec: Double, duration_ms: Long, phases_ms: Map[String, Long],
      received_nanos: Long, rows_total: Long)

  final class MetricsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    /** One query's latest [[MetricsListener.Capacity]] batches and its
      * exact running input-row total; guarded by its own monitor.
      */
    private final class Ring {
      val buf = new java.util.ArrayDeque[BatchMetric]()
      var rows = 0L
      def copy(): Seq[BatchMetric] = synchronized(buf.toArray(Array.empty[BatchMetric]).toSeq)
    }
    private val rings = new java.util.concurrent.ConcurrentHashMap[String, Ring]()
    private def ring(name: String) = rings.computeIfAbsent(name, _ => new Ring)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val received = System.nanoTime()
      val p = e.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val r = ring(name)
      r.synchronized {
        r.rows += p.numInputRows
        r.buf.addLast(BatchMetric(name, p.batchId, p.numInputRows, p.processedRowsPerSecond,
          phases.getOrElse("triggerExecution", 0L), phases, received, r.rows))
        if (r.buf.size > MetricsListener.Capacity) r.buf.removeFirst()
      }
    }
    /** The named query's retained batches, oldest first. */
    def batches(queryName: String): Seq[BatchMetric] =
      Option(rings.get(queryName)).fold(Seq.empty[BatchMetric])(_.copy())
    /** Every query's retained batches, in arrival order. */
    def snapshot: Seq[BatchMetric] =
      rings.values.asScala.toSeq.flatMap(_.copy()).sortBy(_.received_nanos)
    /** Input rows the named query has consumed so far, exact past the
      * ring's capacity — what a backlog-capped producer polls.
      */
    def inputRows(queryName: String): Long = {
      val r = ring(queryName)
      r.synchronized(r.rows)
    }
  }

  object MetricsListener {
    /** Batches kept per query: 400 s of 100 ms triggers, the densest
      * cadence any caller runs. Older batches are dropped.
      */
    val Capacity = 4096
  }

  /** Snapshot a listener's collected metrics as a DataFrame. */
  def metricsDF(spark: SparkSession, listener: MetricsListener): DataFrame = {
    import spark.implicits._
    listener.snapshot.toDF()
  }

  /** End-to-end file-source CDC pipeline: stream parquet drops from `inDir`,
    * normalize, and commit each micro-batch to the [[BucketedGold]] root
    * `targetPath` under the engine's batch id; read the state with
    * [[BucketedGold.read]]. Returns the started query (caller stops it).
    */
  def fileStreamPipeline(spark: SparkSession, inDir: String, targetPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream.schema(Tables.eventsSchema).parquet(inDir)
    normalize(raw).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        BucketedGold.appendBatch(spark, batch, targetPath, batchId); ()
      }
      .start()
  }
}
