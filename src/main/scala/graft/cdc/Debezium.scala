package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Full Debezium envelope parsing — the reference's silver layer
  * (reference: debezium-approach/notebooks/dlt_cdc_pipeline.py:59-206).
  *
  * The envelope is the standard Debezium MySQL shape: `before`/`after`
  * record images (kept as raw JSON strings so one schema serves
  * heterogeneous tables), a `source` struct carrying binlog coordinates
  * (db, table, ts_ms, file, pos, gtid, server_id, ...), the one-letter
  * `op` code, and the `transaction` block. Parsing is a single
  * `from_json` against [[envelopeSchema]] — codegen'd, row-local, no
  * shuffle — followed by scalar field extraction and the op-code map
  * `c/u/d/r → INSERT/UPDATE/DELETE/SNAPSHOT` (dlt_cdc_pipeline.py:190-197;
  * `r` is a snapshot read, distinct from a runtime insert).
  *
  * At 100 TB this is the hot path of CDC ingestion: everything here stays
  * inside whole-stage codegen and the JSON is parsed exactly once per
  * event (images stay as strings unless a consumer asks for fields).
  */
object Debezium {

  /** The Debezium envelope schema (dlt_cdc_pipeline.py:59-86). `before`
    * and `after` are StringType on purpose: `from_json` captures a nested
    * object into a string field as its raw JSON text, which lets 500
    * differently-shaped tables share one envelope schema.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("source", StructType(Seq(
      StructField("version", StringType),
      StructField("connector", StringType),
      StructField("name", StringType),
      StructField("ts_ms", LongType),
      StructField("snapshot", StringType),
      StructField("db", StringType),
      StructField("table", StringType),
      StructField("server_id", LongType),
      StructField("gtid", StringType),
      StructField("file", StringType),
      StructField("pos", LongType),
      StructField("row", IntegerType),
      StructField("thread", LongType),
      StructField("query", StringType)))),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("transaction", StructType(Seq(
      StructField("id", StringType),
      StructField("total_order", LongType),
      StructField("data_collection_order", LongType))))))

  /** Map the Debezium one-letter op code to a readable operation,
    * including the snapshot-read arm (dlt_cdc_pipeline.py:190-197).
    */
  def readableOp(raw: Column): Column =
    when(raw === "c", "INSERT")
      .when(raw === "u", "UPDATE")
      .when(raw === "d", "DELETE")
      .when(raw === "r", "SNAPSHOT")
      .otherwise("UNKNOWN")

  /** Silver-layer parse: envelope JSON string column → extracted fields
    * (dlt_cdc_pipeline.py:166-206). Keeps every passthrough column of
    * `df`, adds the extracted scalars.
    */
  def parseEnvelope(df: DataFrame, eventCol: String): DataFrame =
    extractFields(df.withColumn("parsed", from_json(col(eventCol), envelopeSchema)))

  /** Field extraction from an already-parsed `parsed` struct column —
    * shared by the plain and DLQ-splitting parse paths so envelopes are
    * parsed exactly once per event either way.
    */
  private[graft] def extractFields(df: DataFrame): DataFrame = {
    val fields = Seq(
      "cdc_operation_raw" -> col("parsed.op"),
      "operation" -> readableOp(col("parsed.op")),
      "before_image" -> col("parsed.before"),
      "after_image" -> col("parsed.after"),
      "database_name" -> col("parsed.source.db"),
      "table_name" -> col("parsed.source.table"),
      "source_ts_ms" -> col("parsed.source.ts_ms"),
      "snapshot_flag" -> col("parsed.source.snapshot"),
      "binlog_file" -> col("parsed.source.file"),
      "binlog_position" -> col("parsed.source.pos"),
      "gtid" -> col("parsed.source.gtid"),
      "transaction_id" -> col("parsed.transaction.id"),
      "event_ts_ms" -> col("parsed.ts_ms"))
    // one projection with `withColumn`'s placement: a passthrough column
    // named like a field is replaced where it stands, the other fields
    // follow the passthrough columns in order, and `parsed` is dropped
    def field(c: String) = fields.find(_._1.equalsIgnoreCase(c))
    val passthrough = df.columns.toSeq.filterNot(_.equalsIgnoreCase("parsed")).map(c =>
      field(c).fold(col(s"`${c.replace("`", "``")}`"))(f => f._2.as(f._1)))
    val added = fields.filterNot(f => df.columns.exists(_.equalsIgnoreCase(f._1)))
    df.select(passthrough ++ added.map(f => f._2.as(f._1)): _*)
  }

  /** Synthesizes a deterministic Debezium envelope per event row (the
    * sandbox has no Kafka; this stands in for the bronze stream's
    * `value.cast("string")`, dlt_cdc_pipeline.py:125-135). Built by string
    * concatenation — not `to_json` — so the DuckDB oracle can construct
    * the byte-identical envelope and the comparison exercises both
    * engines' JSON parsers on the same input.
    */
  def synthEnvelope(spark: SparkSession, dir: String): DataFrame =
    synthEnvelopeFrom(Tables.events(spark, dir))

  /** [[synthEnvelope]] with the scale-adaptive parallelism floor on the
    * events scan (Tables.spreadScan — a no-op whenever the scan has at
    * least one split per core, i.e. at any real scale). For consumers
    * that AGGREGATE over the parsed envelope (expectation audit, DLQ
    * replay, txn/latency rollups) the synth + from_json chain is pure
    * map work at the scan's split-count parallelism — one split locally
    * serializes ~1M Jackson parses onto one task. Consumers that only
    * project (the silver parse rows) deliberately stay on the plain
    * variant: a count-style action prunes their parse entirely, and the
    * spread's exchange would be pure added cost.
    */
  def synthEnvelopeSpread(spark: SparkSession, dir: String): DataFrame =
    synthEnvelopeFrom(Tables.spreadScan(Tables.events(spark, dir),
      Tables.tableBytes(dir, "events"), col("event_id")))

  private def synthEnvelopeFrom(ev: DataFrame): DataFrame =
    ev.selectExpr(
      "event_id", "user_id",
      "CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' WHEN 'purchase' THEN 'r' ELSE 'u' END AS op_raw",
      "ts DIV 1000000 AS seq_ms")
    .selectExpr("event_id",
      """'{"before":' ||
         CASE WHEN op_raw = 'c' THEN 'null'
              ELSE '{"user_id":' || CAST(user_id AS STRING) || ',"event_id":' || CAST(event_id - 1 AS STRING) || '}' END ||
         ',"after":' ||
         CASE WHEN op_raw = 'd' THEN 'null'
              ELSE '{"user_id":' || CAST(user_id AS STRING) || ',"event_id":' || CAST(event_id AS STRING) || '}' END ||
         ',"source":{"version":"2.4.0","connector":"mysql","name":"graft","ts_ms":' || CAST(seq_ms AS STRING) ||
         ',"snapshot":"' || CASE WHEN op_raw = 'r' THEN 'true' ELSE 'false' END ||
         '","db":"graftdb","table":"events","server_id":1,"gtid":"0-1-' || CAST(event_id AS STRING) ||
         '","file":"binlog.000001","pos":' || CAST(event_id * 4 AS STRING) ||
         ',"row":0,"thread":7,"query":null},"op":"' || op_raw ||
         '","ts_ms":' || CAST(seq_ms + (event_id % 120) * 1000 + 1 AS STRING) ||
         ',"transaction":{"id":"tx-' || CAST(user_id AS STRING) ||
         '","total_order":1,"data_collection_order":1}}' AS cdc_event""")

  /** #88 The registered query: synth envelope → full silver parse, with a
    * second-level extraction out of the captured `after` image (proving
    * the image string is itself valid JSON).
    */
  def silverParsed(spark: SparkSession, dir: String): DataFrame =
    parseEnvelope(synthEnvelope(spark, dir), "cdc_event")
      .withColumn("after_user_id",
        get_json_object(col("after_image"), "$.user_id").cast("long"))
      .select("event_id", "cdc_operation_raw", "operation", "before_image",
        "after_image", "after_user_id", "database_name", "table_name",
        "source_ts_ms", "snapshot_flag", "binlog_file", "binlog_position",
        "gtid", "transaction_id", "event_ts_ms")

  /** Malformed-envelope DLQ split: `from_json` yields a null struct for
    * unparseable input (PERMISSIVE mode), so broken messages — truncated
    * producer writes, non-JSON bytes on the topic — divert to a dead
    * letter frame with the RAW payload preserved for replay, while intact
    * envelopes continue through the silver parse. Stateless; works on
    * batch and streaming frames (the reference drops nulls at bronze,
    * dlt_cdc_pipeline.py:137-140 — this keeps them routable instead).
    */
  def parseEnvelopeWithDlq(df: DataFrame, eventCol: String): (DataFrame, DataFrame) = {
    // PERMISSIVE from_json yields a row of nulls (not a null struct) for
    // broken input — the _corrupt_record channel is the reliable signal
    val probeSchema = envelopeSchema.add(StructField("_corrupt_record", StringType))
    val probed = df.withColumn("parsed",
      from_json(col(eventCol), probeSchema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
    val bad = col(eventCol).isNull || col("parsed").isNull ||
      col("parsed").getField("_corrupt_record").isNotNull
    // null payloads (Kafka tombstones) route too — nothing silently drops
    val dlq = probed.filter(bad)
      .drop("parsed")
      .withColumn("error_reason",
        when(col(eventCol).isNull, "null_payload").otherwise("malformed_envelope"))
    // intact rows reuse the probe's parse: one from_json per event total
    val silver = extractFields(probed.filter(!bad))
    (silver, dlq)
  }

  /** Declarative expectation rules, DLT `expect_all` / `expect_or_drop`
    * semantics (dlt_cdc_pipeline.py:157, :137-140): each rule is a SQL
    * predicate; rows failing any rule are quarantined with the list of
    * failed rule names. Row-local — no shuffle, expectation evaluation is
    * codegen'd alongside the parse.
    */
  def withExpectations(df: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    val failArray = array(rules.map { case (name, pred) =>
      when(!expr(pred), lit(name))
    }: _*)
    df.withColumn("failed_expectations", filter(failArray, c => c.isNotNull))
  }

  /** expect_all_or_drop: (passing rows, quarantined rows). */
  def expectOrDrop(df: DataFrame, rules: Seq[(String, String)]): (DataFrame, DataFrame) = {
    val flagged = withExpectations(df, rules)
    (flagged.filter(size(col("failed_expectations")) === 0).drop("failed_expectations"),
      flagged.filter(size(col("failed_expectations")) > 0))
  }

  /** Per-rule failure counts in ONE codegen'd aggregation pass — the DLT
    * event-log style quality summary. Each rule becomes a 0/1 column
    * summed map-side (sub-expression elimination parses the envelope once
    * per row), then the single aggregate row unpivots via `stack`. This is
    * the audit shape that survives 100 TB: no per-row array construction,
    * no explode, shuffle carries one row per partition.
    */
  def auditCounts(df: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    val flags = df.select(rules.map { case (name, pred) =>
      when(!expr(pred), 1L).otherwise(0L).as(name)
    }: _*)
    val sums = flags.agg(sum(col(rules.head._1)).as(rules.head._1),
      rules.tail.map { case (name, _) => sum(col(name)).as(name) }: _*)
    val stackArgs = rules.map { case (name, _) => s"'$name', `$name`" }.mkString(", ")
    sums.selectExpr(s"stack(${rules.size}, $stackArgs) AS (rule, n_failed)")
      .filter(col("n_failed") > 0)
  }

  /** Processing-delay latency metrics over a parsed silver frame — the
    * reference's pipeline-health view (dlt_cdc_pipeline.py:338-372):
    * delay = connector-processing time (`event_ts_ms`, the envelope-level
    * `ts_ms` Debezium stamps at capture) − source commit time
    * (`source_ts_ms`), aggregated per 5-minute source-time window ×
    * operation with high-latency and low-volume flags.
    *
    * Everything is BIGINT arithmetic: the window start is integer
    * bucketing of epoch-ms (no timestamp types cross engines) and the
    * mean delay is ×10⁴ fixed-point — exact, order-independent, and
    * hash-identical to the SQL oracle. One map-side-combined aggregation;
    * works identically on batch frames and (with [[graft.streaming
    * .CdcStreams.streamingLatency]]) on watermarked streams.
    */
  def latencyMetrics(silver: DataFrame): DataFrame =
    silver
      .withColumn("delay_ms", col("event_ts_ms") - col("source_ts_ms"))
      .groupBy(expr("source_ts_ms DIV 300000 * 300000").as("window_start_ms"),
        col("operation"))
      .agg(count(lit(1)).as("event_count"),
        expr("sum(delay_ms) * 10000 DIV count(1)").as("avg_delay_ms_e4"),
        max(col("delay_ms")).as("max_delay_ms"),
        min(col("source_ts_ms")).as("min_event_ms"),
        max(col("source_ts_ms")).as("max_event_ms"))
      .withColumn("high_latency_flag", col("max_delay_ms") > 60000L)
      .withColumn("low_volume_flag", col("event_count") < 10)

  /** #114 Registered latency-metrics query: synth envelope → pruned parse
    * (only the 3 fields the metric needs — same hand-pruning rationale as
    * [[expectationAudit]]) → [[latencyMetrics]].
    */
  def latencyAudit(spark: SparkSession, dir: String): DataFrame = {
    val pruned = StructType(Seq(
      StructField("source", StructType(Seq(StructField("ts_ms", LongType)))),
      StructField("op", StringType),
      StructField("ts_ms", LongType)))
    val lite = synthEnvelopeSpread(spark, dir)
      .withColumn("parsed", from_json(col("cdc_event"), pruned))
      .select(
        readableOp(col("parsed.op")).as("operation"),
        col("parsed.source.ts_ms").as("source_ts_ms"),
        col("parsed.ts_ms").as("event_ts_ms"))
    latencyMetrics(lite)
  }

  /** #89 Expectation audit over the parsed silver stream.
    *
    * Parses with a PRUNED schema — the audit touches only op / after /
    * source.ts_ms, and `from_json` cost is dominated by materializing
    * fields, so parsing 3 fields instead of 20+ cuts the scan time ~2×.
    * (Catalyst's own JSON schema pruning can't fire here because the
    * parsed struct is multi-referenced across a project boundary; at
    * 100 TB you do this by hand for every audit that rides a raw
    * stream.) Values are identical to the full parse.
    */
  /** #291 DLQ replay with repair: the runbook step after
    * [[expectationAudit]] flags quarantined envelopes — apply the
    * deterministic repairs (stale source timestamps get RE-STAMPED to
    * the ingest floor; out-of-domain entity ids are identity errors and
    * have no repair), re-evaluate the same expectations, and report per
    * quarantine-reason combination how many rows recover vs stay dead.
    * Pure column arithmetic over the parsed envelope — the replay
    * decision costs one scan, no per-row driver logic, and the exact
    * counts let the operator size the redrive before running it.
    *
    * Plan shape (r5, after measurement): the reason census runs as a
    * KEY-LESS aggregate over a single flag-code column, then a 3-row
    * `stack`. Grouping by a derived `reason` string inlines the whole
    * from_json/get_json_object chain into the hash-aggregate's KEY
    * evaluation, outside projection-level subexpression elimination —
    * benched 4× slower for identical output. The reason domain is the
    * flag powerset, so three conditional sums reconstruct the grouped
    * frame exactly.
    */
  def dlqReplay(spark: SparkSession, dir: String): DataFrame = {
    val pruned = StructType(Seq(
      StructField("after", StringType),
      StructField("source", StructType(Seq(StructField("ts_ms", LongType)))),
      StructField("op", StringType)))
    synthEnvelopeSpread(spark, dir)
      .withColumn("parsed", from_json(col("cdc_event"), pruned))
      // code = stale·1 + bad_id·2 (op 'd' IS 'DELETE' post-readableOp;
      // NULL ts_ms is non-stale under both phrasings: CASE null → 0)
      .selectExpr(
        """CASE WHEN parsed.source.ts_ms < 1500000000000 THEN 1 ELSE 0 END
          | + CASE WHEN NOT (parsed.op = 'd'
          |     OR CAST(get_json_object(parsed.after, '$.user_id') AS BIGINT) IS NULL
          |     OR CAST(get_json_object(parsed.after, '$.user_id') AS BIGINT) < 10)
          |   THEN 2 ELSE 0 END AS code""".stripMargin)
      .agg(
        sum(when(col("code") === 1, 1L).otherwise(0L)).as("n_stale"),
        sum(when(col("code") === 2, 1L).otherwise(0L)).as("n_bad"),
        sum(when(col("code") === 3, 1L).otherwise(0L)).as("n_both"))
      // stale-only rows recover under the re-stamp repair; identity
      // errors (bad_id, alone or combined) have no repair
      .selectExpr("""stack(3,
        |  'stale', n_stale, n_stale,
        |  'bad_id', n_bad, CAST(0 AS BIGINT),
        |  'stale+bad_id', n_both, CAST(0 AS BIGINT))
        |  AS (reason, n_quarantined, n_recovered)""".stripMargin)
      .filter(col("n_quarantined") > 0)
      .withColumn("n_dead", col("n_quarantined") - col("n_recovered"))
  }

  def expectationAudit(spark: SparkSession, dir: String): DataFrame = {
    val pruned = StructType(Seq(
      StructField("after", StringType),
      StructField("source", StructType(Seq(StructField("ts_ms", LongType)))),
      StructField("op", StringType)))
    val lite = synthEnvelopeSpread(spark, dir)
      .withColumn("parsed", from_json(col("cdc_event"), pruned))
      .select(
        readableOp(col("parsed.op")).as("operation"),
        col("parsed.after").as("after_image"),
        col("parsed.source.ts_ms").as("source_ts_ms"),
        get_json_object(col("parsed.after"), "$.user_id").cast("long").as("after_user_id"))
    val rules = Seq(
      "valid_operation" -> "operation IN ('INSERT', 'UPDATE', 'DELETE', 'SNAPSHOT')",
      "has_after_image" -> "after_image IS NOT NULL OR operation = 'DELETE'",
      "recent_event" -> "source_ts_ms >= 1500000000000",
      "small_user_id" -> "after_user_id IS NULL OR after_user_id < 10")
    auditCounts(lite, rules)
  }

  /** Transaction reassembly over a parsed silver frame: the binlog stream
    * arrives row-at-a-time, but consumers reasoning about atomicity (did
    * this ORDER insert land with its LINEITEM rows?) need the transaction
    * view back. Groups events by the envelope's `transaction.id`
    * (dlt_cdc_pipeline.py envelope schema; Debezium emits one id per
    * source transaction) into per-txn summaries: op mix, tables touched,
    * commit-time span.
    *
    * ONE aggregation, all map-side-combinable (conditional sums + min/max;
    * the distinct-table count is exact but low-cardinality per txn). At
    * 100 TB the shuffle key is the transaction id — high cardinality, no
    * skew beyond genuinely-huge transactions, which this query is the tool
    * for finding (`n_events` ranks them).
    */
  def txnSummary(silver: DataFrame): DataFrame =
    silver.groupBy("transaction_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("table_name")).as("n_tables"),
        sum(when(col("operation") === "INSERT", 1L).otherwise(0L)).as("n_inserts"),
        sum(when(col("operation") === "UPDATE", 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("operation") === "DELETE", 1L).otherwise(0L)).as("n_deletes"),
        sum(when(col("operation") === "SNAPSHOT", 1L).otherwise(0L)).as("n_snapshot_reads"),
        min(col("source_ts_ms")).as("first_ms"),
        max(col("source_ts_ms")).as("last_ms"))
      .withColumn("span_ms", col("last_ms") - col("first_ms"))

  /** #153 Registered transaction-summary query: synth envelope → pruned
    * parse (txn id, op, table, source ts — 4 fields, same hand-pruning
    * rationale as [[expectationAudit]]) → [[txnSummary]].
    */
  def txnAudit(spark: SparkSession, dir: String): DataFrame = {
    val pruned = StructType(Seq(
      StructField("source", StructType(Seq(
        StructField("ts_ms", LongType),
        StructField("table", StringType)))),
      StructField("op", StringType),
      StructField("transaction", StructType(Seq(StructField("id", StringType))))))
    val lite = synthEnvelopeSpread(spark, dir)
      .withColumn("parsed", from_json(col("cdc_event"), pruned))
      .select(
        readableOp(col("parsed.op")).as("operation"),
        col("parsed.source.table").as("table_name"),
        col("parsed.source.ts_ms").as("source_ts_ms"),
        col("parsed.transaction.id").as("transaction_id"))
    txnSummary(lite)
  }

  /** #369 Topic routing + keyed partition assignment — the Kafka Connect
    * SMT route the reference configures (RegexRouter rewriting
    * `aurora-cdc.tpch.*` → `cdc.tpch.*`, reference:
    * debezium-approach/config/aurora-connector.json:33-36) fused with the
    * Kafka producer's keyed partitioner (`hash(key) % n`), which is what
    * fixes the per-key total order the reference's DLT consumers rely on
    * (dlt_cdc_pipeline.py:126-127 keeps kafka_topic/kafka_partition for
    * exactly this audit). Each change event routes to
    * `cdc.tpch.<aggregate_type>`; the partition comes from an md5-derived
    * key hash (NOT murmur2 — md5 is the one keyed hash both engines
    * evaluate identically, so the assignment replays cross-engine; the
    * CONTRACT — stable key → stable partition — is the thing under test,
    * not Kafka's exact polynomial).
    *
    * Output is the full routed stream plus each message's delivery
    * sequence within its (topic, partition) — the invariant downstream
    * consumers assume: all events for one aggregate id land in one
    * partition, in commit order. ONE shuffle (the window on
    * topic × partition, bounded-cardinality keys, rows spread by the
    * hash); everything before it is row-local codegen. At 100 TB the
    * window key space is topics × partitions — thousands of cells with
    * balanced mass by construction of the hash.
    */
  def outboxRoute(spark: SparkSession, dir: String,
      nPartitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val routed = Cdc.log(spark, dir).select(
        col("event_id"),
        col("user_id").as("aggregate_id"),
        col("event_type").as("aggregate_type"),
        col("seq_us"))
      .withColumn("topic", concat(lit("cdc.tpch."), col("aggregate_type")))
      .withColumn("kafka_partition",
        conv(substring(md5(concat(lit("ob_"),
          col("aggregate_id").cast("string"))), 1, 6), 16, 10)
          .cast("long") % nPartitions)
    val w = Window.partitionBy("topic", "kafka_partition")
      .orderBy(col("seq_us"), col("event_id"))
    routed
      .withColumn("seq_in_partition", row_number().over(w).cast("long"))
      .select("event_id", "topic", "kafka_partition", "aggregate_id",
        "seq_us", "seq_in_partition")
  }

  // ---- DDL capture (Debezium schema-change topic) ------------------------

  /** Debezium's SCHEMA-CHANGE topic envelope (the DDL arm the reference's
    * Debezium stack advertises as "automatic DDL capture",
    * reference: debezium-approach/COMPARISON.md:152): alongside the data
    * topics, the connector emits one message per captured DDL statement —
    * the raw `ddl` text plus a structured `tableChanges` array carrying
    * the POST-change table shape (column list with types/positions,
    * primary-key names). Shape follows Debezium's public
    * SchemaChangeValue format.
    */
  val ddlEnvelopeSchema: StructType = {
    val column = StructType(Seq(
      StructField("name", StringType),
      StructField("typeName", StringType),
      StructField("position", IntegerType),
      StructField("optional", BooleanType)))
    val table = StructType(Seq(
      StructField("primaryKeyColumnNames", ArrayType(StringType)),
      StructField("columns", ArrayType(column))))
    val change = StructType(Seq(
      StructField("type", StringType),
      StructField("id", StringType),
      StructField("table", table)))
    StructType(Seq(
      StructField("source", StructType(Seq(
        StructField("version", StringType), StructField("connector", StringType),
        StructField("name", StringType), StructField("ts_ms", LongType),
        StructField("db", StringType), StructField("table", StringType)))),
      StructField("databaseName", StringType),
      StructField("ts_ms", LongType),
      StructField("ddl", StringType),
      StructField("tableChanges", ArrayType(change))))
  }

  /** Deterministic DDL history synthesized from the events table (the
    * [[synthEnvelope]] idiom applied to the schema-change topic): the
    * distinct event types, in first-event-time order, each contribute one
    * schema generation of a `graftdb.events_gold` table — v1 CREATEs the
    * base (user_id PK, value) plus the first type's rollup column, every
    * later version ALTERs one `<type>_total BIGINT` in. ts_ms = the
    * type's first event time, so the history replays chronologically.
    */
  def synthDdlEnvelope(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(expr("min(ts DIV 1000000)").as("first_ms"))
      .selectExpr("event_type", "first_ms",
        "row_number() OVER (ORDER BY first_ms, event_type) AS version",
        "array_join(collect_list(event_type || '_total') OVER " +
          "(ORDER BY first_ms, event_type ROWS UNBOUNDED PRECEDING), ',') AS cum_cols")
      .selectExpr("version",
        "'user_id,value,' || cum_cols AS all_cols",
        "first_ms",
        """CASE WHEN version = 1
           THEN 'CREATE TABLE events_gold (user_id BIGINT NOT NULL, value DOUBLE, ' || event_type || '_total BIGINT, PRIMARY KEY (user_id))'
           ELSE 'ALTER TABLE events_gold ADD COLUMN ' || event_type || '_total BIGINT' END AS ddl_text""")
      .selectExpr("version",
        """'{"source":{"version":"2.4.0","connector":"mysql","name":"graft","ts_ms":' || CAST(first_ms AS STRING) ||
           ',"db":"graftdb","table":"events_gold"},"databaseName":"graftdb","ts_ms":' || CAST(first_ms AS STRING) ||
           ',"ddl":"' || ddl_text ||
           '","tableChanges":[{"type":"' || CASE WHEN version = 1 THEN 'CREATE' ELSE 'ALTER' END ||
           '","id":"\\"graftdb\\".\\"events_gold\\"","table":{"primaryKeyColumnNames":["user_id"],"columns":[' ||
           array_join(transform(split(all_cols, ','), (c, i) ->
             '{"name":"' || c || '","typeName":"' ||
             CASE WHEN c = 'value' THEN 'DOUBLE' ELSE 'BIGINT' END ||
             '","position":' || CAST(i + 1 AS STRING) || ',"optional":' ||
             CASE WHEN c = 'user_id' THEN 'false' ELSE 'true' END || '}'), ',') ||
           ']}}]}' AS ddl_event""")

  /** Parse schema-change envelopes: one output row per table change, with
    * the post-change column census flattened to engine-comparable scalars.
    */
  def parseDdlEnvelope(df: DataFrame, eventCol: String): DataFrame =
    df.withColumn("parsed", from_json(col(eventCol), ddlEnvelopeSchema))
      .select(col("parsed.databaseName").as("database_name"),
        col("parsed.ts_ms").as("change_ts_ms"),
        col("parsed.ddl").as("ddl"),
        explode(col("parsed.tableChanges")).as("chg"))
      .select(col("database_name"), col("change_ts_ms"), col("ddl"),
        col("chg.type").as("change_type"),
        col("chg.id").as("table_id"),
        expr("array_join(chg.table.primaryKeyColumnNames, ',')").as("pk_cols"),
        expr("size(chg.table.columns)").cast("long").as("n_columns"),
        expr("array_join(transform(chg.table.columns, c -> c.name), ',')")
          .as("column_names"),
        expr("array_join(transform(chg.table.columns, c -> c.typeName), ',')")
          .as("column_types"),
        expr("CAST(forall(chg.table.columns, c -> c.optional OR array_contains(chg.table.primaryKeyColumnNames, c.name)) AS BOOLEAN)")
          .as("nullable_outside_pk"))

  /** #cdc_ddl_capture — the registered query: synthesized schema-change
    * topic → full DDL parse, versioned by change time. Closes the one
    * Debezium-arm capability with no analog (automatic DDL capture,
    * COMPARISON.md:152): the same parsed rows drive
    * [[graft.sources.SchemaRegistry.registerDdlHistory]], which replays
    * them into registered Avro generations (DebeziumSpec pins the version
    * bump + replay idempotence), giving [[graft.streaming.CdcStreams
    * .schemaMigration]] a REGISTERED column set instead of inferred drift.
    */
  def ddlCapture(spark: SparkSession, dir: String): DataFrame =
    parseDdlEnvelope(synthDdlEnvelope(spark, dir), "ddl_event")
      .selectExpr("database_name", "change_ts_ms", "change_type", "table_id",
        "pk_cols", "n_columns", "column_names", "column_types",
        "nullable_outside_pk", "ddl",
        "CAST(row_number() OVER (PARTITION BY table_id ORDER BY change_ts_ms, n_columns) AS BIGINT) AS version")
}
