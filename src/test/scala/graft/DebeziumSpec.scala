package graft

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.Debezium

/** Debezium envelope parsing (SURVEY §2 #88-89): full nested schema,
  * op-code map incl. SNAPSHOT, image capture as raw JSON, expectations.
  */
class DebeziumSpec extends SparkSpec {
  import spark.implicits._

  private val handwritten = Seq(
    // update: both images, full source block
    """{"before":{"id":1,"v":"old"},"after":{"id":1,"v":"new"},"source":{"version":"2.4.0","connector":"mysql","name":"srv","ts_ms":1700000000123,"snapshot":"false","db":"shop","table":"orders","server_id":17,"gtid":"0-1-99","file":"binlog.000042","pos":5588,"row":0,"thread":3,"query":null},"op":"u","ts_ms":1700000000456,"transaction":{"id":"tx-9","total_order":2,"data_collection_order":1}}""",
    // snapshot read: no before image
    """{"before":null,"after":{"id":2,"v":"x"},"source":{"version":"2.4.0","connector":"mysql","name":"srv","ts_ms":1700000001000,"snapshot":"true","db":"shop","table":"orders","server_id":17,"gtid":null,"file":"binlog.000001","pos":4,"row":0,"thread":null,"query":null},"op":"r","ts_ms":1700000001001,"transaction":null}""",
    // delete: no after image
    """{"before":{"id":3},"after":null,"source":{"version":"2.4.0","connector":"mysql","name":"srv","ts_ms":1700000002000,"snapshot":"false","db":"shop","table":"orders","server_id":17,"gtid":"0-1-100","file":"binlog.000042","pos":6000,"row":1,"thread":3,"query":null},"op":"d","ts_ms":1700000002002,"transaction":{"id":"tx-10","total_order":1,"data_collection_order":1}}""",
    // unknown op code must map to UNKNOWN, not crash
    """{"before":null,"after":null,"source":null,"op":"z","ts_ms":5,"transaction":null}""")

  // Avro's own reader and writer over the binary encoding — the reference
  // the expression codec's bytes are checked against
  private def avroRead(writer: Schema, reader: Schema, bytes: Array[Byte]): GenericRecord =
    new GenericDatumReader[GenericRecord](writer, reader)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null))

  private def avroWrite(schema: Schema, rec: GenericRecord): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Confluent wire frame: magic 0, big-endian int32 schema id, body. */
  private def frame(id: Int, body: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(id).put(body).array()

  /** An envelope encoded by [[graft.sources.AvroEnvelope.encodeEnvelopeCol]]:
    * (event_id, parsed JSON envelope, avro_bytes).
    */
  private def encodedEnvelope(env: DataFrame): DataFrame =
    env.select(col("event_id").cast("long").as("event_id"),
        from_json(col("cdc_event"), Debezium.envelopeSchema).as("parsed"))
      .withColumn("avro_bytes", graft.sources.AvroEnvelope.encodeEnvelopeCol(col("parsed")))

  test("parseEnvelope extracts the full nested Debezium schema") {
    val df = Debezium.parseEnvelope(handwritten.toDF("cdc_event"), "cdc_event")
    val rows = df.collect()
    assert(rows.length == 4)
    val byOp = rows.map(r => r.getAs[String]("operation") -> r).toMap
    val upd = byOp("UPDATE")
    assert(upd.getAs[String]("operation") == "UPDATE")
    assert(upd.getAs[String]("before_image") == """{"id":1,"v":"old"}""")
    assert(upd.getAs[String]("after_image") == """{"id":1,"v":"new"}""")
    assert(upd.getAs[String]("database_name") == "shop")
    assert(upd.getAs[String]("table_name") == "orders")
    assert(upd.getAs[Long]("source_ts_ms") == 1700000000123L)
    assert(upd.getAs[String]("binlog_file") == "binlog.000042")
    assert(upd.getAs[Long]("binlog_position") == 5588L)
    assert(upd.getAs[String]("gtid") == "0-1-99")
    assert(upd.getAs[String]("transaction_id") == "tx-9")
    val snap = byOp("SNAPSHOT")
    assert(snap.getAs[String]("before_image") == null)
    assert(snap.getAs[String]("snapshot_flag") == "true")
    assert(snap.getAs[String]("gtid") == null)
    val del = byOp("DELETE")
    assert(del.getAs[String]("after_image") == null)
    val unk = byOp("UNKNOWN")
    assert(unk.getAs[String]("database_name") == null)
  }

  test("silverParsed covers all four op codes on the events table") {
    val df = Debezium.silverParsed(spark, sf).cache()
    try {
      val ops = df.select("operation").distinct().as[String].collect().toSet
      assert(ops == Set("INSERT", "UPDATE", "DELETE", "SNAPSHOT"))
      // DELETEs have no after image; INSERTs no before image
      assert(df.filter(col("operation") === "DELETE" && col("after_image").isNotNull).count() == 0)
      assert(df.filter(col("operation") === "INSERT" && col("before_image").isNotNull).count() == 0)
      // the captured image string is itself parseable JSON
      assert(df.filter(col("operation") =!= "DELETE")
        .filter(col("after_user_id").isNull).count() == 0)
    } finally df.unpersist()
  }

  test("streaming silver parse splits pass/quarantine across micro-batches") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[String]
    val rules = Seq(
      "valid_op" -> "operation IN ('INSERT', 'UPDATE', 'DELETE', 'SNAPSHOT')")
    val (pass, quar) = graft.streaming.CdcStreams.silverWithQuarantine(
      ms.toDF().withColumnRenamed("value", "cdc_event"), "cdc_event", rules)
    val qp = pass.writeStream.format("memory").queryName("silver_pass").start()
    val qq = quar.writeStream.format("memory").queryName("silver_quar").start()
    try {
      ms.addData(handwritten(0), handwritten(3)) // one good update, one bogus op
      qp.processAllAvailable(); qq.processAllAvailable()
      ms.addData(handwritten(1), handwritten(2)) // snapshot + delete
      qp.processAllAvailable(); qq.processAllAvailable()
      val passed = spark.table("silver_pass")
      val quarantined = spark.table("silver_quar")
      assert(passed.count() == 3)
      assert(passed.select("operation").as[String].collect().toSet ==
        Set("UPDATE", "SNAPSHOT", "DELETE"))
      val q = quarantined.collect()
      assert(q.length == 1 && q(0).getAs[String]("operation") == "UNKNOWN")
      assert(q(0).getSeq[String](q(0).fieldIndex("failed_expectations")) == Seq("valid_op"))
    } finally { qp.stop(); qq.stop() }
  }

  test("observe() exposes parse-quality metrics inline") {
    val obs = new org.apache.spark.sql.Observation("silver_metrics")
    val df = Debezium.silverParsed(spark, sf)
      .observe(obs,
        count(lit(1)).as("n_events"),
        sum(when(col("operation") === "UNKNOWN", 1L).otherwise(0L)).as("n_unknown"),
        sum(when(col("after_image").isNull, 1L).otherwise(0L)).as("n_no_after"))
    val total = df.count()
    val m = obs.get
    assert(m("n_events") == total)
    assert(m("n_unknown") == 0L)
    assert(m("n_no_after").asInstanceOf[Long] > 0L) // DELETEs carry no after image
  }

  test("DDL capture: envelope parse, registry version bump, replay idempotence") {
    import graft.sources.SchemaRegistry
    val parsed = Debezium.ddlCapture(spark, sf).collect()
      .sortBy(_.getAs[Long]("version"))
    assert(parsed.nonEmpty, "no DDL changes captured")
    // v1 is the CREATE carrying the base columns; each later version adds
    // exactly one column, with the raw DDL text preserved
    assert(parsed.head.getAs[String]("change_type") == "CREATE")
    assert(parsed.head.getAs[String]("ddl").startsWith("CREATE TABLE events_gold"))
    parsed.tail.foreach { r =>
      assert(r.getAs[String]("change_type") == "ALTER")
      assert(r.getAs[String]("ddl").startsWith("ALTER TABLE events_gold ADD COLUMN"))
    }
    parsed.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("version") == i + 1)
      assert(r.getAs[Long]("n_columns") == i + 3) // user_id, value + (i+1) rollups
      assert(r.getAs[String]("pk_cols") == "user_id")
      assert(r.getAs[Boolean]("nullable_outside_pk"))
    }
    // registry replay: each captured generation registers under the table
    // topic with versions counting up...
    SchemaRegistry.clear()
    try {
      val ddl = Debezium.ddlCapture(spark, sf)
      val entries = SchemaRegistry.registerDdlHistory(ddl)
      assert(entries.map(_.version) == (1 to parsed.length),
        s"versions did not bump per generation: ${entries.map(_.version)}")
      val topic = parsed.head.getAs[String]("table_id")
      assert(SchemaRegistry.latest(topic).map(_.version).contains(parsed.length))
      // ...REPLAYING the same DDL stream is idempotent: no new versions
      val replayed = SchemaRegistry.registerDdlHistory(ddl)
      assert(replayed.map(_.version) == entries.map(_.version),
        "replaying the DDL topic must not mint new generations")
      assert(SchemaRegistry.all.count(_.topic == topic) == parsed.length)
      // the REGISTERED column set (latest generation) feeds schemaMigration:
      // a payload matching the registered shape reports zero 'unregistered'
      val cols = SchemaRegistry.registryColumns(topic)
      assert(cols.take(2) == Seq("user_id", "value") &&
        cols.length == parsed.length + 2, s"registered columns: $cols")
      import spark.implicits._
      val env = Seq(("events_gold",
        cols.map(c => s""""$c":1""").mkString("{", ",", "}")))
        .toDF("src_table", "payload")
      val mig = graft.streaming.CdcStreams
        .schemaMigration(env, Map("events_gold" -> cols))
        .collect()
      assert(mig.forall(_.getAs[String]("status") != "unregistered"),
        s"registered history still reports unregistered columns: ${mig.mkString(";")}")
    } finally SchemaRegistry.clear()
  }

  test("metrics listener captures per-batch counts from engine progress") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val listener = new graft.streaming.CdcStreams.MetricsListener
    spark.streams.addListener(listener)
    val ms = MemoryStream[String]
    val q = ms.toDF().writeStream.format("memory").queryName("metrics_probe").start()
    try {
      ms.addData("a", "b", "c")
      q.processAllAvailable()
      ms.addData("d")
      q.processAllAvailable()
      // listener events are async; wait for them to drain
      val deadline = System.currentTimeMillis() + 10000
      def counted: Long = listener.snapshot
        .filter(_.query_name == "metrics_probe").map(_.event_count).sum
      var total = 0L
      while ({ total = counted; total < 4 } &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(total == 4, s"listener captured $total/4 rows")
      // duration_ms is the whole trigger, not the sum of its phases
      val trigger = q.recentProgress.filter(_.numInputRows > 0)
        .map(p => p.batchId -> p.durationMs.get("triggerExecution").longValue).toMap
      val durations = listener.snapshot
        .filter(m => m.query_name == "metrics_probe" && m.event_count > 0)
        .map(m => m.batch_id -> m.duration_ms).toMap
      assert(durations == trigger)
      // every batch carries its phase map (triggerExecution = duration_ms)
      // and the query's running input-row total
      val probe = listener.snapshot.filter(_.query_name == "metrics_probe")
      probe.filter(_.event_count > 0).foreach(m =>
        assert(m.phases_ms.get("triggerExecution").contains(m.duration_ms), s"$m"))
      assert(probe.map(_.rows_total) == probe.scanLeft(0L)(_ + _.event_count).tail)
      assert(listener.inputRows("metrics_probe") == probe.map(_.event_count).sum)
      assert(listener.batches("metrics_probe") == probe)
      // past its capacity the per-query ring keeps the latest batches, and
      // rows_total / inputRows stay exact
      import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
      import org.apache.spark.sql.streaming.StreamingQueryProgress
      val last = q.recentProgress.filter(_.numInputRows > 0).last
      // the event's constructor is private to Spark
      val replay = classOf[QueryProgressEvent]
        .getConstructor(classOf[StreamingQueryProgress]).newInstance(last)
      val replays = graft.streaming.CdcStreams.MetricsListener.Capacity + 10
      val rowsBefore = listener.inputRows("metrics_probe")
      (1 to replays).foreach(_ => listener.onQueryProgress(replay))
      val rowsAfter = listener.inputRows("metrics_probe")
      assert(rowsAfter == rowsBefore + replays * last.numInputRows)
      val kept = listener.batches("metrics_probe")
      assert(kept.size == graft.streaming.CdcStreams.MetricsListener.Capacity)
      assert(kept.last.rows_total == rowsAfter)
      assert(kept.map(_.rows_total) ==
        kept.scanLeft(kept.head.rows_total - kept.head.event_count)(_ + _.event_count).tail)
      val df = graft.streaming.CdcStreams.metricsDF(spark, listener)
      assert(df.filter(col("duration_ms") < 0).count() == 0)
      assert(df.columns.contains("rows_per_sec"))
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("malformed envelopes divert to the DLQ with the raw payload intact") {
    val mixed = (handwritten.take(2) ++ Seq(
      """{"before": {"id": 1}, "after":""",      // truncated mid-message
      "not json at all",
      """[1, 2, 3]""",                           // valid JSON, wrong shape
      null)).toDF("cdc_event")                   // Kafka tombstone
    val (silver, dlq) = Debezium.parseEnvelopeWithDlq(mixed, "cdc_event")
    assert(silver.count() == 2)
    assert(silver.filter(col("operation").isin("UPDATE", "SNAPSHOT")).count() == 2)
    val bad = dlq.collect()
    assert(bad.length == 4, "silver + dlq must account for every input row")
    assert(bad.count(_.getAs[String]("error_reason") == "malformed_envelope") == 3)
    assert(bad.count(_.getAs[String]("error_reason") == "null_payload") == 1)
    // raw payload survives for replay
    assert(bad.map(_.getAs[String]("cdc_event")).contains("not json at all"))
  }

  test("expectOrDrop quarantines failing rows with rule names") {
    val df = Seq(("INSERT", 5L), ("UPDATE", 500L), ("BOGUS", 5L)).toDF("operation", "uid")
    val rules = Seq(
      "valid_op" -> "operation IN ('INSERT', 'UPDATE', 'DELETE', 'SNAPSHOT')",
      "small_uid" -> "uid < 100")
    val (passed, quarantined) = Debezium.expectOrDrop(df, rules)
    assert(passed.count() == 1)
    val q = quarantined.orderBy("uid").collect()
    assert(q.length == 2)
    assert(q(0).getSeq[String](q(0).fieldIndex("failed_expectations")) == Seq("valid_op"))
    assert(q(1).getSeq[String](q(1).fieldIndex("failed_expectations")) == Seq("small_uid"))
  }

  test("txnSummary reassembles per-transaction op mix, tables, and span") {
    import spark.implicits._
    val silver = Seq(
      ("tx1", "INSERT", "orders", 100L),
      ("tx1", "DELETE", "lineitem", 250L),
      ("tx1", "UPDATE", "orders", 180L),
      ("tx2", "SNAPSHOT", "customer", 50L))
      .toDF("transaction_id", "operation", "table_name", "source_ts_ms")
    val rows = Debezium.txnSummary(silver).collect()
      .map(r => r.getString(0) -> r).toMap
    val t1 = rows("tx1")
    assert(t1.getLong(t1.fieldIndex("n_events")) == 3L)
    assert(t1.getLong(t1.fieldIndex("n_tables")) == 2L)
    assert(t1.getLong(t1.fieldIndex("n_inserts")) == 1L &&
      t1.getLong(t1.fieldIndex("n_updates")) == 1L &&
      t1.getLong(t1.fieldIndex("n_deletes")) == 1L)
    assert(t1.getLong(t1.fieldIndex("span_ms")) == 150L)
    val t2 = rows("tx2")
    assert(t2.getLong(t2.fieldIndex("n_events")) == 1L &&
      t2.getLong(t2.fieldIndex("n_snapshot_reads")) == 1L &&
      t2.getLong(t2.fieldIndex("span_ms")) == 0L)
  }

  test("Avro wire round-trip reproduces the JSON silver parse exactly") {
    import graft.sources.AvroEnvelope
    val viaJson = Debezium.silverParsed(spark, sf)
    val viaAvro = AvroEnvelope.avroSilverParsed(spark, sf)
    assert(viaJson.schema == viaAvro.schema)
    // full-row parity both directions (null-safe on every column)
    assert(viaJson.exceptAll(viaAvro).count() == 0)
    assert(viaAvro.exceptAll(viaJson).count() == 0)
    // binary payloads are stable: encoding twice produces identical bytes
    val env = Debezium.synthEnvelope(spark, sf).limit(64)
    def bytes = encodedEnvelope(env).orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("avro_bytes").toSeq))
    val a = bytes
    assert(a.nonEmpty && a.sameElements(bytes))
    // null images survive the union encoding (DELETE has null after)
    val del = AvroEnvelope.avroSilverParsed(spark, sf)
      .filter(col("operation") === "DELETE")
    assert(del.count() > 0 && del.filter(col("after_image").isNotNull).count() == 0)
  }

  test("expression codec matches Avro's own reader and writer on every op arm") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import graft.sources.AvroEnvelope
    val schema = AvroEnvelope.avroSchema
    def rowVals(r: Row): Seq[Any] = r.toSeq.map {
      case n: Row => rowVals(n)
      case v      => v
    }
    def recVals(g: GenericRecord): Seq[Any] = g.getSchema.getFields.asScala.toSeq.map { f =>
      g.get(f.pos) match {
        case n: GenericRecord => recVals(n)
        case s: CharSequence  => s.toString
        case v                => v
      }
    }
    val rows = encodedEnvelope(Debezium.synthEnvelope(spark, sf)).collect()
    assert(rows.map(_.getAs[Row]("parsed").getAs[String]("op")).toSet ==
      Set("c", "u", "d", "r"))
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("avro_bytes")
      // Avro's reader sees exactly the from_json parse in the expression's bytes...
      val rec = avroRead(schema, schema, bytes)
      assert(recVals(rec) == rowVals(r.getAs[Row]("parsed")), s"event ${r.getLong(0)}")
      // ...and Avro's writer reproduces those bytes from that record
      assert(avroWrite(schema, rec).sameElements(bytes), s"event ${r.getLong(0)}")
    }
  }

  test("readEnvelopeStream text arm feeds the silver parse end-to-end") {
    import graft.sources.AvroEnvelope
    val dir = java.nio.file.Files.createTempDirectory("env_stream").toFile
    try {
      val envDir = new java.io.File(dir, "in"); envDir.mkdirs()
      Debezium.synthEnvelope(spark, sf).limit(200)
        .select("cdc_event").coalesce(1)
        .write.mode("overwrite").text(envDir.getAbsolutePath)
      val stream = AvroEnvelope.readEnvelopeStream(spark, "text",
        Map("path" -> envDir.getAbsolutePath))
      assert(stream.isStreaming)
      val q = Debezium.parseEnvelope(stream, "cdc_event")
        .select("event_ts_ms", "operation", "table_name")
        .writeStream.format("memory").queryName("env_stream_t")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("env_stream_t")
      assert(got.count() == 200)
      assert(got.filter(col("table_name") === "events").count() == 200)
      // unknown format arm is a loud error, not a silent fallback
      intercept[IllegalArgumentException] {
        AvroEnvelope.readEnvelopeStream(spark, "carrier-pigeon", Map())
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("avro binary envelopes stream through decode + silver parse") {
    import graft.sources.AvroEnvelope
    val dir = java.nio.file.Files.createTempDirectory("avro_stream").toFile
    try {
      val binDir = new java.io.File(dir, "bin").getAbsolutePath
      val env = Debezium.synthEnvelope(spark, sf).limit(300)
      val encoded = encodedEnvelope(env).select("event_id", "avro_bytes")
      encoded.write.mode("overwrite").parquet(binDir)
      // a micro-batch source of Avro BINARY payloads (what a Kafka value
      // column carries), decoded + silver-parsed inside the stream
      val stream = spark.readStream.schema(encoded.schema).parquet(binDir)
      val q = stream
        .select(col("event_id"), AvroEnvelope.decodeSilverCol(col("avro_bytes")).as("s"))
        .select(col("event_id"), Debezium.readableOp(col("s.cdc_operation_raw")).as("operation"),
          col("s.table_name").as("table_name"), col("s.event_ts_ms").as("event_ts_ms"))
        .writeStream.format("memory").queryName("avro_stream_t")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("avro_stream_t")
      assert(got.count() == 300)
      // decoded rows match the batch JSON parse on the same slice
      val expect = Debezium.silverParsed(spark, sf)
        .filter(col("event_id").isin(
          env.select("event_id").collect().map(_.getLong(0)).toSeq: _*))
        .select("event_id", "operation", "table_name", "event_ts_ms")
      assert(got.exceptAll(expect).count() == 0 &&
        expect.exceptAll(got).count() == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("dlqReplay partitions the quarantine into recovered and dead") {
    val r = graft.cdc.Debezium.dlqReplay(spark, sf).collect()
    assert(r.nonEmpty, "corpus must quarantine something")
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2) + row.getLong(3),
        s"${row.getString(0)}: recovered + dead != quarantined") }
    val m = r.map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // the re-stamp repair recovers every stale-only row; identity errors
    // have no repair, alone or in combination
    m.get("stale").foreach { case (q, rec) => assert(q == rec, s"stale: $q vs $rec") }
    m.get("bad_id").foreach { case (_, rec) => assert(rec == 0L) }
    m.get("stale+bad_id").foreach { case (_, rec) => assert(rec == 0L) }
  }

  test("schema registry decodes two envelope generations from one stream") {
    import graft.sources.{AvroEnvelope, SchemaRegistry}
    import org.apache.spark.sql.types.StructType
    SchemaRegistry.clear()
    val topic = "graft.cdc.events"
    // v1: the envelope BEFORE transaction metadata shipped (a real
    // Debezium connector evolution); v2: the current full envelope
    val v1Struct = StructType(Debezium.envelopeSchema.fields.filterNot(_.name == "transaction"))
    val v1 = SchemaRegistry.register(topic, AvroEnvelope.avroSchemaFor(v1Struct))
    val v2 = SchemaRegistry.register(topic, AvroEnvelope.avroSchema)
    assert(v1.version == 1 && v2.version == 2 && v1.id != v2.id)
    // idempotent re-register returns the SAME entry, no version bump
    assert(SchemaRegistry.register(topic, AvroEnvelope.avroSchema) == v2)

    val env = Debezium.synthEnvelope(spark, sf).filter(col("event_id") <= 200)
    // producers of both generations: v2 bytes are the expression codec's;
    // a v1 producer's bytes are those records resolved to v1 by Avro and
    // written with v1's own writer
    val v1Schema = AvroEnvelope.avroSchemaFor(v1Struct)
    val v2Bytes = encodedEnvelope(env).select("event_id", "avro_bytes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    import spark.implicits._
    val mixed = v2Bytes.toSeq.map { case (id, b) =>
      if (id % 2 == 0)
        id -> frame(v1.id, avroWrite(v1Schema, avroRead(AvroEnvelope.avroSchema, v1Schema, b)))
      else id -> frame(v2.id, b)
    }.toDF("event_id", "framed_bytes")
    val out = SchemaRegistry.decodeRegistered(mixed, "framed_bytes").cache()

    val n = env.count()
    assert(out.count() == n)
    assert(out.filter(col("decode_error").isNotNull).count() == 0)
    // every v1 message surfaces with a NULL transaction block (the field
    // the writer never had), every v2 message carries it
    val v1Rows = out.filter(col("writer_schema_id") === v1.id)
    val v2Rows = out.filter(col("writer_schema_id") === v2.id)
    assert(v1Rows.count() > 0 && v2Rows.count() > 0)
    assert(v1Rows.filter(col("transaction_id").isNotNull).count() == 0)
    assert(v2Rows.filter(col("transaction_id").isNull).count() == 0)
    // the generation-independent fields decode identically to the JSON
    // parse on BOTH generations
    val silver = Debezium.parseEnvelope(env, "cdc_event")
      .select(col("event_id"), col("operation"), col("source_ts_ms"))
    val avroSide = out.select(col("event_id"),
      Debezium.readableOp(col("cdc_operation_raw")).as("operation"),
      col("source_ts_ms"))
    assert(avroSide.exceptAll(silver).count() == 0)
    assert(silver.exceptAll(avroSide).count() == 0)
    // unknown id and a known id with a truncated body -> DLQ rows with
    // null silver fields, not a stream failure
    val body = v2Bytes.head._2
    val rogue = Seq((9999L, Array[Byte](0, 0, 0, 3, 57, 1, 2)),
      (9998L, frame(v2.id, body.take(body.length / 2)))).toDF("event_id", "framed_bytes")
    val dlq = SchemaRegistry.decodeRegistered(rogue, "framed_bytes").collect()
      .map(r => r.getLong(0) -> r).toMap
    def dlqError(id: Long): String = dlq(id).getAs[String]("decode_error")
    assert(dlqError(9999L) != null && dlqError(9999L).contains("unknown schema id"))
    assert(dlqError(9998L) != null && dlqError(9998L).contains("decode failed"))
    assert(dlq.values.forall(_.isNullAt(dlq(9998L).fieldIndex("cdc_operation_raw"))))
    // registry table round-trips through parquet
    val p = java.nio.file.Files.createTempDirectory("schemareg").toString + "/reg"
    SchemaRegistry.save(spark, p)
    val before = SchemaRegistry.all
    SchemaRegistry.clear()
    SchemaRegistry.load(spark, p)
    assert(SchemaRegistry.all == before)
    out.unpersist()
  }

  test("schema registry enforces compatibility modes on registration") {
    import graft.sources.SchemaRegistry
    import graft.sources.SchemaRegistry.CompatMode
    SchemaRegistry.clear()
    def rec(fields: String): Schema = new Schema.Parser().parse(
      s"""{"type":"record","name":"E","fields":[$fields]}""")
    val topic = "compat.events"
    val v1 = rec("""{"name":"id","type":"long"},{"name":"v","type":"string"}""")
    assert(SchemaRegistry.registerChecked(topic, v1).isRight)
    // added field WITH default: new reader defaults it on old data → BACKWARD ok
    val v2ok = rec("""{"name":"id","type":"long"},{"name":"v","type":"string"},
      {"name":"src","type":"string","default":"unknown"}""")
    assert(SchemaRegistry.registerChecked(topic, v2ok, CompatMode.Backward).isRight)
    // added field WITHOUT default: new reader cannot decode old data → rejected
    val v3bad = rec("""{"name":"id","type":"long"},{"name":"v","type":"string"},
      {"name":"src","type":"string","default":"u"},{"name":"must","type":"string"}""")
    val rej = SchemaRegistry.registerChecked(topic, v3bad, CompatMode.Backward)
    assert(rej.isLeft)
    assert(rej.left.exists(r => !r.compatible &&
      r.incompatibilities.exists(_.contains("must"))), s"report: $rej")
    // the rejected generation must NOT have entered the registry
    assert(SchemaRegistry.all.count(_.topic == topic) === 2)
    // FORWARD: dropping a field the OLD reader has no default for → rejected
    val v3drop = rec("""{"name":"id","type":"long"}""")
    assert(SchemaRegistry.registerChecked(topic, v3drop, CompatMode.Forward).isLeft)
    // widening long→string id breaks even the LATEST check; transitive
    // backward checks every generation
    val v3widen = rec("""{"name":"id","type":"string"},{"name":"v","type":"string"},
      {"name":"src","type":"string","default":"u"}""")
    val tr = SchemaRegistry.checkCompatibility(topic, v3widen, CompatMode.BackwardTransitive)
    assert(!tr.compatible && tr.checkedVersions === Seq(1, 2))
    SchemaRegistry.clear()
  }

  test("outboxRoute: keyed partitioner contract + per-partition commit order") {
    val df = Debezium.outboxRoute(spark, sf).cache()
    try {
      // partitions live in [0, 8)
      assert(df.filter(col("kafka_partition") < 0 || col("kafka_partition") >= 8)
        .count() == 0)
      // the Kafka keyed-partitioner contract: one key → one partition,
      // across every topic (the hash sees only the key)
      assert(df.groupBy("aggregate_id")
        .agg(countDistinct(col("kafka_partition")).as("np"))
        .filter(col("np") > 1).count() == 0)
      // delivery sequence is dense 1..n within each (topic, partition)
      assert(df.groupBy("topic", "kafka_partition")
        .agg(count(lit(1)).as("n"), min(col("seq_in_partition")).as("mn"),
          max(col("seq_in_partition")).as("mx"))
        .filter(col("mn") =!= 1L || col("mx") =!= col("n")).count() == 0)
      // within a partition the sequence follows commit order: walking up
      // seq_in_partition never walks seq_us backwards
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("topic", "kafka_partition").orderBy("seq_in_partition")
      assert(df.withColumn("prev_us", lag(col("seq_us"), 1).over(w))
        .filter(col("prev_us") > col("seq_us")).count() == 0)
    } finally df.unpersist()
  }
}
