package graft.sources

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.Debezium

/** Avro wire format for the Debezium envelope — the ingestion path the
  * reference wires Kafka into (reference: debezium-approach/notebooks/
  * dlt_cdc_pipeline.py:107-135 reads the topic and deserializes the value
  * into the envelope before the silver parse).
  *
  * The sandbox has no spark-avro module jar and no broker, so the
  * encode/decode is built directly on Avro core (`GenericDatumWriter` /
  * `GenericDatumReader` over the binary encoding — the same byte format
  * `from_avro`/`to_avro` produce for a non-union top-level record). The
  * Avro schema is DERIVED from [[Debezium.envelopeSchema]] so the two
  * ingestion paths (JSON text, Avro binary) can never drift apart.
  *
  * Scale shape: each direction is ONE codegen'd expression
  * ([[AvroEncodeEnvelope]], [[AvroDecodeSilver]]) with the writer or
  * reader, encoder and output buffer REUSED per thread across rows (Avro's
  * factory API is designed for exactly this); no shuffle, no driver
  * involvement, arbitrary parallelism. The decode is the only Avro-record
  * → Spark-row mapping: [[SchemaRegistry.decodeRegistered]] resolves other
  * generations to current-envelope bytes and hands them to it.
  */
object AvroEnvelope extends Serializable {

  /** Avro record schema mirroring the Spark envelope struct 1:1 (field
    * order included). Every field is a `[null, T]` union — same
    * nullability as the Spark schema.
    */
  val avroSchema: Schema = toAvroRecord(Debezium.envelopeSchema, "envelope")

  /** Public derivation seam for OTHER generations of the envelope (the
    * [[SchemaRegistry]] path): same struct→Avro mapping, caller-chosen
    * struct. Record names derive from `name` the same way, so Avro schema
    * resolution between generations sees matching record identities.
    */
  def avroSchemaFor(st: StructType, name: String = "envelope"): Schema =
    toAvroRecord(st, name)

  private def toAvroRecord(st: StructType, name: String): Schema = {
    val fields = st.fields.map { f =>
      val base = f.dataType match {
        case nested: StructType => toAvroRecord(nested, s"${name}_${f.name}")
        case LongType           => Schema.create(Schema.Type.LONG)
        case IntegerType        => Schema.create(Schema.Type.INT)
        case StringType         => Schema.create(Schema.Type.STRING)
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
      val union = Schema.createUnion(Schema.create(Schema.Type.NULL), base)
      new Schema.Field(f.name, union, null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(name, null, "graft.cdc", false, fields.toList.asJava)
  }

  /** Unwrap our `[null, T]` unions to T. */
  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  /** Per-thread conversion plan: field positions, unwrapped union
    * schemas and nesting resolved ONCE instead of per row. The naive
    * per-row walk (`getFields.asScala` + a union scan per field) allocated
    * a wrapper and a closure per field per row — ~25 fields deep for the
    * envelope, measured ~20% of the encode stage at sf0.1.
    */
  private final class FieldPlan(val pos: Int, val nested: RecordPlan,
      val kind: Int)
  private final class RecordPlan(val schema: Schema) {
    val fields: Array[FieldPlan] = schema.getFields.asScala.toArray.map { f =>
      val fs = nonNull(f.schema())
      new FieldPlan(f.pos(),
        if (fs.getType == Schema.Type.RECORD) new RecordPlan(fs) else null,
        fs.getType match {
          case Schema.Type.RECORD => 0
          case Schema.Type.LONG   => 1
          case Schema.Type.INT    => 2
          case Schema.Type.STRING => 3
          case other => throw new IllegalArgumentException(s"unsupported $other")
        })
    }
  }

  /** The envelope fields [[Debezium.extractFields]] actually reads —
    * the reader-schema side of the pruned decode. Same field names as
    * [[Debezium.envelopeSchema]] so Avro schema resolution (reader ⊂
    * writer, matched by name) skips everything else AT THE DECODER:
    * version/connector/server_id/row/thread/query/total_order/... are
    * skipped as bytes, never allocated as JVM strings.
    */
  private val silverEnvelopeStruct = StructType(Seq(
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("source", StructType(Seq(
      StructField("ts_ms", LongType),
      StructField("snapshot", StringType),
      StructField("db", StringType),
      StructField("table", StringType),
      StructField("gtid", StringType),
      StructField("file", StringType),
      StructField("pos", LongType)))),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("transaction", StructType(Seq(
      StructField("id", StringType))))))

  /** Struct type [[decodeSilverKernel]] emits: the flat silver columns
    * [[Debezium.extractFields]] produces, minus the pass-through event_id.
    */
  val silverStruct: StructType = StructType(Seq(
    StructField("cdc_operation_raw", StringType),
    StructField("before_image", StringType),
    StructField("after_image", StringType),
    StructField("database_name", StringType),
    StructField("table_name", StringType),
    StructField("source_ts_ms", LongType),
    StructField("snapshot_flag", StringType),
    StructField("binlog_file", StringType),
    StructField("binlog_position", LongType),
    StructField("gtid", StringType),
    StructField("transaction_id", StringType),
    StructField("event_ts_ms", LongType)))

  // ---- The codec: two whole-stage-codegen expressions ------------------
  //
  // Encode and decode are EXPRESSIONS (the shape spark-avro gives
  // from_avro/to_avro), so the wire round-trip has no RowEncoder boundary
  // and Catalyst can prune through it. The writer/reader/buffer are reused
  // per THREAD: expressions are shared across a plan's tasks, so per-thread
  // state is what makes the reuse safe under concurrency. DebeziumSpec
  // pins the bytes against Avro's own GenericDatumWriter and the decoded
  // rows against the JSON parse.

  private final class EncState {
    val schema: Schema = new Schema.Parser().parse(avroSchema.toString)
    val plan = new RecordPlan(schema)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val baos = new ByteArrayOutputStream(1024)
    var enc: BinaryEncoder = null
  }
  private val encState = new ThreadLocal[EncState] {
    override def initialValue(): EncState = new EncState
  }

  private def internalToRecord(row: InternalRow, plan: RecordPlan): GenericRecord = {
    val rec = new GenericData.Record(plan.schema)
    var i = 0
    while (i < plan.fields.length) {
      val fp = plan.fields(i)
      if (!row.isNullAt(fp.pos)) {
        rec.put(fp.pos, fp.kind match {
          case 0 => internalToRecord(
            row.getStruct(fp.pos, fp.nested.fields.length), fp.nested)
          case 1 => java.lang.Long.valueOf(row.getLong(fp.pos))
          case 2 => java.lang.Integer.valueOf(row.getInt(fp.pos))
          case _ => row.getUTF8String(fp.pos).toString
        })
      }
      i += 1
    }
    rec
  }

  /** Codegen entry: parsed envelope struct (InternalRow) → Avro binary
    * under [[avroSchema]] — the bytes Avro's own `GenericDatumWriter`
    * writes for the same record.
    */
  def encodeKernel(row: InternalRow): Array[Byte] = {
    val st = encState.get()
    st.baos.reset()
    st.enc = EncoderFactory.get().binaryEncoder(st.baos, st.enc)
    st.writer.write(internalToRecord(row, st.plan), st.enc)
    st.enc.flush()
    st.baos.toByteArray
  }

  private final class DecState {
    val writerSch: Schema = new Schema.Parser().parse(avroSchema.toString)
    val readerSch: Schema =
      new Schema.Parser().parse(toAvroRecord(silverEnvelopeStruct, "envelope").toString)
    val reader = new GenericDatumReader[GenericRecord](writerSch, readerSch)
    val pBefore = readerSch.getField("before").pos()
    val pAfter = readerSch.getField("after").pos()
    val pSource = readerSch.getField("source").pos()
    val pOp = readerSch.getField("op").pos()
    val pTsMs = readerSch.getField("ts_ms").pos()
    val pTxn = readerSch.getField("transaction").pos()
    private val srcSch = nonNull(readerSch.getField("source").schema())
    val pSrcTs = srcSch.getField("ts_ms").pos()
    val pSnap = srcSch.getField("snapshot").pos()
    val pDb = srcSch.getField("db").pos()
    val pTable = srcSch.getField("table").pos()
    val pGtid = srcSch.getField("gtid").pos()
    val pFile = srcSch.getField("file").pos()
    val pPos = srcSch.getField("pos").pos()
    val pTxnId = nonNull(readerSch.getField("transaction").schema())
      .getField("id").pos()
    var dec: BinaryDecoder = null
    var rec: GenericRecord = null
  }
  private val decState = new ThreadLocal[DecState] {
    override def initialValue(): DecState = new DecState
  }

  /** Codegen entry: Avro binary (written under [[avroSchema]]) → the 12
    * [[silverStruct]] fields, as one InternalRow. Pruned reader schema —
    * unread envelope fields are skipped as bytes at the decoder, never
    * allocated.
    */
  def decodeSilverKernel(bytes: Array[Byte]): InternalRow = {
    val st = decState.get()
    st.dec = DecoderFactory.get().binaryDecoder(bytes, st.dec)
    st.rec = st.reader.read(st.rec, st.dec)
    val rec = st.rec
    val src = rec.get(st.pSource).asInstanceOf[GenericRecord]
    val txn = rec.get(st.pTxn).asInstanceOf[GenericRecord]
    def str(v: AnyRef): UTF8String =
      if (v == null) null else UTF8String.fromString(v.toString)
    val out = new Array[Any](12)
    out(0) = str(rec.get(st.pOp))
    out(1) = str(rec.get(st.pBefore))
    out(2) = str(rec.get(st.pAfter))
    if (src != null) {
      out(3) = str(src.get(st.pDb))
      out(4) = str(src.get(st.pTable))
      out(5) = src.get(st.pSrcTs)
      out(6) = str(src.get(st.pSnap))
      out(7) = str(src.get(st.pFile))
      out(8) = src.get(st.pPos)
      out(9) = str(src.get(st.pGtid))
    }
    if (txn != null) out(10) = str(txn.get(st.pTxnId))
    out(11) = rec.get(st.pTsMs)
    new GenericInternalRow(out)
  }

  /** envelope struct → Avro binary, as a whole-stage-codegen expression. */
  case class AvroEncodeEnvelope(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      encodeKernel(input.asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.sources.AvroEnvelope.encodeKernel($c)")
    override protected def withNewChildInternal(newChild: Expression): AvroEncodeEnvelope =
      copy(child = newChild)
    override def prettyName: String = "avro_encode_envelope"
  }

  /** Avro binary → silver struct, as a whole-stage-codegen expression. */
  case class AvroDecodeSilver(child: Expression) extends UnaryExpression {
    override def dataType: DataType = silverStruct
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      decodeSilverKernel(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.sources.AvroEnvelope.decodeSilverKernel($c)")
    override protected def withNewChildInternal(newChild: Expression): AvroDecodeSilver =
      copy(child = newChild)
    override def prettyName: String = "avro_decode_silver"
  }

  import org.apache.spark.sql.{GraftSqlBridge => B}
  def encodeEnvelopeCol(parsed: Column): Column =
    B.column(AvroEncodeEnvelope(B.expression(parsed)))
  def decodeSilverCol(bytes: Column): Column =
    B.column(AvroDecodeSilver(B.expression(bytes)))

  /** #175 Registered query: synth envelope → Avro binary → pruned fused
    * decode → silver projection (identical output to
    * [[Debezium.silverParsed]], proving the Avro wire round-trip loses
    * nothing the silver layer reads).
    *
    * The round-trip is one whole-stage-codegen pipeline (parse → encode
    * → decode → project), no RowEncoder boundaries, prunable by Catalyst
    * like any expression. The per-field extraction of the decoded struct
    * is subexpression-eliminated to ONE decode per row inside codegen —
    * the same mechanism extractFields relies on for from_json.
    * DebeziumSpec pins the rows against [[Debezium.silverParsed]].
    */
  def avroSilverParsed(spark: SparkSession, dir: String): DataFrame = {
    val env = Debezium.synthEnvelope(spark, dir)
    val silverCols = silverStruct.fields.map(f => col(s"s.${f.name}").as(f.name))
    env.select(col("event_id").cast("long").as("event_id"),
        from_json(col("cdc_event"), Debezium.envelopeSchema).as("parsed"))
      .select(col("event_id"),
        decodeSilverCol(encodeEnvelopeCol(col("parsed"))).as("s"))
      .select(col("event_id") +: silverCols: _*)
      .withColumn("operation", Debezium.readableOp(col("cdc_operation_raw")))
      .withColumn("after_user_id",
        get_json_object(col("after_image"), "$.user_id").cast("long"))
      .select("event_id", "cdc_operation_raw", "operation", "before_image",
        "after_image", "after_user_id", "database_name", "table_name",
        "source_ts_ms", "snapshot_flag", "binlog_file", "binlog_position",
        "gtid", "transaction_id", "event_ts_ms")
  }

  /** Source-agnostic envelope stream: one config seam where Kafka drops
    * in (reference: dlt_cdc_pipeline.py:107-135). Every arm yields a
    * streaming frame with a single `cdc_event` string column feeding
    * [[Debezium.parseEnvelope]]:
    *
    *  - `"kafka"`  — `readStream.format("kafka")` + `value` cast. With a
    *    real broker this needs the spark-sql-kafka package on the cluster
    *    classpath; `kafka.bootstrap.servers = embedded://<root>` instead
    *    routes through [[KafkaLogSource]], the file-backed topic log with
    *    the Kafka source's exact schema and offset contract — the SAME
    *    value-cast arm runs against both, and StreamingSpec drives the
    *    embedded one end-to-end (produce → offsets → silver → gold with
    *    checkpoint restart).
    *  - `"text"`   — newline-delimited envelope files (what the specs and
    *    the file-based demo pipeline use).
    *  - `"parquet"`— envelope column in parquet files; pass
    *    `eventColumn` in options if it is not `cdc_event`.
    */
  def readEnvelopeStream(spark: SparkSession, format: String,
      options: Map[String, String]): DataFrame = format match {
    case "kafka" =>
      val bootstrap = options.getOrElse("kafka.bootstrap.servers", "")
      val reader =
        if (bootstrap.startsWith("embedded://"))
          spark.readStream.format("kafkalog")
            .option("path", bootstrap.stripPrefix("embedded://"))
            .option("topic", options.getOrElse("subscribe",
              sys.error("kafka arm: 'subscribe' option required")))
            .option("startingOffsets",
              options.getOrElse("startingOffsets", "earliest"))
            .load()
        else spark.readStream.format("kafka").options(options).load()
      reader.selectExpr("CAST(value AS STRING) AS cdc_event")
    case "text" =>
      spark.readStream.format("text").options(options - "path")
        .load(options("path"))
        .select(col("value").as("cdc_event"))
    case "parquet" =>
      val c = options.getOrElse("eventColumn", "cdc_event")
      spark.readStream.format("parquet").options(options - "path" - "eventColumn")
        .load(options("path"))
        .select(col(c).as("cdc_event"))
    case other =>
      throw new IllegalArgumentException(s"unsupported envelope source '$other'")
  }
}
