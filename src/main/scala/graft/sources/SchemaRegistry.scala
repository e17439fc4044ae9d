package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned Avro schema registry + Confluent wire framing — the analog
  * of the schema-registry service in the reference's Kafka stack
  * (reference: debezium-approach/docker/docker-compose.yml registry
  * service; tests/test_debezium_integration.py:112 registers envelope
  * schemas before producing).
  *
  * [[AvroEnvelope]] derives ITS schema from the Spark struct, which keeps
  * our own producer/consumer pair from drifting — but a FOREIGN producer
  * ships whatever generation it was built against. The registry closes
  * that gap the way Confluent's does:
  *
  *  - schemas register under a (topic, version) key and get a global id;
  *  - messages carry the 5-byte Confluent frame `[0x00][int32 id]` before
  *    the Avro body, so every message names its own WRITER schema;
  *  - decode resolves writer→current envelope with Avro schema resolution
  *    (fields the writer lacked surface as null, exactly how a v2 consumer
  *    reads v1 messages) and hands the resolved bytes to the envelope's one
  *    codec; unknown ids divert to a DLQ column instead of failing the
  *    stream.
  *
  * The registry state itself is a plain (topic, version, id, schema) table
  * — saved/loaded as parquet like [[graft.cdc.TableRegistry]], so a
  * cluster job can pin the exact generation set it ran against.
  */
object SchemaRegistry {

  final case class Entry(topic: String, version: Int, id: Int, schemaJson: String)

  private val entries = new scala.collection.concurrent.TrieMap[Int, Entry]()
  private val nextId = new AtomicInteger(0)

  def clear(): Unit = { entries.clear(); nextId.set(0) }

  /** Register a schema generation for a topic; versions count up per
    * topic, ids are global. Re-registering an identical schema text for
    * the topic returns the existing entry (idempotent producers).
    */
  def register(topic: String, schema: Schema): Entry = synchronized {
    val json = schema.toString
    entries.values.find(e => e.topic == topic && e.schemaJson == json)
      .getOrElse {
        val version = entries.values.count(_.topic == topic) + 1
        val e = Entry(topic, version, nextId.incrementAndGet(), json)
        entries.put(e.id, e)
        e
      }
  }

  def latest(topic: String): Option[Entry] =
    entries.values.filter(_.topic == topic).toSeq.sortBy(_.version).lastOption

  def all: Seq[Entry] = entries.values.toSeq.sortBy(e => (e.topic, e.version))

  /** The registry as a frame (topic, version, id, schema_json). */
  def toDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    all.map(e => (e.topic, e.version, e.id, e.schemaJson))
      .toDF("topic", "version", "id", "schema_json")
  }

  def save(spark: SparkSession, path: String): Unit =
    toDf(spark).coalesce(1).write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): Unit = synchronized {
    clear()
    spark.read.parquet(path)
      .select("topic", "version", "id", "schema_json").collect()
      .foreach { r =>
        val e = Entry(r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))
        entries.put(e.id, e)
        if (e.id > nextId.get()) nextId.set(e.id)
      }
  }

  // ---- DDL-capture replay ------------------------------------------------

  /** Replay a PARSED schema-change history ([[graft.cdc.Debezium
    * .parseDdlEnvelope]] / `ddlCapture` output) into registered Avro
    * generations: each change's post-change column census becomes a record
    * schema (BIGINT→long, DOUBLE→double, else string; non-PK columns
    * nullable with a null default) registered under the change's
    * `table_id` topic. [[register]] dedups identical schema text, so
    * REPLAYING the same DDL stream is idempotent (no version bump), while
    * a genuinely new generation bumps the topic's version — DebeziumSpec
    * pins both. Driver-side by design: a DDL topic is schema-count-sized
    * (the collect is bounded by generations, never data).
    */
  def registerDdlHistory(parsedDdl: DataFrame): Seq[Entry] = {
    import org.apache.avro.SchemaBuilder
    val changes = parsedDdl
      .select("table_id", "change_ts_ms", "n_columns", "column_names",
        "column_types", "pk_cols")
      .collect()
      .sortBy(r => (r.getAs[String]("table_id"), r.getAs[Long]("change_ts_ms"),
        r.getAs[Long]("n_columns")))
    changes.map { r =>
      val pks = r.getAs[String]("pk_cols").split(",").toSet
      val names = r.getAs[String]("column_names").split(",")
      val types = r.getAs[String]("column_types").split(",")
      var fields = SchemaBuilder.record("events_gold").namespace("graft.ddl")
        .fields()
      names.zip(types).foreach { case (n, t) =>
        val b = fields.name(n)
        (t, pks(n)) match {
          case ("BIGINT", true)  => fields = b.`type`().longType().noDefault()
          case ("BIGINT", false) => fields = b.`type`().optional().longType()
          case ("DOUBLE", false) => fields = b.`type`().optional().doubleType()
          case _                 => fields = b.`type`().optional().stringType()
        }
      }
      register(r.getAs[String]("table_id"), fields.endRecord())
    }.toSeq
  }

  /** The REGISTERED column set per table (latest generation), in the shape
    * [[graft.streaming.CdcStreams.schemaMigration]] consumes — the DDL
    * capture path replacing a hand-maintained registry map.
    */
  def registryColumns: Map[String, Seq[String]] = synchronized {
    all.groupBy(_.topic).map { case (t, es) =>
      val latest = es.maxBy(_.version)
      val schema = new Schema.Parser().parse(latest.schemaJson)
      t -> schema.getFields.asScala.map(_.name).toSeq
    }
  }

  // ---- Compatibility enforcement ---------------------------------------

  /** Confluent-style compatibility modes for [[registerChecked]]:
    * BACKWARD = the candidate (as reader) can decode data written with the
    * latest registered generation (consumers upgrade first); FORWARD = the
    * latest generation can decode data the candidate writes (producers
    * upgrade first); FULL = both; BACKWARD_TRANSITIVE = backward against
    * EVERY registered generation, not just the latest (required when old
    * messages replay from the beginning of a compacted topic).
    */
  sealed trait CompatMode
  object CompatMode {
    case object Backward extends CompatMode
    case object Forward extends CompatMode
    case object Full extends CompatMode
    case object BackwardTransitive extends CompatMode
  }

  final case class CompatReport(compatible: Boolean, mode: String,
      checkedVersions: Seq[Int], incompatibilities: Seq[String])

  private def readerCanRead(reader: Schema, writer: Schema): Seq[String] = {
    val res = org.apache.avro.SchemaCompatibility
      .checkReaderWriterCompatibility(reader, writer)
    if (res.getType ==
        org.apache.avro.SchemaCompatibility.SchemaCompatibilityType.COMPATIBLE) Nil
    else res.getResult.getIncompatibilities.asScala.toSeq
      .map(i => s"${i.getType} at ${i.getLocation}: ${i.getMessage}")
  }

  /** Check a candidate generation against the registered history under
    * `mode` — Avro's own resolution rules decide (added field needs a
    * default to stay BACKWARD; removed field needs the READER to default
    * it to stay FORWARD; type promotions follow Avro's matrix).
    */
  def checkCompatibility(topic: String, candidate: Schema,
      mode: CompatMode): CompatReport = synchronized {
    val history = all.filter(_.topic == topic)
    val targets = mode match {
      case CompatMode.BackwardTransitive => history
      case _ => history.sortBy(_.version).lastOption.toSeq
    }
    val problems = targets.flatMap { e =>
      val prior = new Schema.Parser().parse(e.schemaJson)
      val errs = mode match {
        case CompatMode.Backward | CompatMode.BackwardTransitive =>
          readerCanRead(candidate, prior)
        case CompatMode.Forward => readerCanRead(prior, candidate)
        case CompatMode.Full =>
          readerCanRead(candidate, prior) ++ readerCanRead(prior, candidate)
      }
      errs.map(m => s"vs v${e.version}: $m")
    }
    CompatReport(problems.isEmpty, mode.toString, targets.map(_.version), problems)
  }

  /** [[register]] with enforcement — the registry refuses an incompatible
    * generation instead of letting a producer break every consumer (what
    * a Confluent registry does on POST /subjects/:s/versions).
    */
  def registerChecked(topic: String, schema: Schema,
      mode: CompatMode = CompatMode.Backward): Either[CompatReport, Entry] =
    synchronized {
      val report = checkCompatibility(topic, schema, mode)
      if (report.compatible) Right(register(topic, schema)) else Left(report)
    }

  // ---- Confluent wire framing ------------------------------------------

  private val resolvedSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("writer_schema_id", IntegerType),
    StructField("decode_error", StringType),
    StructField("envelope_bytes", BinaryType)))

  /** Decode Confluent-framed messages of MIXED generations into the silver
    * columns. Each message's 5-byte frame names its writer schema, looked
    * up in the registry snapshot taken at plan time; Avro schema
    * resolution reads the body as the current envelope
    * ([[AvroEnvelope.avroSchema]] — fields the writer lacked come out
    * null, exactly how a v2 consumer reads v1 messages); the resolved
    * record is re-encoded as current-envelope bytes and decoded by
    * [[AvroEnvelope.decodeSilverCol]], the one Avro → row mapping.
    *
    * Output: `event_id`, `writer_schema_id`, `decode_error`, then the
    * [[AvroEnvelope.silverStruct]] fields. Unknown ids, malformed frames
    * and bodies that fail to decode land with `decode_error` set and null
    * silver fields (the DLQ contract of
    * [[graft.cdc.Debezium.parseEnvelopeWithDlq]]) instead of failing the
    * stream.
    */
  def decodeRegistered(df: DataFrame, bytesCol: String,
      idCol: String = "event_id"): DataFrame = {
    val currentJson = AvroEnvelope.avroSchema.toString
    // snapshot of the registry rides to the executors as plain strings
    val writers: Map[Int, String] = all.map(e => e.id -> e.schemaJson).toMap
    val in = df.select(col(idCol).cast("long").as("event_id"), col(bytesCol).as("b"))
    val resolved = in.mapPartitions { it =>
      val current = new Schema.Parser().parse(currentJson)
      val readers = scala.collection.mutable.HashMap.empty[Int, GenericDatumReader[GenericRecord]]
      val writer = new GenericDatumWriter[GenericRecord](current)
      val baos = new ByteArrayOutputStream(1024)
      var dec: BinaryDecoder = null
      var enc: BinaryEncoder = null
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.length < 5 || bytes(0) != 0)
          Row(r.getLong(0), null, "malformed frame", null)
        else {
          val id = ByteBuffer.wrap(bytes, 1, 4).getInt
          writers.get(id) match {
            case None => Row(r.getLong(0), id, s"unknown schema id $id", null)
            case Some(wj) =>
              val rd = readers.getOrElseUpdate(id, new GenericDatumReader[GenericRecord](
                new Schema.Parser().parse(wj), current))
              try {
                dec = DecoderFactory.get().binaryDecoder(bytes, 5, bytes.length - 5, dec)
                val rec = rd.read(null, dec)
                baos.reset()
                enc = EncoderFactory.get().binaryEncoder(baos, enc)
                writer.write(rec, enc)
                enc.flush()
                Row(r.getLong(0), id, null, baos.toByteArray)
              } catch { case e: Exception =>
                Row(r.getLong(0), id, s"decode failed: ${e.getMessage}", null)
              }
          }
        }
      }
    }(Encoders.row(resolvedSchema))
    resolved.select(col("event_id"), col("writer_schema_id"), col("decode_error"),
        AvroEnvelope.decodeSilverCol(col("envelope_bytes")).as("s"))
      .select("event_id", "writer_schema_id", "decode_error", "s.*")
  }
}
