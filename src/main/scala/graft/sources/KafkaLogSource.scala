package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, FileInputStream,
  FileOutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `kafkalog` — a file-backed topic log with the Kafka SOURCE surface.
  *
  * The reference's Debezium stack is Kafka-first (reference:
  * debezium-approach/docker/docker-compose.yml — broker + connect;
  * tests/test_debezium_integration.py:100-151 registers the topic and
  * consumes it). This sandbox has no broker and no spark-sql-kafka jar,
  * so the Kafka ingestion arm would otherwise stay config-only. This
  * source closes that gap the honest way: an embedded, broker-less topic
  * log whose READ side mirrors the Kafka source contract exactly —
  *
  *  - the output schema is the Kafka source's, column for column:
  *    (key BINARY, value BINARY, topic STRING, partition INT,
  *    offset LONG, timestamp TIMESTAMP, timestampType INT) — so every
  *    downstream transform written against real Kafka (`CAST(value AS
  *    STRING)`, offset book-keeping, partition-aware consumers) runs
  *    unchanged;
  *  - offsets are per-(topic)partition monotonically increasing longs,
  *    checkpointed as JSON; `startingOffsets` accepts earliest/latest and
  *    the per-partition JSON form `{"topic":{"0":123,"1":-1}}` (-1 =
  *    latest, -2 = earliest — the Kafka option contract), honored by both
  *    the streaming AND the batch read path; `maxOffsetsPerTrigger` bounds
  *    each micro-batch via the engine's admission-control API
  *    (SupportsAdmissionControl), lag-proportional across partitions,
  *    also under `Trigger.AvailableNow` (SupportsTriggerAvailableNow: the
  *    drain stops at the end offsets the query started with);
  *  - micro-batch planning reads each partition's segment files for
  *    exactly [start, end) — replaying a checkpoint re-delivers exactly
  *    the same rows, so exactly-once composes with foreachBatch sinks
  *    the same way it does against a broker.
  *
  * The WRITE side ([[EmbeddedTopicLog.produce]]) is the stand-in for the
  * producer/Connect half: append-only binary segment files per
  * partition, one atomic rename per produce batch, offsets assigned
  * key-hash (sticky partition per key — Kafka's ordering contract) or
  * round-robin for null keys.
  *
  * Scale notes: this is a test/demo transport, not a broker replacement —
  * but the read path is still parallel (one task per
  * [[KafkaLogPlanner.RecordsPerTask]] records, at most one per core, each
  * reading whole topic-partition ranges) and a batch reads only its own
  * records: segment files are ranged by filename, so a batch opens only
  * the segments overlapping its offset window, and skips the records of
  * those segments that fall outside it.
  */
object EmbeddedTopicLog {

  private def partDir(root: String, topic: String, p: Int): Path =
    Paths.get(root, topic, s"p=$p")

  /** Segment filename carries its offset range: seg-<start>-<endExcl>. */
  private val SegName = "seg-(\\d+)-(\\d+)\\.bin".r

  // Files.list returns a Stream backed by an open directory handle; every
  // micro-batch lists each partition dir, so the handle must be closed
  // eagerly (not left to GC) or a long-running stream leaks descriptors
  private def listDir[A](d: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(d)
    try f(s.iterator().asScala) finally s.close()
  }

  private[sources] def segments(root: String, topic: String, p: Int): Seq[(Long, Long, Path)] = {
    val d = partDir(root, topic, p)
    if (!Files.isDirectory(d)) Nil
    else listDir(d)(_.toSeq).flatMap { f =>
      f.getFileName.toString match {
        case SegName(s, e) => Some((s.toLong, e.toLong, f))
        case _             => None
      }
    }.sortBy(_._1)
  }

  def partitionCount(root: String, topic: String): Int = {
    val d = Paths.get(root, topic)
    if (!Files.isDirectory(d)) 0
    else listDir(d)(_.count(_.getFileName.toString.startsWith("p=")))
  }

  /** Next offset to be assigned in a partition (== current end offset). */
  def endOffset(root: String, topic: String, p: Int): Long =
    segments(root, topic, p).lastOption.map(_._2).getOrElse(0L)

  /** Per-(root, topic) produce monitors: two concurrent producers in one
    * JVM must not read the same endOffset and race identical segment
    * names (ATOMIC_MOVE on POSIX replaces silently → record loss). The
    * lock serializes offset assignment per topic; cross-PROCESS producers
    * are out of scope (single-JVM test transport — documented), and the
    * CREATE_NEW-guarded move below fails loudly rather than silently if
    * that assumption is ever violated.
    */
  private val produceLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** Append one produce batch. Records are (key, value); partition =
    * hash(key) mod partitions for keyed records (per-key ordering, as
    * Kafka's default partitioner), round-robin otherwise. Returns the
    * number of records written. One atomic segment rename per touched
    * partition — a reader never observes a half-written segment. Safe
    * under concurrent same-JVM producers (serialized per topic).
    */
  def produce(root: String, topic: String, records: Seq[(String, String)],
      partitions: Int, tsMs: Long = 0L): Long =
    produceLocks.getOrElseUpdate((root, topic), new Object).synchronized {
      require(partitions > 0, "partitions must be positive")
      val byPart = records.zipWithIndex.groupBy { case ((key, _), i) =>
        if (key == null) i % partitions
        else math.floorMod(key.hashCode, partitions)
      }
      // touch every partition dir so partitionCount is stable from batch 1
      (0 until partitions).foreach(p => Files.createDirectories(partDir(root, topic, p)))
      byPart.foreach { case (p, recs) =>
        val dir = partDir(root, topic, p)
        val start = endOffset(root, topic, p)
        val end = start + recs.length
        val tmp = dir.resolve(s".seg-$start-$end.tmp")
        val out = new DataOutputStream(new FileOutputStream(tmp.toFile))
        try {
          out.writeInt(recs.length)
          recs.zipWithIndex.foreach { case (((key, value), _), i) =>
            out.writeLong(start + i)
            out.writeLong(tsMs)
            val kb = if (key == null) null else key.getBytes("UTF-8")
            out.writeInt(if (kb == null) -1 else kb.length)
            if (kb != null) out.write(kb)
            val vb = value.getBytes("UTF-8")
            out.writeInt(vb.length)
            out.write(vb)
          }
        } finally out.close()
        val dst = dir.resolve(s"seg-$start-$end.bin")
        // never replace an existing segment: a name collision means an
        // out-of-JVM producer raced us — losing its records silently would
        // break the append-only/exactly-once framing, so fail loudly
        if (Files.exists(dst))
          sys.error(s"kafkalog: segment collision at $dst (concurrent producer?)")
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      }
      records.length.toLong
    }
}

class KafkaLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafkalog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KafkaLogTable(properties.asScala.toMap)
}

object KafkaLog {
  /** The Kafka source's output schema, column for column. */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))
}

class KafkaLogTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"kafkalog(${props.getOrElse("topic", "?")})"
  override def schema(): StructType = KafkaLog.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = props ++ options.asScala
    () => new KafkaLogScan(merged)
  }
}

/** `startingOffsets` resolution, matching the Kafka source's option
  * contract: `"earliest"`, `"latest"`, or per-partition JSON
  * `{"<topic>":{"0":23,"1":-1}}` where -1 = latest and -2 = earliest for
  * that partition; partitions the JSON omits default to earliest. The
  * flattened `{"0":23}` form (this source's checkpoint offset encoding) is
  * accepted too. An explicit offset past the current end is kept as-is —
  * like a positioned Kafka consumer, the stream simply delivers nothing
  * from that partition until producers pass it.
  */
private[sources] object StartingOffsets {
  def resolve(spec: String, topic: String, latest: Map[Int, Long]): Map[Int, Long] =
    spec.trim match {
      case "earliest" => latest.map { case (p, _) => p -> 0L }
      case "latest"   => latest
      case json =>
        val explicit = parse(json, topic)
        latest.map { case (p, e) =>
          p -> (explicit.get(p) match {
            case Some(-1L) => e
            case Some(-2L) => 0L
            case Some(o)   => math.max(0L, o)
            case None      => 0L
          })
        }
    }

  private def parse(json: String, topic: String): Map[Int, Long] = {
    val pair = "\"(\\d+)\"\\s*:\\s*(-?\\d+)".r
    val idx = json.indexOf("\"" + topic + "\"")
    val scope =
      if (idx >= 0) {
        val open = json.indexOf('{', idx + topic.length)
        val close = json.indexOf('}', open)
        if (open >= 0 && close > open) json.substring(open, close + 1) else json
      } else json
    pair.findAllMatchIn(scope)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
  }
}

class KafkaLogScan(options: Map[String, String]) extends Scan {
  private val root = options.getOrElse("path",
    sys.error("kafkalog: 'path' option required"))
  private val topic = options.getOrElse("topic",
    sys.error("kafkalog: 'topic' option required"))
  private val starting = options.getOrElse("startingoffsets",
    options.getOrElse("startingOffsets", "earliest"))
  private val maxPerTrigger: Option[Long] =
    options.get("maxoffsetspertrigger")
      .orElse(options.get("maxOffsetsPerTrigger")).map(_.toLong)

  override def readSchema(): StructType = KafkaLog.schema
  override def description(): String = s"kafkalog(topic=$topic)"

  private def endOffsets: Map[Int, Long] = {
    val n = EmbeddedTopicLog.partitionCount(root, topic)
    (0 until n).map(p => p -> EmbeddedTopicLog.endOffset(root, topic, p)).toMap
  }

  override def toBatch: Batch = new Batch {
    // batch reads honor startingOffsets like the Kafka source (a "latest"
    // batch is legal and empty; explicit offsets slice the log)
    override def planInputPartitions(): Array[InputPartition] = {
      val ends = endOffsets
      KafkaLogPlanner.plan(root, topic, StartingOffsets.resolve(starting, topic, ends), ends)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      KafkaLogReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KafkaLogMicroBatchStream(root, topic, starting, maxPerTrigger)
}

/** Offset = per-partition next-offset map, JSON like the Kafka source's
  * {"topic":{"0":5,"1":7}} (flattened — one topic per scan).
  */
case class KafkaLogOffset(offsets: Map[Int, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p": $o""" }.mkString("{", ", ", "}")
}

object KafkaLogOffset {
  def parse(json: String): KafkaLogOffset =
    KafkaLogOffset("\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

class KafkaLogMicroBatchStream(root: String, topic: String, starting: String,
    maxOffsetsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  // Trigger.AvailableNow: the end offsets when the query started. Batches
  // stop there although records keep arriving, and each is still capped
  // by maxOffsetsPerTrigger
  @volatile private var availableNow: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit = availableNow = Some(endOffsets)

  private def endOffsets: Map[Int, Long] = {
    val n = EmbeddedTopicLog.partitionCount(root, topic)
    (0 until n).map(p => p -> EmbeddedTopicLog.endOffset(root, topic, p)).toMap
  }

  override def initialOffset(): Offset =
    KafkaLogOffset(StartingOffsets.resolve(starting, topic, endOffsets))

  // admission control (the maxOffsetsPerTrigger contract): the engine asks
  // for the next end offset GIVEN the start and the read limit; a capped
  // trigger admits at most maxRows records, distributed across partitions
  // proportionally to their lag (the Kafka source's rate-limit shape),
  // deterministic remainder to the lowest partition ids
  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KafkaLogOffset].offsets
    val latest = availableNow.getOrElse(endOffsets)
    limit match {
      case mr: ReadMaxRows => KafkaLogOffset(admit(s, latest, mr.maxRows))
      case _               => KafkaLogOffset(latest)
    }
  }

  override def reportLatestOffset(): Offset = KafkaLogOffset(endOffsets)

  private def admit(start: Map[Int, Long], latest: Map[Int, Long],
      max: Long): Map[Int, Long] = {
    val lags = latest.map { case (p, e) =>
      p -> math.max(0L, e - start.getOrElse(p, 0L)) }
    val total = lags.values.sum
    if (total <= max) latest
    else {
      var admitted = lags.map { case (p, lag) => p -> lag * max / total }
      var rem = max - admitted.values.sum
      lags.keys.toSeq.sorted.foreach { p =>
        if (rem > 0) {
          val extra = math.min(rem, lags(p) - admitted(p))
          admitted += p -> (admitted(p) + extra)
          rem -= extra
        }
      }
      latest.map { case (p, e) =>
        p -> math.min(e, start.getOrElse(p, 0L) + admitted.getOrElse(p, 0L)) }
    }
  }

  override def deserializeOffset(json: String): Offset = KafkaLogOffset.parse(json)
  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    KafkaLogPlanner.plan(root, topic, start.asInstanceOf[KafkaLogOffset].offsets,
      end.asInstanceOf[KafkaLogOffset].offsets)
  override def createReaderFactory(): PartitionReaderFactory = KafkaLogReaderFactory
  override def stop(): Unit = ()
}

/** One topic partition's offset range [start, end). */
case class KafkaLogRange(p: Int, start: Long, end: Long) {
  def size: Long = end - start
}

/** One task's share of a batch: whole per-topic-partition ranges. */
case class KafkaLogPartition(root: String, topic: String, ranges: Seq[KafkaLogRange])
    extends InputPartition

/** Input-partition planning shared by the batch and micro-batch paths. A
  * batch's per-topic-partition ranges [start, end) are packed into
  * `clamp(ceil(records / RecordsPerTask), 1, defaultParallelism)` input
  * partitions, largest range first into the lightest one: a batch of at
  * most [[RecordsPerTask]] records runs as one task, and only a batch of
  * more than `(defaultParallelism - 1) · RecordsPerTask` records runs one
  * task per core. Ranges are never split: each row still carries its own
  * topic partition and offset, and a replay of the same offsets plans the
  * same partitions.
  */
private[graft] object KafkaLogPlanner {
  /** Records per planned task. Below it a task's fixed cost outweighs its
    * share of the work: committing one kafkalog batch through
    * `BucketedGold.appendBatch` as 4 tasks instead of 1 (4-core box, p50
    * of 12) is no faster up to 500 records, 12-14 ms faster at 1,000 and
    * 31-37 ms faster at 2,000 (table in CHANGES.md). Every extra task also
    * leaves one more part file in the batch's gold delta, which each read
    * opens until compaction folds it, so the cut sits at the top of that
    * crossover rather than below it.
    */
  val RecordsPerTask = 1000L

  def plan(root: String, topic: String, starts: Map[Int, Long],
      ends: Map[Int, Long]): Array[InputPartition] = {
    val ranges = ends.toSeq.flatMap { case (p, e) =>
      val s = starts.getOrElse(p, 0L)
      if (s < e) Some(KafkaLogRange(p, s, e)) else None
    }
    val tasks = (ranges.map(_.size).sum + RecordsPerTask - 1) / RecordsPerTask
    pack(ranges, math.min(tasks, SparkSession.active.sparkContext.defaultParallelism).toInt)
      .map(KafkaLogPartition(root, topic, _): InputPartition)
  }

  private def pack(ranges: Seq[KafkaLogRange], slots: Int): Array[Seq[KafkaLogRange]] = {
    val bins = Array.fill(math.max(1, math.min(slots, ranges.size)))(Vector.empty[KafkaLogRange])
    val load = new Array[Long](bins.length)
    ranges.sortBy(r => (-r.size, r.p)).foreach { r =>
      val i = load.indices.minBy(load(_))
      bins(i) :+= r
      load(i) += r.size
    }
    bins.filter(_.nonEmpty).map(_.sortBy(_.p))
  }
}

object KafkaLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaLogReader(partition.asInstanceOf[KafkaLogPartition])
}

/** Reads a [[KafkaLogPartition]]'s ranges in turn, one segment open at a
  * time through a buffered stream. Only segments overlapping a range are
  * opened (ranged by filename, so a micro-batch never opens historical
  * segments it already consumed); a record before the range is skipped
  * without allocating its key and value, and a segment is left at the first
  * offset past the range. The open segment is closed when it is done or
  * when the reader closes, which Spark does after a failed read too (a
  * truncated segment throws EOFException) — the same class of descriptor
  * leak `listDir` guards.
  */
private[sources] class KafkaLogReader(kp: KafkaLogPartition)
    extends PartitionReader[InternalRow] {
  private val topic = UTF8String.fromString(kp.topic)
  private val pending = kp.ranges.iterator.flatMap { r =>
    EmbeddedTopicLog.segments(kp.root, kp.topic, r.p)
      .collect { case (s, e, f) if e > r.start && s < r.end => (r, f) }
  }
  private var in: DataInputStream = _
  private var range: KafkaLogRange = _
  private var left = 0 // records of the open segment not yet read
  private var cur: InternalRow = _

  private def bytes(n: Int): Array[Byte] = {
    val a = new Array[Byte](n); in.readFully(a); a
  }

  override def next(): Boolean = {
    while (true) {
      if (left == 0) {
        close()
        if (!pending.hasNext) return false
        val (r, f) = pending.next()
        range = r
        in = new DataInputStream(new BufferedInputStream(new FileInputStream(f.toFile), 1 << 16))
        left = in.readInt()
      } else {
        left -= 1
        val off = in.readLong()
        val ts = in.readLong()
        if (off >= range.start && off < range.end) {
          val kl = in.readInt()
          val key = if (kl < 0) null else bytes(kl)
          cur = InternalRow(key, bytes(in.readInt()), topic, range.p, off,
            ts * 1000L /* ms → µs */, 0 /* CreateTime */)
          return true
        } else if (off < range.start) {
          in.skipNBytes(math.max(0, in.readInt()).toLong)
          in.skipNBytes(in.readInt().toLong)
        } else left = 0 // offsets ascend within a segment: past the range
      }
    }
    false
  }
  override def get(): InternalRow = cur
  override def close(): Unit = if (in != null) { in.close(); in = null }
}
