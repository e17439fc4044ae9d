package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextHashes
import scala.jdk.CollectionConverters._

/** `cdcgen` — a DataSource V2 that deterministically synthesizes the CDC
  * event envelope. The Spark-native analog of the reference's custom CDC
  * DataSource + workload generator (reference:
  * src/aurora_cdc/datasource/aurora_cdc_datasource_v2.py — offset
  * management, partitioned parallel reads, streaming micro-batches;
  * scripts/cdc_data_generator.py — the synthetic change workload).
  *
  * Batch:     spark.read.format("cdcgen").option("rows", n)
  *              .option("partitions", p).load()
  * Streaming: spark.readStream.format("cdcgen")
  *              .option("rowsPerBatch", n).option("maxRows", m).load()
  * `mode=txn` selects the transaction arm ([[CdcTxnGen]]), which counts
  * `txns` / `txnsPerBatch` / `maxTxns` instead; the arms share every other
  * option, the scan, the stream and the reader ([[CdcGenArm]]).
  *
  * Scale design: rows are generated partition-locally from (seed, unit)
  * — no driver-side materialization, arbitrary parallelism, and the
  * streaming offset is a plain unit counter so checkpoint/restart gives
  * exactly-once delivery (the role binlog file/position pairs play in the
  * reference, aurora_cdc_datasource_v2.py:248-308).
  */
class CdcGenSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdcgen"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcGenArm.of(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcGenTable(new CaseInsensitiveStringMap(properties))
}

object CdcGen {
  /** Same shape as Tables.eventsSchema: ts carried as epoch nanos. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)
  ))

  val eventTypes: Array[String] = Array("signup", "click", "view", "purchase", "error")

  /** SplitMix64's first output from state `x`. */
  private[sources] def mix(x: Long): Long = TextHashes.splitMix64(x, 1)

  /** Deterministic event for (seed, id): same tuple on every executor. */
  def row(seed: Long, id: Long, baseTsNs: Long, users: Int): InternalRow = {
    val h = mix(seed ^ mix(id))
    val tsNs = baseTsNs + id * 1000000000L + math.floorMod(h, 999999999L)
    val user = math.floorMod(mix(h ^ 0x5f5f5f5fL), users.toLong)
    val et = eventTypes(math.floorMod(mix(h ^ 0xa5a5a5a5L), eventTypes.length.toLong).toInt)
    val value = math.floorMod(mix(h ^ 0x3c3c3c3cL), 49000L) / 100.0 + 0.01
    val k = math.floorMod(mix(h ^ 0x77777777L), 100L)
    InternalRow(id, tsNs, user, UTF8String.fromString(et), value,
      UTF8String.fromString(s"""{"k": $k}"""))
  }
}

class CdcGenTable(props: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val arm = CdcGenArm.of(props)
  override def name(): String = s"cdcgen(${props.getOrDefault("mode", "events")})"
  override def schema(): StructType = arm.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = (props.asScala ++ options.asScala).toMap
    () => new CdcGenScan(arm, merged)
  }
}

/** `mode=txn`: the FK-CONSISTENT multi-table transaction arm — the analog
  * of the reference's correlated business-workload driver
  * (reference: scripts/cdc_data_generator.py:92-481 — new_customer_order
  * touches orders+lineitem+customer in one transaction, process_return
  * reverses an EARLIER order, update_prices reprices parts). Each
  * transaction is a GROUP of unified-envelope events sharing one txn_id,
  * and every key reference inside a group resolves: a lineitem's
  * l_orderkey is its own txn's new order, a return targets the order
  * three transactions back (deterministically a new_customer_order — the
  * schedule below), the customer touch uses the order's own custkey.
  *
  * Scenario schedule is PERIODIC (txn_id mod 5: 0-2 new order, 3 return,
  * 4 price update — the 60/20/20 weighting of the reference's weighted
  * random.choice, made deterministic); all remaining randomness
  * (customer, parts, line counts, quantities) derives from the same
  * SplitMix64 mix as the events arm, so the stream replays bit-identically
  * from (seed, txn range) on any executor — the property that lets the
  * DuckDB oracle regenerate the workload and lets a checkpoint restart
  * re-deliver exactly. Offsets count TRANSACTIONS (the binlog
  * commit-position analog), so a micro-batch NEVER splits a transaction —
  * apply-side atomicity comes free from admission control.
  *
  * Money travels as integer CENTS (`*_c` fields) — exact cross-engine.
  */
object CdcTxnGen {
  import CdcGen.mix

  val schema: StructType = StructType(Seq(
    StructField("txn_id", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("scenario", StringType, nullable = false),
    StructField("src_table", StringType, nullable = false),
    StructField("entity_key", StringType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Order keys live above this base so they never collide with seeded
    * TPC-H keys when the stream applies onto a snapshot. */
  val OrderBase: Long = 1L << 20

  def scenarioOf(t: Long): String = (t % 5) match {
    case 0 | 1 | 2 => "new_customer_order"
    case 3         => "process_return"
    case _         => "update_prices"
  }

  private case class NewOrder(custkey: Long, orderkey: Long, nLines: Int,
      partkeys: IndexedSeq[Long], qtys: IndexedSeq[Long],
      priceCents: IndexedSeq[Long]) {
    def totalCents: Long = priceCents.sum
  }

  /** The deterministic new-order plan for txn `t` — recomputable by any
    * LATER transaction (returns re-derive the order they reverse from the
    * txn id alone, no state). */
  private def orderPlan(seed: Long, t: Long, users: Int, parts: Int): NewOrder = {
    val h = mix(seed ^ mix(t))
    val cust = math.floorMod(mix(h ^ 0x11111111L), users.toLong)
    val n = 1 + math.floorMod(mix(h ^ 0x22222222L), 5L).toInt
    val pk = (1 to n).map(l => math.floorMod(mix(h ^ (0x100L + l)), parts.toLong))
    val qty = (1 to n).map(l => 1L + math.floorMod(mix(h ^ (0x200L + l)), 10L))
    val price = (1 to n).map(l => qty(l - 1) * (10000L + pk(l - 1) % 90000L))
    NewOrder(cust, OrderBase + t, n, pk, qty, price)
  }

  /** All events of transaction `t`, in commit order. seq = t*8 + i (max 7
    * events per txn, so seqs are globally unique and txn-contiguous). */
  def txnEvents(seed: Long, t: Long, baseTsNs: Long, users: Int,
      parts: Int): Seq[InternalRow] = {
    val scen = scenarioOf(t)
    val h = mix(seed ^ mix(t))
    def row(i: Int, table: String, key: String, op: String,
        payload: String): InternalRow =
      InternalRow(t, t * 8 + i, UTF8String.fromString(scen),
        UTF8String.fromString(table), UTF8String.fromString(key),
        UTF8String.fromString(op), baseTsNs + t * 1000000000L + i * 1000L,
        UTF8String.fromString(payload))
    scen match {
      case "new_customer_order" =>
        val o = orderPlan(seed, t, users, parts)
        val order = row(0, "orders", o.orderkey.toString, "INSERT",
          s"""{"o_orderkey":${o.orderkey},"o_custkey":${o.custkey},"o_orderstatus":"O","o_totalprice_c":${o.totalCents}}""")
        val lines = (1 to o.nLines).map { l =>
          row(l, "lineitem", s"${o.orderkey}-$l", "INSERT",
            s"""{"l_orderkey":${o.orderkey},"l_linenumber":$l,"l_partkey":${o.partkeys(l - 1)},"l_quantity":${o.qtys(l - 1)},"l_extendedprice_c":${o.priceCents(l - 1)},"l_returnflag":"N"}""")
        }
        val cust = row(o.nLines + 1, "customer", o.custkey.toString, "UPDATE",
          s"""{"c_custkey":${o.custkey},"c_acctbal_delta_c":${-o.totalCents}}""")
        (order +: lines) :+ cust
      case "process_return" =>
        // three txns back is ALWAYS a new_customer_order (t%5==3 → (t-3)%5==0)
        val g = t - 3
        val o = orderPlan(seed, g, users, parts)
        val r = 1 + math.floorMod(mix(h ^ 0x33333333L), o.nLines.toLong).toInt
        val refund = o.priceCents(r - 1)
        Seq(
          row(0, "lineitem", s"${o.orderkey}-$r", "UPDATE",
            s"""{"l_orderkey":${o.orderkey},"l_linenumber":$r,"l_returnflag":"R"}"""),
          row(1, "orders", o.orderkey.toString, "UPDATE",
            s"""{"o_orderkey":${o.orderkey},"o_orderstatus":"R","o_totalprice_c":${o.totalCents - refund}}"""),
          row(2, "customer", o.custkey.toString, "UPDATE",
            s"""{"c_custkey":${o.custkey},"c_acctbal_delta_c":$refund}"""))
      case _ =>
        val p = 1 + math.floorMod(mix(h ^ 0x44444444L), 3L).toInt
        (0 until p).map { i =>
          val pk = math.floorMod(mix(h ^ (0x300L + i)), parts.toLong)
          val newPrice = 10000L + math.floorMod(mix(h ^ (0x400L + i)), 90000L)
          row(i, "part", pk.toString, "UPDATE",
            s"""{"p_partkey":$pk,"p_retailprice_c":$newPrice}""")
        }
    }
  }
}

/** What the two arms differ in: the schema, the names of the unit count
  * options, the scan's description and the rows one unit generates. A
  * unit is an event (one row) or a transaction (all its events), and
  * offsets and partition ranges count units, so a micro-batch never
  * splits a transaction. Option keys are lower case: the scan reads them
  * from a case-insensitive map.
  */
sealed abstract class CdcGenArm(val schema: StructType, val unitsKey: String,
    val perBatchKey: String, val maxKey: String, val label: String)
  extends Serializable {
  def rows(p: CdcGenPartition, unit: Long): Iterator[InternalRow]
}

object CdcGenArm {
  /** The arm `mode` selects: `txn`, else events. */
  def of(options: CaseInsensitiveStringMap): CdcGenArm =
    if (options.get("mode") == "txn") Txn else Events

  case object Events extends CdcGenArm(CdcGen.schema, "rows", "rowsperbatch", "maxrows", "cdcgen") {
    def rows(p: CdcGenPartition, unit: Long): Iterator[InternalRow] =
      Iterator.single(CdcGen.row(p.seed, unit, p.baseTsNs, p.users))
  }

  case object Txn extends CdcGenArm(CdcTxnGen.schema, "txns", "txnsperbatch", "maxtxns", "cdcgen-txn") {
    def rows(p: CdcGenPartition, unit: Long): Iterator[InternalRow] =
      CdcTxnGen.txnEvents(p.seed, unit, p.baseTsNs, p.users, p.parts).iterator
  }
}

/** One scan for both arms: a batch read is units `[0, n)`, a micro-batch
  * the units between two offsets, and both split their range the same way.
  */
class CdcGenScan(arm: CdcGenArm, options: Map[String, String]) extends Scan with Batch {
  private def opt(key: String, default: Long): Long =
    options.get(key).map(_.toLong).getOrElse(default)

  private val units = opt(arm.unitsKey, 1000L)
  private val partitions = opt("partitions", 4L).toInt
  private val seed = opt("seed", 42L)
  private val users = opt("users", 150L).toInt
  private val parts = opt("parts", 200L).toInt
  private val baseTsNs = opt("basetsns", 1704067200L * 1000000000L)
  private[sources] val unitsPerBatch = opt(arm.perBatchKey, 100L)
  private[sources] val maxUnits = opt(arm.maxKey, Long.MaxValue)

  override def readSchema(): StructType = arm.schema
  override def description(): String = s"${arm.label}(${arm.unitsKey}=$units, partitions=$partitions)"

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = ranges(0L, units)
  override def createReaderFactory(): PartitionReaderFactory = CdcGenReaderFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcGenMicroBatchStream(this)

  /** Units `[start, end)` in at most `partitions` ranges of ceil(n / p)
    * units each; empty ranges are dropped.
    */
  private[sources] def ranges(start: Long, end: Long): Array[InputPartition] = {
    val per = (end - start + partitions - 1) / partitions
    (0 until partitions).iterator.map(start + _ * per).takeWhile(_ < end)
      .map(s => CdcGenPartition(arm, s, math.min(s + per, end), seed, baseTsNs, users, parts))
      .toArray
  }
}

case class CdcGenPartition(arm: CdcGenArm, start: Long, end: Long, seed: Long,
    baseTsNs: Long, users: Int, parts: Int) extends InputPartition

object CdcGenReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcGenPartition]
    val it = Iterator.iterate(p.start)(_ + 1).takeWhile(_ < p.end).flatMap(p.arm.rows(p, _))
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = it.hasNext && { row = it.next(); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Offset = count of units emitted so far (the binlog-position analog). */
case class CdcGenOffset(count: Long) extends Offset {
  override def json(): String = s"""{"count": $count}"""
}

class CdcGenMicroBatchStream(scan: CdcGenScan)
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = CdcGenOffset(0L)

  /** SupportsAdmissionControl: the engine hands us the true start offset —
    * essential on checkpoint restart, where the bare latestOffset() has no
    * way to know where the previous run stopped and would plan backwards
    * (re-delivering rows).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcGenOffset].count
    CdcGenOffset(math.min(s + scan.unitsPerBatch, scan.maxUnits))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is used")
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    CdcGenOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))
  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    scan.ranges(start.asInstanceOf[CdcGenOffset].count, end.asInstanceOf[CdcGenOffset].count)
  override def createReaderFactory(): PartitionReaderFactory = CdcGenReaderFactory
  override def stop(): Unit = ()
}
