package graftbench

import java.time.{LocalDate, LocalDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the ten tables graft's queries read (TPC-H-style star schema,
  * `events`, `documents`, `embeddings`) with the schemas and value
  * domains of graft's test data at scale factor 0.01. Every value comes
  * from a fixed-seed generator, so every run reads the same bytes of
  * content and the recorded row counts and digests stay valid.
  */
object TableGen {
  val Version = "tables-v1"
  val Marker = "GENERATED"

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  private def f(name: String, t: DataType) = StructField(name, t)

  def write(spark: SparkSession, dir: String): Unit = {
    val out = java.nio.file.Paths.get(dir)
    CdcPipeline.rm(out)
    java.nio.file.Files.createDirectories(out)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    var salt = 0L
    def rnd(): java.util.SplittableRandom = { salt += 1; new java.util.SplittableRandom(42L + salt) }
    def money(r: java.util.SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(r: java.util.SplittableRandom, from: LocalDate, days: Int) =
      from.plusDays(r.nextInt(days).toLong).atStartOfDay()

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = 1500; val nSupp = 100; val nPart = 2000; val nOrd = 15000
    val rc = rnd()
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segments(rc.nextInt(segments.size)))))
    val rs = rnd()
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))
    val rp = rnd()
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rp.nextInt(8))} ${nouns(rp.nextInt(8))}", s"Brand#${1 + rp.nextInt(25)}",
        types(rp.nextInt(types.size)), 1 + rp.nextInt(50),
        math.round((900.0 + (i % 1000) / 10.0) * 100) / 100.0)))
    val ro = rnd()
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000.0, 500000.0),
        day(ro, LocalDate.of(1995, 1, 1), 2404), priorities(ro.nextInt(5)))))
    val rl = rnd()
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 60000).map(_ => Row(rl.nextInt(nOrd).toLong, rl.nextInt(nPart).toLong,
        rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble,
        money(rl, 900.0, 105000.0), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
        day(rl, LocalDate.of(1995, 1, 2), 2498))))

    val re = rnd()
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepUs = 30L * 86400L * 1000000L / 10000L
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 10000).map { i =>
        val us = i * stepUs + (re.nextDouble() * stepUs).toLong
        val v = math.max(0.01, math.round(math.exp(3.5 + re.nextDouble() * 2.0 - 1.0 +
          (re.nextDouble() - 0.5)) * 100) / 100.0)
        Row(i.toLong, t0.plusNanos(us * 1000L), re.nextInt(150).toLong,
          eventTypes(re.nextInt(5)), v, s"""{"k": ${re.nextInt(100)}}""")
      })
    val rd = rnd()
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until 500).map { i =>
        val text = Seq.fill(10 + rd.nextInt(90))(words(rd.nextInt(words.size))).mkString(" ")
        Row(i.toLong, text, langs(rd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
      })
    val rv = rnd()
    val centers = Array.fill(10, 64)(rv.nextDouble() * 2 - 1)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rv.nextInt(10)
        val raw = centers(label).map(c => 0.3 * c + (rv.nextDouble() * 2 - 1))
        val norm = math.sqrt(raw.map(x => x * x).sum)
        Row(i.toLong, raw.map(x => (x / norm).toFloat).toSeq, label)
      })
    java.nio.file.Files.writeString(out.resolve(Marker), Version + "\n")
  }
}
