package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Events, Profile, Skew, Tpch}

/** Skew-salted aggregation, JSON/CSV envelope ingestion, partitioned write. */
class UtilSpec extends SparkSpec {

  test("approx-agg sample: estimates carry positive error bars and land within 3x ci95") {
    val rows = graft.operators.Tpch.qApproxAggSample(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sampled") > 0, r.toString)
      assert(r.getAs[Long]("ci95_halfwidth") > 0, r.toString)
      // 2*sigma ci => 3x ci is a 6-sigma bound; a deterministic sample
      // either passes forever or the estimator is actually broken
      val err = math.abs(r.getAs[Long]("est_sum_qty") - r.getAs[Long]("exact_sum_qty"))
      assert(err <= 3 * r.getAs[Long]("ci95_halfwidth"),
        s"estimate off by $err vs ci ${r.getAs[Long]("ci95_halfwidth")}: $r")
    }
  }

  test("salted aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy("event_type")
      .agg(sum("value").as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(ev, Seq("event_type"), "value", salts = 8)
      .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("_metadata disambiguators spread byte-identical duplicate rows over salts") {
    import spark.implicits._
    // a hot key made entirely of identical duplicates: the worst case the
    // whole-row hash cannot spread on its own
    val dir = Files.createTempDirectory("dup").toString
    Seq.fill(2000)(("hot", 1.0)).toDF("k", "v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val dup = spark.read.parquet(dir)

    val plain = dup.withColumn("__salt", Skew.retryStableSalt(dup, 16))
      .select("__salt").distinct().count()
    assert(plain == 1, "identical rows should collapse to one salt without disambiguators")

    val meta = Seq(col("_metadata.file_path"), col("_metadata.row_index"))
    val spread = dup.withColumn("__salt", Skew.retryStableSalt(dup, 16, meta))
      .select("__salt").distinct().count()
    assert(spread >= 8, s"positional disambiguators spread over only $spread/16 salts")

    // and the disambiguated aggregate still equals the direct one
    val direct = dup.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(dup, Seq("k"), "v", salts = 16,
        disambiguators = meta)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("json and csv envelope round-trip through the same schema") {
    val ev = Tables.events(spark, sf).limit(200)
    val dir = Files.createTempDirectory("env").toString
    ev.write.mode("overwrite").json(s"$dir/j")
    ev.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    val j = Tables.eventsFromJson(spark, s"$dir/j")
    val c = Tables.eventsFromCsv(spark, s"$dir/c")
    assert(j.count() == 200 && c.count() == 200)
    assert(j.exceptAll(ev).count() == 0)
    assert(c.select("event_id", "ts", "user_id", "event_type")
      .exceptAll(ev.select("event_id", "ts", "user_id", "event_type")).count() == 0)
  }

  test("date-partitioned write produces day directories") {
    val out = Files.createTempDirectory("part").toString + "/t"
    Tables.writeDatePartitioned(
      Tables.events(spark, sf).withColumn("ts_us", expr("ts DIV 1000")),
      "ts_us", out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("__d=")))
    assert(dirs.length > 5) // events span a month of days
    assert(spark.read.parquet(out).count() == Tables.events(spark, sf).count())
  }

  test("orc round-trip preserves the envelope") {
    val dir = Files.createTempDirectory("orc").toString
    val ev = Tables.events(spark, sf).limit(200)
    ev.write.mode("overwrite").orc(s"$dir/o")
    val back = spark.read.schema(Tables.eventsSchema).orc(s"$dir/o")
    assert(back.count() == 200)
    assert(back.exceptAll(ev).count() == 0)
  }

  test("multi-source union yields one envelope keyed by src_table") {
    val synthetic = spark.read.format("cdcgen").option("rows", 300).load()
    val unified = graft.streaming.CdcStreams.multiSourceUnion(
      Seq("events" -> Tables.events(spark, sf), "synthetic" -> synthetic))
    assert(unified.count() == Tables.events(spark, sf).count() + 300)
    assert(unified.select("src_table").distinct().count() == 2)
    assert(unified.columns.contains("operation") && unified.columns.contains("ts_us"))
  }

  test("heterogeneous-schema union round-trips through the envelope") {
    import graft.streaming.CdcStreams
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val cust = Tables.customer(spark, sf).select("c_custkey", "c_name", "c_nationkey")
    val env = CdcStreams.heterogeneousUnion(Seq(
      ("orders", orders, "o_orderkey", "o_orderkey"),
      ("customer", cust, "c_custkey", "c_custkey"))).cache()
    try {
      // one envelope schema, both tables present, no rows lost
      assert(env.columns.toSeq ==
        Seq("src_table", "entity_key", "seq", "payload", "payload_schema"))
      assert(env.count() == orders.count() + cust.count())
      // the embedded DDL decodes each payload back to its typed columns
      val ddls = env.select("src_table", "payload_schema").distinct()
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val ordersBack = CdcStreams.decodePayload(env, "orders", ddls("orders"))
        .select(col("seq").as("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      assert(ordersBack.exceptAll(orders).count() == 0)
      assert(orders.exceptAll(ordersBack).count() == 0)
      val custBack = CdcStreams.decodePayload(env, "customer", ddls("customer"))
      assert(custBack.select("c_name", "c_nationkey")
        .exceptAll(cust.select("c_name", "c_nationkey")).count() == 0)
    } finally env.unpersist()
  }

  test("compaction collapses a small-file table without changing its rows") {
    val dir = Files.createTempDirectory("cmp").toString + "/tbl"
    val ev = Tables.events(spark, sf)
    ev.repartition(40).write.parquet(dir)
    def parquetFiles(): Int = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 40)
    val expected = ev.collect().toSet
    val n = Tables.compact(spark, dir, targetFileMB = 128)
    assert(parquetFiles() == n && n < before)
    assert(spark.read.schema(Tables.eventsSchema).parquet(dir).collect().toSet == expected)
  }

  test("partitioned compaction preserves the layout and the rows") {
    val dir = Files.createTempDirectory("cmpp").toString + "/tbl"
    val ev = Tables.events(spark, sf).withColumn("ts_us", expr("ts DIV 1000")).limit(4000)
    Tables.writeDatePartitioned(ev.repartition(20), "ts_us", dir)
    val expected = spark.read.parquet(dir).drop("__d").collect().toSet
    // whole-table compact must refuse the partitioned layout
    intercept[IllegalArgumentException](Tables.compact(spark, dir))
    val results = Tables.compactPartitioned(spark, dir, targetFileMB = 128)
    assert(results.nonEmpty && results.forall(_._2 >= 1))
    // day directories intact, rows identical, pruning still possible
    val back = spark.read.parquet(dir)
    assert(back.columns.contains("__d"))
    assert(back.drop("__d").collect().toSet == expected)
  }

  test("surrogate keys stay a dense 1..n permutation on repeated runs (AQE Pid freeze)") {
    // regression: without the localCheckpoint barrier in exactRank, AQE
    // could coalesce/split the two reads of the range exchange
    // differently — ranks silently duplicated or exceeded n, and only at
    // small partition sizes (this suite's local[4]/4-partitions config)
    import graft.operators.Distributed
    (1 to 3).foreach { run =>
      val out = Distributed.surrogateKeys(
        Tables.customer(spark, sf).select("c_custkey", "c_name"), "c_name")
      val stats = out.agg(count(lit(1)).as("n"),
        countDistinct(col("sk")).as("nd"), max(col("sk")).as("mx")).head()
      assert(stats.getLong(0) === stats.getLong(1), s"run $run: duplicate ranks")
      assert(stats.getLong(0) === stats.getLong(2), s"run $run: rank range hole")
    }
  }

  test("exactRank matches the window row_number at every key cardinality") {
    import spark.implicits._
    // include NULL keys: row_number treats them as their own partition and
    // a plain equi-join against the offsets frame would drop them
    val df = (1 to 2000).map(i =>
      (if (i % 17 == 0) None else Some(i % 3), i * 7 % 1000, i))
      .toDF("k", "v", "id")
    val got = graft.operators.Distributed.exactRank(df, Seq("k"), Seq("v", "id"))
      .select("k", "v", "id", "rnk", "n_total")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v", "id")
    val ref = df.withColumn("rnk", row_number().over(w))
      .withColumn("n_total", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")))
      .select("k", "v", "id", "rnk", "n_total")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
  }

  test("schema evolution: v1 and v2 payloads of one table decode under the merged DDL") {
    import spark.implicits._
    import graft.streaming.CdcStreams
    // v1 rows lack the column v2 adds — the 500-table fleet's reality
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val v2 = Seq((3L, "c", 9.5), (4L, "d", 7.25)).toDF("id", "name", "score")
    val env = CdcStreams.heterogeneousUnion(Seq(
      ("t_v1", v1, "id", "id"), ("t_v2", v2, "id", "id")))
      // evolution view: one logical table, two physical schema versions
      .withColumn("src_table", lit("t"))
    val mergedDdl = "name STRING,score DOUBLE"
    val decoded = CdcStreams.decodePayload(env, "t", mergedDdl).orderBy("seq")
    val rows = decoded.collect()
    assert(rows.length == 4)
    // v1 rows surface the evolved column as null; v2 rows carry it
    assert(rows.take(2).forall(r => r.isNullAt(r.fieldIndex("score"))))
    assert(rows.drop(2).map(_.getAs[Double]("score")).toSeq == Seq(9.5, 7.25))
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("a", "b", "c", "d"))
  }

  test("multi-table merge applies mixed-table batches in one partitioned write") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("mtm_spec").toString + "/gold"
    def env(tbl: String, key: Long, seq: Long, op: String, payload: String) =
      (tbl, key.toString, seq, op, payload)
    val cols = Seq("src_table", "entity_key", "seq", "operation", "payload")

    // batch 1: inserts across two tables
    val b1 = Seq(
      env("orders", 1, 10, "INSERT", """{"v":1}"""),
      env("orders", 2, 10, "INSERT", """{"v":2}"""),
      env("customer", 7, 10, "INSERT", """{"n":"a"}""")).toDF(cols: _*)
    graft.streaming.CdcStreams.applyCdcBatchMultiTable(spark, b1, root)
    assert(spark.read.parquet(root).count() == 3)

    // batch 2: update orders/1, delete orders/2, new customer — one call,
    // three per-table outcomes
    val b2 = Seq(
      env("orders", 1, 20, "UPDATE", """{"v":11}"""),
      env("orders", 2, 20, "DELETE", """{"v":2}"""),
      env("customer", 8, 20, "INSERT", """{"n":"b"}""")).toDF(cols: _*)
    graft.streaming.CdcStreams.applyCdcBatchMultiTable(spark, b2, root)
    val state = spark.read.parquet(root)
      .select("src_table", "entity_key", "seq", "payload").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(state == Set(
      ("orders", "1", 20L, """{"v":11}"""),
      ("customer", "7", 10L, """{"n":"a"}"""),
      ("customer", "8", 20L, """{"n":"b"}""")), s"bad merged state: $state")

    // crash-replay idempotence: re-applying batch 2 changes nothing
    graft.streaming.CdcStreams.applyCdcBatchMultiTable(spark, b2, root)
    val replayed = spark.read.parquet(root)
      .select("src_table", "entity_key", "seq", "payload").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(replayed == state, "batch replay changed the multi-table state")

    // a batch touching ONE table must leave other partitions' files alone
    // (dynamic overwrite rewrites only the touched src_table partition)
    val custFilesBefore = new java.io.File(s"$root/src_table=customer")
      .listFiles().map(_.getName).toSet
    val b3 = Seq(env("orders", 3, 30, "INSERT", """{"v":3}""")).toDF(cols: _*)
    graft.streaming.CdcStreams.applyCdcBatchMultiTable(spark, b3, root)
    val custFilesAfter = new java.io.File(s"$root/src_table=customer")
      .listFiles().map(_.getName).toSet
    assert(custFilesAfter == custFilesBefore,
      "merge of an orders-only batch rewrote the customer partition")
    assert(spark.read.parquet(root).count() == 4)

    // a batch that deletes every customer key leaves no customer rows,
    // and the orders partition keeps its files and rows
    val ordersFilesBefore = new java.io.File(s"$root/src_table=orders")
      .listFiles().map(_.getName).toSet
    val b4 = Seq(env("customer", 7, 40, "DELETE", """{"n":"a"}"""),
      env("customer", 8, 40, "DELETE", """{"n":"b"}""")).toDF(cols: _*)
    graft.streaming.CdcStreams.applyCdcBatchMultiTable(spark, b4, root)
    val after = spark.read.parquet(root)
    assert(after.filter(col("src_table") === "customer").count() == 0,
      "an emptied table kept its stale partition")
    assert(new java.io.File(s"$root/src_table=orders").listFiles().map(_.getName).toSet ==
      ordersFilesBefore, "a customer-only batch rewrote the orders partition")
    assert(after.filter(col("src_table") === "orders")
      .select("entity_key", "seq", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ==
      Set(("1", 20L, """{"v":11}"""), ("3", 30L, """{"v":3}""")))
  }

  test("the cdc_multi_table_merge row deletes its temp target") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots() = tmp.listFiles().map(_.getName).filter(_.matches("mtm\\d+")).toSet
    val before = roots()
    // the census is collected after the target is gone: it is a local frame
    val rows = SparkEntry.queries("cdc_multi_table_merge")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = Tables.orders(spark, sf)
    val customers = Tables.customer(spark, sf)
      .filter(col("c_custkey") > 50 && col("c_custkey") <= 200).count()
    assert(rows == Map(
      "orders" -> (orders.filter(col("o_orderkey") <= 500).count(),
        orders.filter(col("o_orderkey") <= 100).count()),
      "customer" -> (customers, 0L)), rows)
    assert((roots() -- before).isEmpty, s"temp roots left: ${roots() -- before}")
  }

  test("stream-static broadcast enrichment joins without shuffling the stream") {
    val normalized = graft.streaming.CdcStreams.normalize(Tables.events(spark, sf))
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    val out = graft.streaming.CdcStreams.enriched(normalized, dim, "k")
    assert(out.count() == normalized.count())
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("funnel steps honor the at-or-after ordering, one plan, reused exchange") {
    import spark.implicits._
    val e = Seq(
      // u1 completes all 3 in order
      ("u1", "signup", 10L), ("u1", "view", 20L), ("u1", "purchase", 30L),
      // u2 purchases BEFORE viewing -> stops at step 2
      ("u2", "signup", 10L), ("u2", "purchase", 15L), ("u2", "view", 20L),
      // u3 never signs up -> counts nowhere despite view+purchase
      ("u3", "view", 5L), ("u3", "purchase", 6L),
      // u4 ties are inclusive: same-ts signup+view, later purchase
      ("u4", "signup", 50L), ("u4", "view", 50L), ("u4", "purchase", 51L)
    ).toDF("user_id", "event_type", "ts_us")
    val out = operators.Events.funnelStepsOn(e, Seq("signup", "view", "purchase"))
    val m = out.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(m == Map(1 -> 3L, 2 -> 3L, 3 -> 2L), s"got $m")
    // the union is one plan; the shared stage-1 aggregate exchange is reused
    assert(out.queryExecution.executedPlan.toString.contains("ReusedExchange"))
  }

  test("registered views expose the whole surface to plain spark.sql") {
    Tables.registerViews(spark, sf)
    // custom function + view in one SQL statement
    val sigs = spark.sql(
      "SELECT doc_id, simhash64(text) AS sig FROM documents LIMIT 5").collect()
    assert(sigs.length == 5 && sigs.forall(r => !r.isNullAt(1)))
    // cross-view analytic joins work as plain SQL
    val rev = spark.sql(
      """SELECT c.c_mktsegment, count(*) AS n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin).collect()
    assert(rev.nonEmpty && rev.map(_.getAs[Long]("n")).sum ==
      Tables.orders(spark, sf).count())
    // the nanos-timestamp workaround holds through the view
    assert(spark.sql("SELECT max(ts) FROM events").head().getLong(0) > 0L)
  }

  test("retentionBitmap equals the classic distinct-count retention curve") {
    import graft.operators.Events
    val bitmap = Events.retentionBitmap(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each user belongs to exactly one cohort, so summing the cohort curve
    // over cohorts per offset is the corpus-wide distinct-user count
    val classic = Events.retentionCohorts(spark, sf)
      .filter(col("day_offset") >= 0 && col("day_offset") < 63)
      .groupBy("day_offset").agg(sum("active_users").as("u")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bitmap == classic,
      s"bitmap curve diverges: ${bitmap.toSeq.sorted.take(5)} vs ${classic.toSeq.sorted.take(5)}")
  }

  test("anomalyMad flags only beyond-fence values, robust to the outlier itself") {
    import spark.implicits._
    import graft.operators.Events
    val dir = Files.createTempDirectory("mad").toString
    val rows =
      // type x: median 0, MAD 0 → any deviation is an outlier (degenerate fence)
      Seq(1.0, 0.0, 0.0, 0.0, 100.0).zipWithIndex.map { case (v, i) =>
        (i.toLong, 1000000000L + i, i.toLong, "x", v, "{}")
      } ++
      // type y: median 5, MAD 2 → fence 6 > max absdev 4, nothing flagged
      (1 to 9).map(i => (100L + i, 2000000000L + i, i.toLong, "y", i.toDouble, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.anomalyMad(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(r.fieldIndex("n_outliers")))).toMap
    assert(out("x") == ((0.0, 0.0, 2L)), s"x got ${out("x")}") // 1.0 and 100.0 both breach
    assert(out("y") == ((5.0, 2.0, 0L)), s"y got ${out("y")}")
  }

  test("activeUsers and streaks agree with a hand-computed activity grid") {
    import spark.implicits._
    import graft.operators.Events
    val dir = Files.createTempDirectory("act").toString
    def ns(day: Long, i: Int) = day * 86400000000000L + i * 1000000000L
    val rows = Seq(
      (1L, ns(0, 1), 1L, "click", 1.0, "{}"),
      (2L, ns(0, 2), 1L, "click", 1.0, "{}"), // same day twice — distinct collapse
      (3L, ns(1, 1), 1L, "click", 1.0, "{}"),
      (4L, ns(2, 1), 1L, "click", 1.0, "{}"),
      (5L, ns(5, 1), 1L, "click", 1.0, "{}"),
      (6L, ns(6, 1), 1L, "click", 1.0, "{}"),
      (7L, ns(2, 3), 2L, "click", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // day 5/6 WAU also sees u2's day-2 activity -> stickiness halves there
    val au = Events.activeUsers(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(au == Map(
      0L -> ((1L, 1L, 10000L)), 1L -> ((1L, 1L, 10000L)), 2L -> ((2L, 2L, 10000L)),
      5L -> ((1L, 2L, 5000L)), 6L -> ((1L, 2L, 5000L))), s"got $au")
    // u1: islands {0,1,2} and {5,6}; u2: the single day 2
    val st = Events.streaks(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(st == Map(1L -> ((5L, 2L, 3L, 0L)), 2L -> ((1L, 1L, 1L, 2L))), s"got $st")
  }

  test("schemaDrift reports unregistered, missing, and ok columns per table") {
    import spark.implicits._
    import graft.streaming.CdcStreams
    val t1 = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "extra_col")
    val env = CdcStreams.heterogeneousUnion(Seq(("t1", t1, "id", "id")))
    val drift = CdcStreams.schemaDrift(env,
      Map("t1" -> Seq("name", "dropped_col")))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(drift == Set(
      ("name", 2L, "ok"),
      ("extra_col", 2L, "unregistered"),
      ("dropped_col", 0L, "missing_in_data")), s"got $drift")
  }

  test("RFM quintiles are balanced and the segment string matches the scores") {
    import org.apache.spark.sql.functions._
    val rfm = Events.rfmSegments(spark, sf).cache()
    val n = rfm.count()
    assert(n > 0)
    // every axis buckets into 1..5 with near-equal masses (exact NTILE law:
    // sizes differ by at most 1)
    Seq("r_q", "f_q", "m_q").foreach { c =>
      val sizes = rfm.groupBy(c).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sizes.keySet == (1L to 5L).toSet, s"$c buckets: ${sizes.keySet}")
      assert(sizes.values.max - sizes.values.min <= 1, s"$c unbalanced: $sizes")
    }
    val badSeg = rfm.filter(
      concat_ws("-", col("r_q"), col("f_q"), col("m_q")) =!= col("rfm")).count()
    assert(badSeg === 0)
    rfm.unpersist()
  }

  test("TV drift is bounded, symmetric-free of era choice, and zero against itself") {
    val tv = Events.driftTv(spark, sf).collect()
    assert(tv.nonEmpty)
    tv.foreach { r =>
      val v = r.getAs[Long]("tvd_e4")
      assert(v >= 0L && v <= 10000L, s"TVD out of [0,1]: $r")
      assert(r.getAs[Long]("n1") > 0 && r.getAs[Long]("n2") > 0)
    }
  }

  test("A/B readout: arms partition the users and z is finite") {
    import org.apache.spark.sql.functions._
    val ab = Events.abTest(spark, sf).head()
    val users = Tables.events(spark, sf).select(countDistinct(col("user_id")))
      .head().getLong(0)
    assert(ab.getAs[Long]("n_a") + ab.getAs[Long]("n_b") === users)
    assert(ab.getAs[Long]("conv_a") <= ab.getAs[Long]("n_a"))
    assert(ab.getAs[Long]("conv_b") <= ab.getAs[Long]("n_b"))
    val z = ab.getAs[Double]("z_score")
    assert(!z.isNaN && !z.isInfinite)
  }

  test("join advisor picks broadcast for small sides and salting for planted skew") {
    import spark.implicits._
    import graft.operators.Profile
    val smallDim = (1L to 100L).map(i => (i, s"d$i")).toDF("k", "v")
    val bigFact = (1L to 5000L).flatMap(i => Seq.fill(3)((i % 100, i))).toDF("k", "f")
    val rec1 = Profile.joinAdvisor(bigFact, "k", smallDim, "k",
      broadcastMaxRows = 1000).head()
    assert(rec1.getAs[String]("strategy") === "broadcast_right")
    // no broadcastable side + one dominant key -> salting
    val skewL = ((1L to 4000L).map(_ => (1L, "hot")) ++
      (2L to 100L).map(i => (i, "cold"))).toDF("k", "v")
    val skewR = ((1L to 2000L).map(_ => (1L, "hot")) ++
      (2L to 100L).map(i => (i, "cold"))).toDF("k", "v2")
    val rec2 = Profile.joinAdvisor(skewL, "k", skewR, "k",
      broadcastMaxRows = 10).head()
    assert(rec2.getAs[String]("strategy") === "shuffle_salted",
      s"skew not flagged: $rec2")
    // balanced keys, nothing broadcastable -> plain shuffle
    val balL = (1L to 3000L).map(i => (i, "x")).toDF("k", "v")
    val balR = (1L to 3000L).map(i => (i, "y")).toDF("k", "v2")
    val rec3 = Profile.joinAdvisor(balL, "k", balR, "k",
      broadcastMaxRows = 10).head()
    assert(rec3.getAs[String]("strategy") === "shuffle_hash")
  }

  test("winsorize caps at most ~1% per tail and never widens the mean range") {
    val w = Events.winsorize(spark, sf).collect()
    assert(w.nonEmpty)
    val counts = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    w.foreach { r =>
      val n = counts(r.getString(0))
      assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi"))
      // rank-based P1/P99: each tail caps fewer than 1% + 1 rows
      assert(r.getAs[Long]("n_capped_low") <= n / 100 + 1)
      assert(r.getAs[Long]("n_capped_high") <= n / 100 + 1)
      // capping pulls the mean toward the interior, never outside [lo, hi]
      assert(r.getAs[Double]("mean_after") >= r.getAs[Double]("lo") - 1e-9)
      assert(r.getAs[Double]("mean_after") <= r.getAs[Double]("hi") + 1e-9)
    }
  }

  test("KS drift matches a hand-computed statistic per type") {
    val ks = Events.driftKs(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("ks_e4")))).toMap
    assert(ks.nonEmpty)
    // recompute from the raw rows
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), expr("(ts DIV 1000) DIV 86400000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val days = rows.map(_._2)
    val mid = (days.min + days.max + 1) / 2
    ks.foreach { case (et, (n1, n2, ksE4)) =>
      val mine = rows.filter(_._1 == et)
      val (e1, e2) = mine.partition(_._2 < mid)
      assert(n1 === e1.length.toLong && n2 === e2.length.toLong)
      val values = mine.map(_._3).distinct.sorted
      var (c1, c2, dmax) = (0L, 0L, 0L)
      values.foreach { v =>
        c1 += e1.count(_._3 == v); c2 += e2.count(_._3 == v)
        dmax = math.max(dmax, math.abs(c1 * n2 - c2 * n1))
      }
      assert(ksE4 === dmax * 10000 / (n1 * n2), s"$et KS mismatch")
    }
  }

  test("crypto-shredding: doomed users unreadable in place, survivors decrypt exactly") {
    import spark.implicits._
    import graft.operators.Forget
    val ev = Seq((1L, 10L, "a", "3.50"), (2L, 10L, "b", "4.25"),
      (3L, 66L, "a", "9.99"), (4L, 66L, "b", "1.00"))
      .toDF("event_id", "user_id", "event_type", "v")
    val store = ev.withColumn("cipher",
      expr("aes_encrypt(v, CAST(unhex(md5(CAST(user_id AS STRING))) AS BINARY), 'ECB')"))
      .drop("v")
    // registry keeps user 10, forgets user 66 (one-row deletion)
    val keyReg = Seq(10L).toDF("user_id")
      .withColumn("k", expr("CAST(unhex(md5(CAST(user_id AS STRING))) AS BINARY)"))
    val out = Forget.cryptoShred(store, keyReg)
      .select("event_id", "readable", "plain").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(out(1L) === ((true, Some("3.50"))))
    assert(out(2L) === ((true, Some("4.25"))))
    assert(out(3L) === ((false, None)))
    assert(out(4L) === ((false, None)))
  }

  test("linear attribution conserves every attributed purchase's cents") {
    val attr = Events.attributionLinear(spark, sf)
    val attributedCents = attr
      .agg(sum(expr("CAST(round(attributed_value * 100) AS BIGINT)")))
      .head().getLong(0)
    // purchases with >=1 touch in the prior 7 days, straight from the source
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us").rangeBetween(-7L * 86400000000L, 0)
    val expected = ev
      .withColumn("n_touch",
        sum(when(col("event_type").isin("view", "click"), 1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "purchase" && col("n_touch") > 0)
      .agg(sum(col("cents"))).head().getLong(0)
    assert(attributedCents === expected,
      s"attribution leaked cents: $attributedCents vs $expected")
  }

  test("write-audit-publish gates bad data and survives as an atomic swap") {
    import spark.implicits._
    val root = Files.createTempDirectory("wap").toString
    val path = s"$root/gold"
    val good = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val bad = Seq((3L, null.asInstanceOf[String])).toDF("id", "v")
    val noNulls: org.apache.spark.sql.DataFrame => Boolean =
      df => df.filter(col("v").isNull).count() == 0
    // first publish passes
    assert(Tables.writeAuditPublish(spark, good, path, Seq(noNulls)))
    assert(spark.read.parquet(path).count() === 2)
    // bad version is rejected: live table untouched, staging cleaned
    assert(!Tables.writeAuditPublish(spark, bad, path, Seq(noNulls)))
    assert(spark.read.parquet(path).count() === 2)
    assert(!new java.io.File(s"$root/gold_staging").exists())
    // a passing second version replaces the first atomically
    val v2 = Seq((9L, "z")).toDF("id", "v")
    assert(Tables.writeAuditPublish(spark, v2, path, Seq(noNulls)))
    val rows = spark.read.parquet(path).collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 9L)
  }

  test("co-purchase support is symmetric-consistent and lift matches the definition") {
    import org.apache.spark.sql.functions._
    val lift = Tpch.qCopurchaseLift(spark, sf, minSupport = 2).cache()
    assert(lift.count() > 0)
    // support_ab can never exceed either marginal
    assert(lift.filter(col("supp_ab") > col("supp_a") ||
      col("supp_ab") > col("supp_b")).count() === 0)
    // recompute one pair by hand
    val r = lift.orderBy(desc("supp_ab"), col("pa"), col("pb")).head()
    val (pa, pb) = (r.getAs[Long]("pa"), r.getAs[Long]("pb"))
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk")).distinct()
    val both = op.filter(col("pk") === pa).select("okey")
      .intersect(op.filter(col("pk") === pb).select("okey")).count()
    assert(r.getAs[Long]("supp_ab") === both)
    lift.unpersist()
  }

  test("price histogram masses the full order book and the ogive ends at 1e6") {
    import org.apache.spark.sql.functions._
    val h = Tpch.qPriceHistogram(spark, sf).cache()
    val nOrders = Tables.orders(spark, sf).count()
    assert(h.agg(sum(col("n"))).head().getLong(0) === nOrders)
    val last = h.orderBy(desc("bucket")).head()
    assert(last.getAs[Long]("cum_ppm") === 1000000L)
    // cumulative share is monotone in bucket order
    val cums = h.orderBy("bucket").collect().map(_.getAs[Long]("cum_ppm"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    h.unpersist()
  }

  test("interval union merges overlaps and sums islands exactly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("iv").toString
    // value = seconds of activity; ts in raw nanos. u1: [0,10s], [5s,12s]
    // (overlap → one island [0,12s]), [20s,25s]. u2: back-to-back touching
    // intervals [0,5s], [5s,8s] — touching merges (start == running max end
    // is NOT a gap under strict `>` semantics).
    val rows = Seq(
      (1L, 0L, 1L, "click", 10.0, "{}"),
      (2L, 5000000000L, 1L, "click", 7.0, "{}"),
      (3L, 20000000000L, 1L, "click", 5.0, "{}"),
      (4L, 0L, 2L, "click", 5.0, "{}"),
      (5L, 5000000000L, 2L, "click", 3.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = Events.intervalUnion(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(m(1L) === ((3L, 2L, 17000000L, 12000000L)), s"u1 got ${m(1L)}")
    assert(m(2L) === ((2L, 1L, 8000000L, 8000000L)), s"u2 got ${m(2L)}")
  }

  test("pareto share counts crossing users and covers at least the target") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pareto").toString
    // user totals (cents): 800, 100, 50, 50 → grand total 1000
    val rows = Seq(
      (1L, 1000000000L, 1L, "buy", 8.00, "{}"),
      (2L, 2000000000L, 2L, "buy", 1.00, "{}"),
      (3L, 3000000000L, 3L, "buy", 0.50, "{}"),
      (4L, 4000000000L, 4L, "buy", 0.50, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = Events.paretoShare(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(50L) === ((1L, 800L, 800000L)))
    assert(m(80L) === ((1L, 800L, 800000L)))
    assert(m(90L) === ((2L, 900L, 900000L)))
    assert(m(99L) === ((4L, 1000L, 1000000L)))
  }

  test("moments: zero skew on a symmetric type, exact mode with tie-break") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mom").toString
    val rows = Seq(
      // type s: cents 100,200,300 — symmetric → skew 0, kurt n·s4/s2² = 1.5
      (1L, 1000000000L, 1L, "s", 1.00, "{}"),
      (2L, 2000000000L, 1L, "s", 2.00, "{}"),
      (3L, 3000000000L, 1L, "s", 3.00, "{}"),
      // type x: floor values 1,1,2,2 — count tie → smaller bucket wins
      (4L, 1000000000L, 2L, "x", 1.2, "{}"),
      (5L, 2000000000L, 2L, "x", 1.7, "{}"),
      (6L, 3000000000L, 2L, "x", 2.5, "{}"),
      (7L, 4000000000L, 2L, "x", 2.9, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val mo = Events.moments(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val s = mo("s")
    assert(s.getAs[Long]("n") === 3L)
    assert(s.getAs[Long]("mu_cents") === 200L)
    // s2/s3/s4 ship as STRINGS (exact 38-digit integers; the oracle
    // harness hashes dtype-sensitively and Decimal objects don't survive
    // its pandas bridge)
    assert(s.getAs[String]("s2") === "20000")
    assert(s.getAs[String]("s3") === "0")
    assert(s.getAs[Double]("skewness") === 0.0)
    assert(s.getAs[Double]("kurtosis") === 1.5)
    val md = Events.valueMode(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(md("x") === ((1L, 2L, 2L)))
  }

  test("duplicate-family census conserves the corpus") {
    import org.apache.spark.sql.functions._
    import graft.operators.Text
    val h = Text.dupFamilySizes(spark, sf).cache()
    val total = Tables.documents(spark, sf).count()
    assert(h.agg(sum(col("n_docs"))).head().getLong(0) === total)
    assert(h.filter(col("family_size") < 1).count() === 0)
    val ppm = h.agg(sum(col("doc_share_ppm"))).head().getLong(0)
    assert(ppm >= 990000L && ppm <= 1000000L, s"ppm sum $ppm")
    h.unpersist()
  }

  test("attribution models each conserve the purchase and split as defined") {
    import spark.implicits._
    val dir = Files.createTempDirectory("attr").toString
    // u1: view, click, view touches then a 100-cent purchase
    val rows = Seq(
      (1L, 1000000000000L, 1L, "view", 0.0, "{}"),
      (2L, 2000000000000L, 1L, "click", 0.0, "{}"),
      (3L, 3000000000000L, 1L, "view", 0.0, "{}"),
      (4L, 4000000000000L, 1L, "purchase", 1.00, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = Events.attributionCompare(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // linear 34/33/33 (remainder to earliest); first all-to-t1; last
    // all-to-t3; position 40/20/40
    assert(m("view") === ((67L, 100L, 100L, 80L)), s"view: ${m("view")}")
    assert(m("click") === ((33L, 0L, 0L, 20L)), s"click: ${m("click")}")
    // conservation on the real corpus: all four models attribute the
    // same total (every attributed purchase splits exactly)
    val tot = Events.attributionCompare(spark, sf)
      .agg(sum("linear_cents"), sum("first_cents"), sum("last_cents"),
        sum("position_cents")).head()
    assert((0 to 3).map(tot.getLong).distinct.size === 1, s"totals: $tot")
  }

  test("label propagation recovers planted cliques with deterministic ties") {
    import spark.implicits._
    import graft.operators.Graph
    // two 4-cliques; the second shifted to ids 10..13, plus one isolated
    // self-contained pair 20-21
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((20L, 21L))).toDF("src", "dst")
    val out = Graph.labelPropagationFrom(edges, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges to ONE shared label; disjoint components never mix
    assert(Seq(1L, 2L, 3L, 4L).map(out).distinct.size === 1)
    assert(Seq(10L, 11L, 12L, 13L).map(out).distinct.size === 1)
    assert(Seq(20L, 21L).map(out).distinct.size === 1)
    assert(Set(out(1L), out(10L), out(20L)).size === 3)
    // determinism: a second run lands on the identical assignment
    val out2 = Graph.labelPropagationFrom(edges, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === out2)
  }

  test("intervalOverlapJoin emits each overlapping pair exactly once") {
    import spark.implicits._
    import graft.operators.Ranges
    val a = Seq((1L, 100L, 0L, 10000L), (1L, 101L, 30000L, 31000L),
      (2L, 102L, 0L, 500L)).toDF("k", "aid", "a_lo", "a_hi")
    val b = Seq((1L, 200L, 5000L, 20000L), // spans many shared buckets with aid=100
      (1L, 201L, 10000L, 10500L),          // touches aid=100 exactly at its hi
      (1L, 202L, 50000L, 60000L),          // no overlap
      (2L, 203L, 400L, 450L)).toDF("k", "bid", "b_lo", "b_hi")
    val out = Ranges.intervalOverlapJoin(a, b, Seq("k"),
      "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 1000L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // multiplicity matters: a multi-bucket overlap must not duplicate
    assert(out.sorted.toSeq === Seq((100L, 200L), (100L, 201L), (102L, 203L)),
      s"got ${out.sorted.toSeq}")
  }

  test("triangles: planted clique counts exactly, path stays triangle-free") {
    import spark.implicits._
    import graft.operators.Graph
    // 4-clique + a 3-node path; one duplicate reversed edge to prove
    // canonicalization
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val out = Graph.trianglesFrom(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (1L to 4L).foreach { n =>
      assert(out(n) === ((3L, 3L, 10000L)), s"clique node $n got ${out(n)}") }
    assert(out(5L) === ((1L, 0L, 0L)))
    assert(out(6L) === ((2L, 0L, 0L)))
    assert(out(7L) === ((1L, 0L, 0L)))
  }

  test("assortativity: star scores exactly -1, clique degenerates to 0, mixed hand value") {
    import spark.implicits._
    import graft.operators.Graph
    // star K_{1,4}: every edge joins deg-4 hub to deg-1 leaf -> r = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val s = Graph.degreeAssortativityFrom(star).collect()(0)
    assert(s.getAs[Long]("n_edges") === 4L)
    assert(s.getAs[Long]("n_nodes") === 5L)
    assert(s.getAs[Long]("assortativity_e6") === -1000000L)
    // 3-clique: zero degree variance -> degenerate, 0 by convention
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.degreeAssortativityFrom(clique).collect()(0)
      .getAs[Long]("assortativity_e6") === 0L)
    // triangle + pendant: S1=19 S2=18 S3=44 M=4 ->
    // r = (4*4*19 - 324)/(2*4*44 - 324) = -20/28, e6 = -714286
    val mixed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val m = Graph.degreeAssortativityFrom(mixed).collect()(0)
    assert((m.getAs[Long]("s_jk"), m.getAs[Long]("s_j_plus_k"),
      m.getAs[Long]("s_j2_plus_k2")) === ((19L, 18L, 44L)))
    assert(m.getAs[Long]("assortativity_e6") === -714286L)
  }

  test("kcore: clique survives, path tail peels round by round, fixpoint reached") {
    import spark.implicits._
    import graft.operators.Graph
    // 4-clique (every node degree 3 -> 3-core) + a path tail 4-5-6-7
    // hanging off node 4: degree-1 ends peel first, exposing the next —
    // the multi-round cascade a single-pass degree filter would miss
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val out = Graph.kcoreFrom(edges, k = 3, rounds = 8).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out.size === 7)
    // cascade: 7 (deg 1) and 5,6? — round 1 peels every node with CURRENT
    // degree < 3: 5 (deg 2), 6 (deg 2), 7 (deg 1) all go at once; the
    // clique keeps degree 3 throughout (edge 4-5 dies WITH node 5)
    Seq(5L, 6L, 7L).foreach(n => assert(out(n) === ((1, false)), s"$n: ${out(n)}"))
    (1L to 4L).foreach(n => assert(out(n) === ((0, true)), s"$n: ${out(n)}"))
    // genuine multi-round cascade with k=2: only 7 has deg<2 in round 1,
    // then 6, then 5; the clique (+4) survives as the 2-core
    val out2 = Graph.kcoreFrom(edges, k = 2, rounds = 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2(7L) === 1 && out2(6L) === 2 && out2(5L) === 3,
      s"cascade: ${out2.toSeq.sorted}")
    (1L to 4L).foreach(n => assert(out2(n) === 0))
    // fixpoint certificate: rounds=3 already stabilizes (round 4+ peels none)
    val out3 = Graph.kcoreFrom(edges, k = 2, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out3 === out2)
  }

  test("watermarkImpact prices each candidate against planted lateness") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wmi").toString
    // arrival order = event_id; e2 arrives 50s late, e3 exactly 1s late
    // (1s candidate uses strict >, so e3 survives)
    val rows = Seq(
      (1L, 100L * 1000000000L, 1L, "c", 10.0, "{}"),
      (2L, 50L * 1000000000L, 1L, "c", 20.0, "{}"),
      (3L, 99L * 1000000000L, 1L, "c", 40.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.watermarkImpact(spark, dir).collect()
      .map(r => r.getString(r.fieldIndex("wm_label")) ->
        ((r.getLong(r.fieldIndex("n_dropped")), r.getLong(r.fieldIndex("cents_dropped")),
          r.getLong(r.fieldIndex("dropped_ppm"))))).toMap
    assert(out("1s") === ((1L, 2000L, 333333L)), s"1s: ${out("1s")}")
    Seq("1m", "1h", "1d").foreach { wm =>
      assert(out(wm) === ((0L, 0L, 0L)), s"$wm: ${out(wm)}") }
  }

  test("exactRunningMin equals the window sweep; skyline is dominance-exact") {
    import spark.implicits._
    import graft.operators.{Distributed, Tpch}
    // adversarial order: minima arrive late, duplicates, negatives
    val rows = Seq((1L, 5L), (2L, 9L), (3L, 2L), (4L, 2L), (5L, 7L),
      (6L, -1L), (7L, 4L), (8L, -1L), (9L, 0L))
    val df = rows.toDF("k", "v")
    val got = Distributed.exactRunningMin(df, Seq("k"), "v", "rm")
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = df.withColumn("rm", min(col("v")).over(w))
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(got === want, s"got $got\nwant $want")
    assert(got(1L).isEmpty, "first row must have an empty prefix")
    // skyline == brute-force dominance filter on the real part table
    val pts = Tables.part(spark, sf)
      .selectExpr("p_partkey", "CAST(round(p_retailprice * 100) AS BIGINT) AS p",
        "CAST(p_size AS BIGINT) AS s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = pts.filter { case (_, p1, s1) =>
      !pts.exists { case (_, p2, s2) =>
        p2 <= p1 && s2 <= s1 && (p2 < p1 || s2 < s1) }
    }.map(_._1).toSet
    val sky = Tpch.qSkylineParts(spark, sf).collect().map(_.getLong(0)).toSet
    assert(sky === brute, s"skyline mismatch: extra=${sky -- brute} missing=${brute -- sky}")
  }

  test("botRegularity separates metronomes, humans, and short rapid bursts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bot").toString
    val rows =
      // u1: 30 events exactly 10s apart — a metronome (29 gaps, MAD 0)
      (0 until 30).map(i => (i.toLong, i * 10000000000L, 1L, "click", 1.0, "{}")) ++
      // u2: alternating 1s / 1000s gaps — heavy-tailed, never regular
      (0 until 25).map { i =>
        val ts = (i / 2) * 1001000000000L + (i % 2) * 1000000000L
        (100L + i, ts, 2L, "click", 1.0, "{}")
      } ++
      // u3: 10 events 0.5s apart — rapid but too few gaps to call regular
      (0 until 10).map(i => (200L + i, i * 500000000L, 3L, "click", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.botRegularity(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(r.fieldIndex("is_regular")), r.getLong(r.fieldIndex("is_rapid"))))).toMap
    assert(out(1L) === ((29L, 1L, 0L)), s"u1 got ${out(1L)}")
    assert(out(2L) === ((24L, 0L, 0L)), s"u2 got ${out(2L)}")
    assert(out(3L) === ((9L, 0L, 1L)), s"u3 got ${out(3L)}")
  }

  test("benfordAudit counts leading digits exactly and fills absent digits") {
    import spark.implicits._
    val df = Seq(1.0, 1.0, 2.0, 0.0, -5.0).toDF("v") // 0 and negatives excluded
    val out = Profile.benfordAudit(df, "v", "v").collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.size === 9)
    assert(out("1") === ((2L, 666666L)))
    assert(out("2") === ((1L, 333333L)))
    (3 to 9).foreach(d => assert(out(d.toString) === ((0L, 0L))))
    // expectation constants are a fixed distribution over 9 digits
    assert(Profile.BenfordPpm.map(_._2).sum === 999995L)
  }

  test("fdAudit counts violating groups and rows per rule") {
    import spark.implicits._
    val df = Seq((1, "x"), (1, "x"), (2, "x"), (2, "y"), (3, "y")).toDF("a", "b")
    val out = Profile.fdAudit(df, "t", Seq("a" -> "b", "b" -> "b")).collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // a=2 carries {x,y}: 1 violating group, its 2 rows, 1/3 of groups
    assert(out(("a", "b")) === ((3L, 1L, 2L, 333333L)))
    // b -> b is a tautological FD: zero violations
    assert(out(("b", "b")) === ((2L, 0L, 0L, 0L)))
  }

  test("peak concurrency: overlap stacks, touching intervals don't") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pc").toString
    // day 0: [0,10s], [5s,12s] overlap → 2 deep; [11s,15s] overlaps the
    // second → still 2; [20s,25s] + [25s,30s] TOUCH → end sorts before
    // start, never concurrent. day 1: one lone interval.
    val day = 86400L * 1000000000L
    val rows = Seq(
      (1L, 0L, 1L, "c", 10.0, "{}"),
      (2L, 5000000000L, 2L, "c", 7.0, "{}"),
      (3L, 11000000000L, 3L, "c", 4.0, "{}"),
      (4L, 20000000000L, 4L, "c", 5.0, "{}"),
      (5L, 25000000000L, 5L, "c", 5.0, "{}"),
      (6L, day, 6L, "c", 5.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.peakConcurrency(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) === ((5L, 2L)), s"day0 got ${out(0L)}")
    assert(out(1L) === ((1L, 1L)))
  }

  test("churn hazard matches the hand-computed life table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chz").toString
    val dayNs = 86400L * 1000000000L
    // lifetimes: u1 0d, u2 1d (week 0 both); u3 8d (week 1); u4 22d (week 3)
    val rows = Seq(
      (1L, 0L, 1L, "c", 1.0, "{}"),
      (2L, 0L, 2L, "c", 1.0, "{}"), (3L, dayNs, 2L, "c", 1.0, "{}"),
      (4L, 0L, 3L, "c", 1.0, "{}"), (5L, 8 * dayNs, 3L, "c", 1.0, "{}"),
      (6L, 0L, 4L, "c", 1.0, "{}"), (7L, 22 * dayNs, 4L, "c", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.churnHazard(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(0L) === ((4L, 2L, 500000L, 500000L)))
    assert(out(1L) === ((2L, 1L, 500000L, 250000L)))
    assert(out(3L) === ((1L, 1L, 1000000L, 0L)))
  }

  test("censored survival: censoring leaves the risk set without a churn event") {
    import spark.implicits._
    import graft.operators.Events
    val dir = Files.createTempDirectory("surv").toString
    val dayNs = 86400L * 1000000000L
    // obs end = day 12; horizon 7d → u3 (last day 10) and u4 (last day 12)
    // are censored; u1 (lifetime 0) and u2 (lifetime 3) churned
    val rows = Seq(
      (1L, 0L, 1L, "c", 1.0, "{}"),
      (2L, 0L, 2L, "c", 1.0, "{}"), (3L, 3 * dayNs, 2L, "c", 1.0, "{}"),
      (4L, 0L, 3L, "c", 1.0, "{}"), (5L, 10 * dayNs, 3L, "c", 1.0, "{}"),
      (6L, 5 * dayNs, 4L, "c", 1.0, "{}"), (7L, 12 * dayNs, 4L, "c", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.survivalCensored(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out(0L) === ((4L, 1L, 0L, 250000L, 250000L)))
    assert(out(3L) === ((3L, 1L, 0L, 333333L, 583333L)))
    // censored exits: at risk shrinks, hazard stays 0, cum hazard flat
    assert(out(7L) === ((2L, 0L, 1L, 0L, 583333L)))
    assert(out(10L) === ((1L, 0L, 1L, 0L, 583333L)))
  }

  test("markov attribution solves the two-channel chain exactly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mattr").toString
    // A: view → purchase; B: click → purchase; C: view → (end).
    // P(conv) = 2/3; removing either channel halves it → symmetric 50/50
    // split of the 2 conversions.
    val rows = Seq(
      (1L, 1000000000L, 1L, "view", 1.0, "{}"),
      (2L, 2000000000L, 1L, "purchase", 1.0, "{}"),
      (3L, 1000000000L, 2L, "click", 1.0, "{}"),
      (4L, 2000000000L, 2L, "purchase", 1.0, "{}"),
      (5L, 1000000000L, 3L, "view", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.markovAttribution(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("view") === ((500000L, 100L)), s"view got ${out("view")}")
    assert(out("click") === ((500000L, 100L)), s"click got ${out("click")}")
    // events after the first purchase never count: a post-purchase error
    // for u1 must not create an 'error' channel
    val rows2 = rows :+ (6L, 3000000000L, 1L, "error", 1.0, "{}")
    val dir2 = Files.createTempDirectory("mattr2").toString
    rows2.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir2/events.parquet")
    val out2 = Events.markovAttribution(spark, dir2).collect()
      .map(r => r.getString(0)).toSet
    assert(out2 === Set("view", "click"))
  }

  test("share-of-parent: nation shares partition their region exactly") {
    val rows = Tpch.qShareOfParent(spark, sf).collect()
    assert(rows.nonEmpty)
    val byRegion = rows.groupBy(_.getString(0))
    byRegion.foreach { case (region, ns) =>
      // nations partition the region revenue exactly
      assert(ns.map(_.getLong(2)).sum === ns.head.getLong(4),
        s"$region: nation revenues do not sum to region revenue")
      // truncated ppm shares sum to 1e6 within one ulp per nation
      val s = ns.map(_.getLong(3)).sum
      assert(s <= 1000000L && s > 1000000L - ns.length,
        s"$region: nation shares sum to $s")
    }
    val regionShares = rows.map(r => (r.getString(0), r.getLong(5))).distinct
    val rs = regionShares.map(_._2).sum
    assert(rs <= 1000000L && rs > 1000000L - regionShares.length)
  }

  test("revenue decomposition: volume + rate telescopes to the exact delta") {
    import spark.implicits._
    val dir = Files.createTempDirectory("revdecomp").toString
    // mid = (1e9 + 9e9)/2 µs = 5e9. x: 2x$10 in A, 3x$12 in B;
    // y: only in B (all-volume convention)
    val rows = Seq(
      (1L, 1000000000000L, 1L, "x", 10.0), (2L, 2000000000000L, 1L, "x", 10.0),
      (3L, 8000000000000L, 1L, "x", 12.0), (4L, 8500000000000L, 1L, "x", 12.0),
      (5L, 9000000000000L, 1L, "x", 12.0), (6L, 9000000000000L, 2L, "y", 5.0))
      .map { case (e, t, u, ty, v) => (e, t, u, ty, v, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.revenueDecomp(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)) ===
      ((2L, 3L, 2000L, 3600L)))
    assert((x.getLong(5), x.getLong(6), x.getLong(7)) === ((1600L, 1000L, 600L)))
    val y = out("y")
    assert((y.getLong(1), y.getLong(2), y.getLong(5), y.getLong(6), y.getLong(7)) ===
      ((0L, 1L, 500L, 500L, 0L)))
  }

  test("power/MDE analysis matches the closed form on planted arms") {
    import spark.implicits._
    val dir = Files.createTempDirectory("powermde").toString
    // arm 0 (even users): 10,12,14; arm 1: 20,22,24 → sd = 2 both arms,
    // pooled mean 17
    val rows = Seq(
      (1L, 1L, 2L, "purchase", 10.0), (2L, 2L, 2L, "purchase", 12.0),
      (3L, 3L, 2L, "purchase", 14.0), (4L, 1L, 1L, "purchase", 20.0),
      (5L, 2L, 1L, "purchase", 22.0), (6L, 3L, 1L, "purchase", 24.0),
      (7L, 1L, 1L, "view", 999.0)) // ignored
      .map { case (e, t, u, ty, v) => (e, t * 1000000000L, u, ty, v, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = Events.powerMde(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1)) === ((3L, 3L)))
    assert((r.getDouble(2), r.getDouble(3)) === ((12.0, 22.0)))
    assert((r.getDouble(4), r.getDouble(5)) === ((2.0, 2.0)))
    val z = 1.959964 + 0.841621
    val mde = z * math.sqrt(4.0 / 3 + 4.0 / 3)
    assert(math.abs(r.getDouble(6) - mde) < 1e-4)
    assert(r.getLong(7) === math.floor(mde / 17.0 * 10000 + 0.5).toLong)
    assert(r.getLong(8) === math.ceil(2.0 * 4.0 * z * z / (0.17 * 0.17)).toLong)
  }

  test("sequential A/B monitor stays quiet on noise, fires on planted uplift") {
    import spark.implicits._
    val dir = Files.createTempDirectory("seqab").toString
    // day 0: both arms ≈ $10 (no signal). day 1: arm 1 (odd users) gets a
    // consistent $20 purchase 50× while arm 0 stays at $10 — an uplift
    // whose llr is far past ln(20)
    val day0 = Seq(
      (1L, 1000000000000L, 2L, "purchase", 10.0, "{}"),
      (2L, 2000000000000L, 2L, "purchase", 10.0, "{}"),
      (3L, 1000000000000L, 1L, "purchase", 10.0, "{}"),
      (4L, 2000000000000L, 1L, "purchase", 10.2, "{}"),
      (100L, 1500000000000L, 1L, "view", 999.0, "{}")) // non-purchase: ignored
    val day1 = Seq(
      (5L, 90000000000000L, 2L, "purchase", 10.0, "{}"),
      (6L, 91000000000000L, 2L, "purchase", 10.0, "{}")) ++
      (0 until 50).map(i =>
        (10L + i, 90000000000000L + i * 1000000L, 1L, "purchase", 20.0, "{}"))
    (day0 ++ day1).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.sequentialAb(spark, dir).collect().sortBy(_.getLong(0))
    assert(out.length === 2)
    val (d0, d1) = (out(0), out(1))
    assert((d0.getLong(1), d0.getLong(2), d0.getLong(7)) === ((2L, 2L, 0L)))
    assert(d0.getDouble(6) === 1.0, s"day-0 always-valid p should cap at 1: $d0")
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(7)) === ((4L, 52L, 1L)))
    assert(d1.getDouble(3) === 10.0)
    assert(d1.getDouble(6) < 0.05, s"day-1 p: ${d1.getDouble(6)}")
  }

  test("link prediction scores the planted open pair exactly") {
    import spark.implicits._
    import graft.operators.Graph
    // triangle 1-2-3 plus 2-4, 3-4: the ONLY non-adjacent 2-hop pair is
    // (1,4) — cn = |{2,3}| = 2, deg(1) = deg(4) = 2 → Jaccard = 2/2 = 1,
    // AA = 2/ln 3 (both hubs have degree 3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out = Graph.linkPredFrom(edges).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(5)) ===
      ((1L, 4L, 2L, 1000000L, 1)))
    assert(math.abs(r.getDouble(4) - math.rint(2.0 / math.log(3.0) * 10000) / 10000) < 1e-9)
  }

  test("seed distance: BFS hops, deterministic equidistant tie, trust radius") {
    import spark.implicits._
    import graft.operators.Graph
    // path 1-2-3-4-5 with seeds 1(lbl 10) and 5(lbl 20); 3 is equidistant
    // → min label wins. 99-100 is disconnected from any seed → absent.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (99L, 100L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("id", "lbl")
    val out = Graph.seedDistanceFrom(edges, seeds).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out === Map(1L -> ((10L, 0)), 2L -> ((10L, 1)), 3L -> ((10L, 2)),
      4L -> ((20L, 1)), 5L -> ((20L, 0))))
    // trust radius: rounds = 1 reaches only direct neighbors
    val near = Graph.seedDistanceFrom(edges, seeds, rounds = 1).collect()
      .map(_.getLong(0)).toSet
    assert(near === Set(1L, 2L, 4L, 5L))
  }

  test("modularity: two planted cliques score Q = 0.5 exactly") {
    import spark.implicits._
    import graft.operators.Graph
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)))
      .toDF("src", "dst")
    val labels = Graph.labelPropagationFrom(edges)
    val q = Graph.modularityFrom(edges, labels).collect()
    assert(q.length === 1)
    val r = q.head
    // m=12, each community: e_c=6, d_c=12 → Q = 2·(1/2 − 1/4) = 0.5
    assert(r.getAs[Long]("n_edges") === 12L)
    assert(r.getAs[Long]("n_communities") === 2L)
    assert(r.getAs[Long]("q_ppm") === 500000L)
    // a single all-in-one community has Q = 0 by construction
    val one = labels.withColumn("community", lit(1L))
    assert(Graph.modularityFrom(edges, one).head().getAs[Long]("q_ppm") === 0L)
  }

  test("incremental sessionize: head merges across the batch boundary, others renumber") {
    import spark.implicits._
    val mn = 60L * 1000000000L // minute in ns
    // global pivot = (0+200)/2 = 100 min; base ≤ 100, delta > 100
    val rows = Seq(
      (1L, 95 * mn, 1L), (2L, 99 * mn, 1L),   // u1 base session [95,99]
      (3L, 105 * mn, 1L), (4L, 180 * mn, 1L), // u1 delta: 105 merges (gap 6'), 180 opens
      (5L, 0 * mn, 2L), (6L, 200 * mn, 2L),   // u2: no merge (gap 200')
      (7L, 150 * mn, 3L))                     // u3: delta-only user
      .map { case (id, ts, u) => (id, ts, u, "click", 1.0, "{}") }
    val dir = Files.createTempDirectory("sessdelta").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("session_value"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))).toSet
    val inc = key(Events.sessionizeDelta(spark, dir))
    val mus = 60L * 1000000L // minute in µs
    assert(inc === Set(
      (1L, 1L, 3L, 3.0, 95 * mus, 105 * mus),
      (1L, 2L, 1L, 1.0, 180 * mus, 180 * mus),
      (2L, 1L, 1L, 1.0, 0L, 0L),
      (2L, 2L, 1L, 1.0, 200 * mus, 200 * mus),
      (3L, 1L, 1L, 1.0, 150 * mus, 150 * mus)), s"got $inc")
    assert(inc === key(Events.sessionize(spark, dir)), "must equal full recompute")
  }

  test("sliding distinct: trailing-7d WAU window covers exactly d-6..d") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    val rows = Seq((1L, 0L * dayNs, 1L), (2L, 0L * dayNs, 2L), (3L, 3L * dayNs, 1L))
      .map { case (id, ts, u) => (id, ts, u, "click", 1.0, "{}") }
    val dir = Files.createTempDirectory("slidist").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.slidingDistinct(spark, dir).collect().map(r =>
      (r.getAs[Long]("day"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau_trailing7"), r.getAs[Long]("stickiness_e4"))).toSet
    assert(out === Set((0L, 2L, 2L, 10000L), (3L, 1L, 2L, 5000L)), s"got $out")
  }

  test("compaction plan: FFD packs planted sizes, oversized files stay singleton") {
    val dir = Files.createTempDirectory("cpack")
    def put(name: String, kb: Int): Unit =
      java.nio.file.Files.write(dir.resolve(name), new Array[Byte](kb * 1024))
    put("a", 700); put("b", 600); put("c", 300); put("d", 100); put("e", 2048)
    put("_SUCCESS", 0) // metadata files must be ignored
    val out = Tables.compactionPlan(spark, dir.toString, targetFileMB = 1)
      .collect().map(r => (r.getAs[Long]("group_id"), r.getAs[Long]("n_files"),
        r.getAs[Long]("group_bytes"), r.getAs[Long]("fill_e4"),
        r.getAs[String]("files"))).toSet
    assert(out === Set(
      (0L, 1L, 2097152L, 20000L, "e"),   // ≥ target → never rewritten together
      (1L, 2L, 1024000L, 9765L, "a,c"),  // 700K seed + 300K first-fit
      (2L, 2L, 716800L, 6835L, "b,d")), s"got $out")
  }

  test("burn rate: fast window pages only when the slow window also burns") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    var id = 0L
    // day 0: 10 events / 2 errors (burn 20x); day 1: 10 events clean
    val rows = (0 until 10).map { i =>
      id += 1; (id, 0 * dayNs + i, 1L, if (i < 2) "error" else "click", 1.0, "{}")
    } ++ (0 until 10).map { i => id += 1; (id, 1 * dayNs + i, 1L, "click", 1.0, "{}") }
    val dir = Files.createTempDirectory("burn").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.burnRate(spark, dir).collect().map(r =>
      (r.getAs[Long]("day"), r.getAs[Long]("n_events"), r.getAs[Long]("n_errors"),
        r.getAs[Long]("burn_day_e2"), r.getAs[Long]("n_events_7d"),
        r.getAs[Long]("n_errors_7d"), r.getAs[Long]("burn_7d_e2"),
        r.getAs[Long]("page"))).toSet
    assert(out === Set(
      (0L, 10L, 2L, 2000L, 10L, 2L, 2000L, 1L),
      (1L, 10L, 0L, 0L, 20L, 2L, 1000L, 0L)), s"got $out")
  }

  test("salted join: row-identical to the plain equi-join incl. hot keys and misses") {
    import spark.implicits._
    // key 1 is hot (80 of 100 rows); 500 is a build-side orphan
    val fact = (1 to 100).map(i => (if (i <= 80) 1L else i.toLong, i.toDouble))
      .toDF("k", "v")
    val build = Seq((1L, "a"), (85L, "b"), (99L, "x"), (500L, "never"))
      .toDF("k", "name")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"), r.getAs[String]("name")))
      .sortBy(t => (t._1, t._2)).toSeq
    val plain = rows(fact.join(build, Seq("k")))
    assert(plain.nonEmpty && plain.count(_._1 == 1L) === 80)
    assert(rows(Skew.saltedJoin(fact, build, "k", salts = 4)) === plain)
  }

  test("srm check: balanced split passes, gutted arm trips the chi-square flag") {
    import spark.implicits._
    def write(users: Seq[Long]): String = {
      val rows = users.zipWithIndex.map { case (u, i) =>
        (i.toLong + 1, i.toLong * 1000000L, u, "click", 1.0, "{}") }
      val dir = Files.createTempDirectory("srm").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      dir
    }
    // 4 even vs 1 odd user: chi2 = 9*1e4/5 = 18000 < 38415 → no flag
    val ok = Events.srmCheck(spark, write(Seq(2L, 4L, 6L, 8L, 1L))).collect().head
    assert((ok.getAs[Long]("n_a"), ok.getAs[Long]("n_b"),
      ok.getAs[Long]("chi2_e4"), ok.getAs[Long]("srm_flag")) === ((4L, 1L, 18000L, 0L)))
    // 30 even vs 2 odd: chi2 = 784*1e4/32 = 245000 → flagged
    val bad = Events.srmCheck(spark,
      write((1L to 30L).map(_ * 2) ++ Seq(1L, 3L))).collect().head
    assert((bad.getAs[Long]("chi2_e4"), bad.getAs[Long]("srm_flag")) === ((245000L, 1L)))
  }

  test("diff-in-diff: hand-computed 2x2 cells and did_e4") {
    import spark.implicits._
    val mn = 60L * 1000000000L
    // pivot = (0+200)/2 = 100 min; user 2 treated (even), user 1 control
    val rows = Seq(
      (1L, 0 * mn, 2L, "click", 1.0, "{}"),    // pre_t:  100c
      (2L, 10 * mn, 1L, "click", 2.0, "{}"),   // pre_c:  200c
      (3L, 190 * mn, 2L, "click", 3.0, "{}"),  // post_t: 300c
      (4L, 200 * mn, 1L, "click", 2.5, "{}"))  // post_c: 250c
    val dir = Files.createTempDirectory("did").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = Events.diffInDiff(spark, dir).collect().head
    assert(Seq("n_pre_t", "n_post_t", "n_pre_c", "n_post_c")
      .forall(c => r.getAs[Long](c) == 1L), r.toString)
    assert(r.getAs[Long]("mean_pre_t_e4") === 1000000L, r.toString)
    assert(r.getAs[Long]("mean_post_t_e4") === 3000000L, r.toString)
    assert(r.getAs[Long]("mean_pre_c_e4") === 2000000L, r.toString)
    assert(r.getAs[Long]("mean_post_c_e4") === 2500000L, r.toString)
    // (300 − 100) − (250 − 200) = 150 cents uplift
    assert(r.getAs[Long]("did_e4") === 1500000L, r.toString)
  }

  test("conflict audit: same-window divergent writes flag, agreeing writes do not") {
    import spark.implicits._
    val mn = 60L * 1000000000L
    val rows = Seq(
      // user 1, window 0: three writes, two distinct values -> conflict
      (1L, 1L, 1L, "click", 1.0, "{}"), (2L, 2L, 1L, "click", 1.0, "{}"),
      (3L, 3L, 1L, "click", 2.0, "{}"),
      // user 1, 20 min later (next 10-min window): lone write -> clean
      (4L, 20 * mn, 1L, "click", 9.0, "{}"),
      // user 2: same window, same value twice -> NOT a conflict
      (5L, 1L, 2L, "click", 3.0, "{}"), (6L, 2L, 2L, "click", 3.0, "{}"))
    val dir = Files.createTempDirectory("conflict").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = graft.cdc.Cdc.conflictAudit(spark, dir).collect()
    assert(out.length === 1 && out.head.getAs[Long]("user_id") === 1L)
    assert(out.head.getAs[Long]("n_conflict_buckets") === 1L)
    assert(out.head.getAs[Long]("n_conflict_writes") === 3L)
    assert(out.head.getAs[Long]("max_divergence_c") === 100L)
  }

  test("discount elasticity: planted linear response recovers slope 2 with r2 = 1") {
    import spark.implicits._
    val li = Seq((1L, 0.00, 10.0), (1L, 0.01, 12.0), (1L, 0.02, 14.0))
      .toDF("l_partkey", "l_discount", "l_quantity")
    val p = Seq((1L, "Brand#11")).toDF("p_partkey", "p_brand")
    val dir = Files.createTempDirectory("elast").toString
    li.write.parquet(s"$dir/lineitem.parquet")
    p.write.parquet(s"$dir/part.parquet")
    val r = Tpch.qDiscountElasticity(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_rows") === 3L)
    assert(r.head.getAs[Long]("slope_e6") === 2000000L, r.head.toString)
    assert(r.head.getAs[Long]("r2_e4") === 10000L)
  }

  test("dwell time: gaps cap at the session bound, last events don't dwell") {
    import spark.implicits._
    val mn = 60L * 1000000000L
    val rows = Seq(
      (1L, 0 * mn, 1L, "view", 0.0, "{}"),   // dwell 5 min to e2
      (2L, 5 * mn, 1L, "view", 0.0, "{}"),   // dwell 10 min to e3
      (3L, 15 * mn, 1L, "view", 0.0, "{}"),  // dwell caps: 2h -> 30 min
      (4L, 135 * mn, 1L, "view", 0.0, "{}")) // last: no dwell row
    val dir = Files.createTempDirectory("dwell").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = Events.dwellTime(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_dwells") === 3L)
    // ranks asc: 5m, 10m, 30m(capped); p50 = ceil-rank 2 -> 10 min
    assert(r.head.getAs[Long]("p50_dwell_us") === 10L * 60 * 1000000)
    assert(r.head.getAs[Long]("p90_dwell_us") === 30L * 60 * 1000000)
    assert(r.head.getAs[Long]("n_capped") === 1L)
    assert(r.head.getAs[Long]("capped_ppm") === 333333L)
  }

  test("op-mix drift: a pure-DELETE day scores the hand-computed TVD and majority") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    val rows = Seq(
      (1L, 0 * day, 1L, "signup", 0.0, "{}"), (2L, 0 * day + 1, 2L, "signup", 0.0, "{}"),
      (3L, 0 * day + 2, 3L, "click", 0.0, "{}"), (4L, 0 * day + 3, 4L, "click", 0.0, "{}"),
      (5L, 1 * day, 1L, "error", 0.0, "{}"), (6L, 1 * day + 1, 2L, "error", 0.0, "{}"),
      (7L, 1 * day + 2, 3L, "error", 0.0, "{}"), (8L, 1 * day + 3, 4L, "error", 0.0, "{}"))
    val dir = Files.createTempDirectory("opmix").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = graft.cdc.Cdc.opMixDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("day") -> r).toMap
    // corpus mix I/U/D = 1/4, 1/4, 1/2; both days sit at TVD 1/2 from it
    assert(out(0L).getAs[Long]("tvd_e4") === 5000L, out(0L).toString)
    assert(out(0L).isNullAt(out(0L).fieldIndex("majority_op")),
      "a 50/50 day has no STRICT majority")
    assert(out(1L).getAs[Long]("tvd_e4") === 5000L)
    assert(out(1L).getAs[String]("majority_op") === "DELETE")
  }

  test("repeat purchase: two-order pair counts as repeat, lone pair does not") {
    import spark.implicits._
    val dir = Files.createTempDirectory("repeat").toString
    Seq((10L, 1L), (20L, 1L), (30L, 2L))
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    Seq((10L, 7L), (20L, 7L), (30L, 7L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    Seq((1L, "Brand#1"), (2L, "Brand#1"))
      .toDF("p_partkey", "p_brand").write.parquet(s"$dir/part.parquet")
    val r = Tpch.qRepeatPurchaseRate(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_pairs") === 2L)
    assert(r.head.getAs[Long]("n_repeat") === 1L)
    assert(r.head.getAs[Long]("max_orders") === 2L)
    assert(r.head.getAs[Long]("repeat_ppm") === 500000L)
  }

  test("gap audit: planted dark week measured exactly; same-day events dedupe") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    val rows = Seq(
      (1L, 0 * day, 1L, "click", 0.0, "{}"),
      (2L, 0 * day + 5, 1L, "click", 0.0, "{}"),   // same day, must dedupe
      (3L, 1 * day, 1L, "click", 0.0, "{}"),
      (4L, 2 * day, 1L, "click", 0.0, "{}"),
      (5L, 10 * day, 1L, "click", 0.0, "{}"))
    val dir = Files.createTempDirectory("gapaudit").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = graft.operators.TimeSeries.gapAudit(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("days_observed") === 4L)
    assert(r.head.getAs[Long]("span_days") === 11L)
    assert(r.head.getAs[Long]("missing_days") === 7L)
    assert(r.head.getAs[Long]("missing_ppm") === 636363L)
    assert(r.head.getAs[Long]("longest_gap_days") === 7L)
  }

  test("revenue momentum: flat series reads zero growth; final spike reads 10000 bp") {
    import spark.implicits._
    val months = (1 to 12).map(m => f"2024-$m%02d-01") ++ Seq("2025-01-01", "2025-02-01")
    val rows = months.zipWithIndex.map { case (d, i) =>
      val price = if (i == months.length - 1) 200.0 else 100.0
      (i.toLong, java.sql.Timestamp.valueOf(d + " 00:00:00"), price)
    }
    val dir = Files.createTempDirectory("mom").toString
    rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = Tpch.qRevenueMomentum(spark, dir).collect()
      .map(r => r.getAs[Long]("ym") -> r).toMap
    assert(out(202401L).isNullAt(out(202401L).fieldIndex("mom_bp")))
    assert(out(202406L).getAs[Long]("mom_bp") === 0L)
    assert(out(202501L).getAs[Long]("yoy_bp") === 0L)     // vs 202401, both 100
    assert(out(202412L).getAs[Long]("ttm_c") === 120000L) // 12 flat months
    val last = out(202502L)
    assert(last.getAs[Long]("mom_bp") === 10000L)         // 100 -> 200
    assert(last.getAs[Long]("yoy_bp") === 10000L)         // vs 202402
    assert(last.getAs[Long]("ttm_c") === 130000L)
  }

  test("schema migration: inferred types, nullability from fill, no destructive ddl") {
    import spark.implicits._
    import graft.streaming.CdcStreams
    val t = Seq(
      (1L, 10L, "x", Some(1.5)),
      (2L, 20L, "7", None),        // b mixed digits+string -> STRING
      (3L, 30L, "y", Some(2.5)))   // c has a null -> nullable DOUBLE
      .toDF("id", "a", "b", "c")
    val env = CdcStreams.heterogeneousUnion(Seq(("t", t, "id", "id")))
    val out = CdcStreams.schemaMigration(env, Map("t" -> Seq("a", "gone")))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out("a").getAs[String]("status") === "ok")
    assert(out("a").getAs[String]("inferred_type") === "BIGINT")
    assert(out("b").getAs[String]("status") === "unregistered")
    assert(out("b").getAs[String]("inferred_type") === "STRING")
    assert(out("b").getAs[String]("ddl") === "ALTER TABLE t ADD COLUMN b STRING")
    val c = out("c")
    assert(c.getAs[String]("inferred_type") === "DOUBLE")
    assert(c.getAs[Long]("fill_ppm") === 666666L)
    assert(c.getAs[String]("ddl") === "ALTER TABLE t ADD COLUMN c DOUBLE NULL")
    val gone = out("gone")
    assert(gone.getAs[String]("status") === "missing_in_data")
    assert(gone.isNullAt(gone.fieldIndex("ddl")), "absent columns get NO destructive ddl")
  }

  test("degree histogram: star graph fills bucket 0 leaves and one hub bucket") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val out = graft.operators.Graph.degreeHistFrom(e).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("min_degree"),
          r.getAs[Long]("max_degree"), r.getAs[Long]("share_ppm")))).toMap
    assert(out(0L) === ((4L, 1L, 1L, 800000L)), out.toString) // four leaves
    assert(out(2L) === ((1L, 4L, 4L, 200000L)), out.toString) // the hub
    assert(out.size === 2)
  }

  test("reciprocity: mutual pair maxes out, one-way edges score zero") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val out = graft.operators.Graph.reciprocityFrom(e).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("n_reciprocal"),
          r.getAs[Long]("recip_ppm")))).toMap
    assert(out(1L) === ((2L, 1L, 500000L)))
    assert(out(2L) === ((1L, 1L, 1000000L)))
    assert(!out.contains(3L), "sink-only nodes have no out-edges to census")
  }

  test("segment migration: planted spend reversal flips quartiles, dropout lands in 0") {
    import spark.implicits._
    val us = 1000L // ns per µs
    // h1 (ts_us 1000): spends 40,30,20,10,5 -> quartiles 1,1,2,3,4
    // h2 (ts_us 9000): spends 10,20,30,40, user 5 silent -> 4,3,2,1,0
    var id = 0L
    def ev(u: Long, tsUs: Long, v: Double) = { id += 1; (id, tsUs * us, u, "purchase", v, "{}") }
    val rows = Seq(
      ev(1, 1000, 0.40), ev(2, 1000, 0.30), ev(3, 1000, 0.20),
      ev(4, 1000, 0.10), ev(5, 1000, 0.05),
      ev(1, 9000, 0.10), ev(2, 9000, 0.20), ev(3, 9000, 0.30), ev(4, 9000, 0.40))
    val dir = Files.createTempDirectory("segmig").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.segmentMigration(spark, dir).collect()
      .map(r => (r.getAs[Long]("seg_from"), r.getAs[Long]("seg_to")) ->
        r.getAs[Long]("n_users")).toMap
    assert(out === Map((1L, 4L) -> 1L, (1L, 3L) -> 1L, (2L, 2L) -> 1L,
      (3L, 1L) -> 1L, (4L, 0L) -> 1L), out.toString)
  }

  test("velocity rules: count burst and amount spike flag, spaced activity does not") {
    import spark.implicits._
    val mn = 60L * 1000000000L
    var id = 0L
    def ev(u: Long, tNs: Long, v: Double) = { id += 1; (id, tNs, u, "click", v, "{}") }
    val rows =
      (1 to 5).map(i => ev(1, i * mn, 0.01)) ++          // 5 in 5 min -> count
      Seq(ev(2, 0, 100.0)) ++                            // 10000c -> amount
      Seq(ev(3, 0, 0.01), ev(3, 20 * mn, 0.01))          // spaced -> clean
    val dir = Files.createTempDirectory("velo").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.velocityRules(spark, dir).collect()
    val byUser = out.groupBy(_.getAs[Long]("user_id"))
    assert(!byUser.contains(3L), "spaced user must not flag")
    val u1 = byUser(1L)
    assert(u1.length === 1 && u1.head.getAs[Long]("n_10m") === 5L)
    assert(u1.head.getAs[String]("rule_fired") === "count")
    val u2 = byUser(2L)
    assert(u2.length === 1 && u2.head.getAs[String]("rule_fired") === "amount")
    assert(u2.head.getAs[Long]("cents_10m") === 10000L)
  }

  test("column stats: exact ndv, null accounting, lexicographic min/max, width") {
    import spark.implicits._
    val df = Seq(("x", "10"), ("x", "9"), (null, "100"))
      .toDF("a", "b")
    val out = Profile.tableColumnStats(df).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_rows") === 3L && a.getAs[Long]("n_nulls") === 1L)
    assert(a.getAs[Long]("ndv") === 1L)
    assert(a.getAs[String]("min_val") === "x" && a.getAs[String]("max_val") === "x")
    assert(a.getAs[Long]("avg_len_e2") === 100L)
    val b = out("b")
    assert(b.getAs[Long]("n_nulls") === 0L && b.getAs[Long]("ndv") === 3L)
    // canonical-form ordering is LEXICOGRAPHIC by design: "10" < "100" < "9"
    assert(b.getAs[String]("min_val") === "10" && b.getAs[String]("max_val") === "9")
    assert(b.getAs[Long]("avg_len_e2") === 200L) // (2+1+3)*100/3
  }

  test("pit training set: features are strictly point-in-time, cold start keeps nulls") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    val rows = Seq(
      (1L, 0 * day, 1L, "click", 1.0, "{}"),
      (2L, 1 * day, 1L, "purchase", 2.0, "{}"),
      (3L, 10 * day, 1L, "purchase", 3.0, "{}"),
      // same-instant pair: row-ordered lag sees e4, the range frame must not
      (4L, 0 * day, 2L, "click", 9.0, "{}"),
      (5L, 0 * day, 2L, "purchase", 4.0, "{}"))
    val dir = Files.createTempDirectory("pit").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.pitTrainingSet(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(out.keySet === Set(2L, 3L, 5L))
    val e2 = out(2L)
    assert(e2.getAs[Long]("label_cents") === 200L)
    assert(e2.getAs[Long]("f_last_value_c") === 100L)
    assert(e2.getAs[String]("f_last_type") === "click")
    assert(e2.getAs[Long]("f_events_7d") === 1L)
    assert(e2.getAs[Long]("f_prior_purchases") === 0L)
    assert(e2.getAs[Long]("f_days_active") === 1L)
    val e3 = out(3L)
    assert(e3.getAs[Long]("f_events_7d") === 0L, "7d window must have aged out")
    assert(e3.getAs[Long]("f_prior_purchases") === 1L)
    assert(e3.getAs[Long]("f_days_active") === 10L)
    val e5 = out(5L)
    assert(e5.getAs[Long]("f_events_7d") === 0L,
      "same-instant event must NOT leak into the trailing range frame")
    assert(e5.getAs[Long]("f_last_value_c") === 900L)
  }

  test("abc classification: planted 80/15/5 revenue split lands one part per class") {
    import spark.implicits._
    val li = Seq((1L, 80.0, 0.0), (2L, 15.0, 0.0), (3L, 5.0, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    val dir = Files.createTempDirectory("abc").toString
    li.write.parquet(s"$dir/lineitem.parquet")
    val out = Tpch.qAbcParts(spark, dir).collect()
      .map(r => r.getAs[String]("abc_class") -> r).toMap
    assert(out.keySet === Set("A", "B", "C"))
    assert(out("A").getAs[Long]("n_parts") === 1L)
    assert(out("A").getAs[Long]("share_ppm") === 800000L)
    assert(out("B").getAs[Long]("share_ppm") === 150000L)
    assert(out("C").getAs[Long]("share_ppm") === 50000L)
  }

  test("decile lift: planted top-heavy score puts every positive in deciles 1-5") {
    import spark.implicits._
    // user u (1..20) has 21-u clicks; users 1..10 also purchase once.
    // ntile(10) over 20 users -> 2 per decile; positives fill deciles 1-5.
    var id = 0L
    val rows = (1L to 20L).flatMap { u =>
      val clicks = (1L to (21 - u)).map { _ =>
        id += 1; (id, id * 1000000000L, u, "click", 0.0, "{}")
      }
      val buy = if (u <= 10) { id += 1; Seq((id, id * 1000000000L, u, "purchase", 1.0, "{}")) }
                else Seq.empty
      clicks ++ buy
    }
    val dir = Files.createTempDirectory("dlift").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.decileLift(spark, dir).collect()
      .map(r => r.getAs[Long]("decile") -> r).toMap
    assert(out.size === 10)
    (1L to 10L).foreach { d =>
      assert(out(d).getAs[Long]("n_users") === 2L)
      assert(out(d).getAs[Long]("n_pos") === (if (d <= 5) 2L else 0L), s"decile $d")
    }
    assert(out(5L).getAs[Long]("capture_e4") === 10000L)
    assert(out(10L).getAs[Long]("capture_e4") === 10000L)
    // lift in the positive deciles = total_users/ (users_per_decile * totpos/pos_per_decile)
    // = 2*20*10000 / (2*10) = 20000; zero after
    (1L to 5L).foreach(d => assert(out(d).getAs[Long]("lift_e4") === 20000L))
    (6L to 10L).foreach(d => assert(out(d).getAs[Long]("lift_e4") === 0L))
  }

  test("stratified ATT: hand-computed per-stratum and pooled effects; no-control stratum excluded") {
    import spark.implicits._
    val s = 1000000000L
    // stratum 1 (n_events=2): treated A,B spend 300/500c; control C,D spend 100/200c
    // stratum 2 (n_events=4): treated E only -> off common support
    val rows = Seq(
      (1L, 1 * s, 1L, "signup", 0.0, "{}"), (2L, 2 * s, 1L, "purchase", 3.0, "{}"),
      (3L, 1 * s, 2L, "signup", 0.0, "{}"), (4L, 2 * s, 2L, "purchase", 5.0, "{}"),
      (5L, 1 * s, 3L, "click", 0.0, "{}"), (6L, 2 * s, 3L, "purchase", 1.0, "{}"),
      (7L, 1 * s, 4L, "click", 0.0, "{}"), (8L, 2 * s, 4L, "purchase", 2.0, "{}"),
      (9L, 1 * s, 5L, "signup", 0.0, "{}"), (10L, 2 * s, 5L, "signup", 0.0, "{}"),
      (11L, 3 * s, 5L, "signup", 0.0, "{}"), (12L, 4 * s, 5L, "purchase", 1.0, "{}"))
    val dir = Files.createTempDirectory("att").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.attStratified(spark, dir).collect()
      .map(r => r.getAs[Long]("stratum") -> r).toMap
    val s1 = out(1L)
    assert(s1.getAs[Long]("n_treated") === 2L && s1.getAs[Long]("n_control") === 2L)
    assert(s1.getAs[Long]("t_mean_e4") === 4000000L, s1.toString)   // (300+500)/2 c
    assert(s1.getAs[Long]("c_mean_e4") === 1500000L, s1.toString)   // (100+200)/2 c
    assert(s1.getAs[Long]("effect_e4") === 2500000L, s1.toString)
    // stratum 2: treated-only -> null effect, off support
    assert(out(2L).getAs[Long]("n_control") === 0L)
    assert(out(2L).isNullAt(out(2L).fieldIndex("effect_e4")))
    // pooled ATT over common support = stratum 1's effect
    val pooled = out(-1L)
    assert(pooled.getAs[Long]("n_treated") === 2L)
    assert(pooled.getAs[Long]("effect_e4") === 2500000L, pooled.toString)
  }

  test("conversion windows: 30-minute and 2-day converters land in the right windows") {
    import spark.implicits._
    val mn = 60L * 1000000000L
    val rows = Seq(
      (1L, 0 * mn, 1L, "signup", 0.0, "{}"),
      (2L, 30 * mn, 1L, "purchase", 1.0, "{}"),       // converts within 1h
      (3L, 0 * mn, 2L, "signup", 0.0, "{}"),
      (4L, 2880 * mn, 2L, "purchase", 1.0, "{}"),     // 2 days: 7d window only
      (5L, 0 * mn, 3L, "signup", 0.0, "{}"))          // never converts
    val dir = Files.createTempDirectory("convwin").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.conversionWindows(spark, dir).collect()
      .map(r => r.getAs[String]("window_label") ->
        ((r.getAs[Long]("n_signed_up"), r.getAs[Long]("n_converted"),
          r.getAs[Long]("rate_ppm")))).toMap
    assert(out("1h") === ((3L, 1L, 333333L)), s"1h got ${out("1h")}")
    assert(out("1d") === ((3L, 1L, 333333L)), s"1d got ${out("1d")}")
    assert(out("7d") === ((3L, 2L, 666666L)), s"7d got ${out("7d")}")
  }

  test("incremental CC equals full recompute on planted merge/extend/new-island deltas") {
    import spark.implicits._
    import graft.operators.{Dedup, Graph}
    val base = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val old = Dedup.connectedComponents(
        base.select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .select(col("doc_id").as("id"), col("cluster_id").as("comp"))
    // delta: 2-3 merges {1,2}+{3,4}; 7-8 is a brand-new island; 6-9 extends {5,6}
    val delta = Seq((2L, 3L), (7L, 8L), (6L, 9L)).toDF("src", "dst")
    val inc = Graph.incrementalComponentsFrom(old, delta).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    assert(inc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 5L, 7L -> 7L, 8L -> 7L))
    // parity with the one-shot CC over base ∪ delta
    val full = Dedup.connectedComponents(base.unionAll(delta)
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(inc === full)
  }

  test("incremental CC matches full recompute corpus-wide (the O(full) proof)") {
    // the registered ccDelta query audits bounded invariants only
    // (edge-consistency + min-label); this pins the full parity once
    assert(graft.operators.Graph.ccDeltaFullMismatch(spark, sf) === 0L)
  }

  test("hll MV refresh: delta fold equals from-scratch rebuild, estimates near exact") {
    val out = graft.operators.Sketches.hllMvRefresh(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("est_mismatch") === 0L, s"fold diverged: $r")
      val est = r.getAs[Long]("est_incremental")
      val n = r.getAs[Long]("n_exact")
      // lgConfigK=14 at test cardinalities: estimate is essentially exact
      assert(math.abs(est - n) <= math.max(2L, n / 20), s"est $est vs exact $n: $r")
    }
  }

  test("sort advisor: hand-counted runs incl. nulls and cross-partition seams") {
    import spark.implicits._
    // id is the tiebreak; sorted by k the payload reads a,a,b,a,NULL,NULL
    // → 4 runs; sorted by g it reads a,a,a,b,NULL,NULL → 3 runs. Six rows
    // over 4 shuffle partitions forces seam reconciliation to fire.
    val df = Seq(
      (1L, 1L, 6L, "a"), (2L, 2L, 5L, "a"), (3L, 3L, 4L, "b"),
      (4L, 4L, 2L, "a"), (5L, 5L, 1L, null), (6L, 6L, 3L, null))
      .toDF("id", "k", "g", "p")
    // g order: g=1→NULL, 2→a, 3→NULL, 4→b, 5→a, 6→a → NULL,a,NULL,b,a,a = 5 runs
    val out = Profile.sortRunsAdvisor(df, Seq(Seq("k"), Seq("g")),
      Seq("p"), Seq("id")).collect()
      .map(r => r.getAs[String]("sort_key") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("avg_run_e2")))).toMap
    assert(out("k") === ((6L, 4L, 150L)), s"k got ${out("k")}")
    assert(out("g") === ((6L, 5L, 120L)), s"g got ${out("g")}")
  }

  test("sort advisor: contiguous block sample preserves the exact ranking") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stationary layout: payload pa runs long under sort-by-ka (ka DIV 16
    // groups), pb runs long under sort-by-kb — the block estimate must
    // rank the candidates exactly as the full-table stats do, because
    // runs-per-row is a locality RATIO a contiguous slice estimates
    // without bias when the generating process doesn't drift
    val df = spark.range(0, 4000)
      .select(col("id"),
        (col("id") % 97).as("ka"), ((col("id") * 31) % 89).as("kb"),
        (col("id") % 97 / 16).cast("long").as("pa"),
        ((col("id") * 31) % 89 / 8).cast("long").as("pb"))
    def ranking(d: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      Profile.sortRunsAdvisor(d, Seq(Seq("ka"), Seq("kb")),
        Seq("pa", "pb"), Seq("id")).collect()
        .map(r => (r.getAs[String]("payload"), r.getAs[String]("sort_key"),
          r.getAs[Long]("avg_run_e2")))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (p, rows) => (p, rows.maxBy(r => (r._3, r._2))._2) }
    val exact = ranking(df)
    val block = ranking(df.filter(col("id") < 1000)) // first contiguous 25%
    assert(exact === Seq(("pa", "ka"), ("pb", "kb")),
      s"exact ranking unexpected: $exact")
    assert(block === exact, s"block ranking $block != exact $exact")
  }

  test("copurchase basket cap: hot basket truncated with exact accounting; small baskets untouched") {
    import spark.implicits._
    // one 100-item hot basket + two normal 3-item baskets
    val li = ((1 to 100).map(pk => (900L, pk.toLong)) ++
      Seq((901L, 1L), (901L, 2L), (901L, 3L),
        (902L, 1L), (902L, 2L), (902L, 3L)))
      .toDF("l_orderkey", "l_partkey")
    val acct = graft.operators.Tpch.copurchaseCapAccounting(li, basketCap = 64)
      .head()
    assert(acct.getAs[Long]("n_baskets") === 3L)
    assert(acct.getAs[Long]("n_truncated") === 1L)
    assert(acct.getAs[Long]("max_basket") === 100L)
    // dropped pair slots = C(100,2) - C(64,2) = 4950 - 2016
    assert(acct.getAs[Long]("pair_slots_dropped") === 4950L - 2016L)
    // capped run: the hot basket contributes C(64,2) pairs; the small
    // baskets' pairs survive identically (supp>=2 via minSupport=2)
    val pairs = graft.operators.Tpch.copurchaseLiftFrom(li, minSupport = 1,
      basketCap = 64)
    val hotPairs = pairs.filter($"supp_ab" === 1).count()
    assert(hotPairs === 2016L - 3L, s"hot-basket pair count $hotPairs") // (1,2),(1,3),(2,3) have supp 3
    val smalls = pairs.filter($"pa" <= 3 && $"pb" <= 3).collect()
    assert(smalls.forall(_.getAs[Long]("supp_ab") === 3L)) // hot basket keeps 1..64, so +1
    // uncapped equivalence on cap-free data: cap is a no-op
    val small = li.filter($"l_orderkey" =!= 900L)
    val a = graft.operators.Tpch.copurchaseLiftFrom(small, 1, 64).collect().map(_.toSeq).toSet
    val b = graft.operators.Tpch.copurchaseLiftFrom(small, 1, 100000).collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
