package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Mv, MvCatalog}

/** The aggregate-to-materialized-view rewrite: derivable aggregates over
  * the fact table must reroute to the registered summary scan with
  * identical results; anything outside the derivability contract must be
  * left untouched.
  */
class MvRewriteSpec extends SparkSpec {

  private lazy val basePath = {
    val root = java.nio.file.Files.createTempDirectory("mv-spec").toString
    val p = s"$root/fact.parquet"
    import spark.implicits._
    // planted fact table: 2 group dims, one integral measure
    Seq(
      ("a", "x", 1L, 10L), ("a", "x", 2L, 20L), ("a", "y", 3L, 30L),
      ("b", "x", 4L, 40L), ("b", "y", 5L, 50L), ("b", "y", 6L, 60L))
      .toDF("g1", "g2", "qty", "other")
      .write.mode("overwrite").parquet(p)
    Mv.create(spark, "spec_mv", p, s"$root/mv.parquet",
      groupCols = Seq("g1", "g2"), sumCols = Seq("qty"),
      minCols = Seq("qty"), maxCols = Seq("qty"))
    p
  }

  private def fact: DataFrame = spark.read.parquet(basePath)

  private def scansMv(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("mv.parquet") && !plan.contains("fact.parquet")
  }

  private def scansFact(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("fact.parquet")

  test("same-grain aggregate rewrites to the MV scan, values exact") {
    val q = fact.groupBy("g1", "g2")
      .agg(sum("qty").as("s"), count(lit(1)).as("n"))
    assert(scansMv(q), q.queryExecution.executedPlan.toString)
    val got = q.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", "x", 3L, 2L), ("a", "y", 3L, 1L),
      ("b", "x", 4L, 1L), ("b", "y", 11L, 2L)))
  }

  test("subset grouping + group-col filter re-rolls the MV") {
    val q = fact.filter(col("g2") === "y").groupBy("g1")
      .agg(sum("qty").as("s"), min("qty").as("mn"), max("qty").as("mx"),
        avg(col("qty").cast("double")).as("m"))
    // avg(cast) is not a plain-attribute avg — whole query must stay on fact
    assert(scansFact(q))
    val q2 = fact.filter(col("g2") === "y").groupBy("g1")
      .agg(sum("qty").as("s"), min("qty").as("mn"), max("qty").as("mx"))
    assert(scansMv(q2), q2.queryExecution.executedPlan.toString)
    val got = q2.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 3L, 3L, 3L), ("b", 11L, 5L, 6L)))
  }

  test("global aggregation (no grouping) derives from the MV") {
    val q = fact.agg(sum("qty").as("s"), count(lit(1)).as("n"))
    assert(scansMv(q), q.queryExecution.executedPlan.toString)
    val r = q.head()
    assert(r.getLong(0) == 21L && r.getLong(1) == 6L)
  }

  test("non-derivable shapes stay on the fact table") {
    // measure not registered
    assert(scansFact(fact.groupBy("g1").agg(sum("other").as("s"))))
    // filter on a non-group column
    assert(scansFact(
      fact.filter(col("qty") > 2).groupBy("g1").agg(sum("qty").as("s"))))
    // distinct aggregate
    assert(scansFact(fact.groupBy("g1").agg(countDistinct("qty").as("d"))))
    // count of a nullable measure column (not count(*))
    assert(scansFact(fact.groupBy("g1").agg(count(col("other")).as("c"))))
    // grouping key outside the MV grain
    assert(scansFact(fact.groupBy("qty").agg(count(lit(1)).as("n"))))
  }

  test("avg over a NULLABLE measure divides by the non-null count") {
    val root = java.nio.file.Files.createTempDirectory("mv-null-spec").toString
    import spark.implicits._
    val p = s"$root/fact.parquet"
    // nulls in the measure: avg must be sum/2 for group a, not sum/3
    Seq(("a", Some(4L)), ("a", None), ("a", Some(8L)),
      ("b", Some(10L)), ("b", None))
      .toDF("g", "qty").write.mode("overwrite").parquet(p)
    Mv.create(spark, "null_mv", p, s"$root/mv.parquet",
      groupCols = Seq("g"), sumCols = Seq("qty"))
    val q = spark.read.parquet(p).groupBy("g")
      .agg(avg("qty").as("m"), sum("qty").as("s"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("mv.parquet") && !plan.contains("fact.parquet"), plan)
    val got = q.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("a", 6.0, 12L, 3L), ("b", 10.0, 10L, 2L)), got.toString)
    // the rollup path must divide by the same non-null count
    val roll = spark.read.parquet(p).rollup("g").agg(avg("qty").as("m"))
    assert(roll.queryExecution.executedPlan.toString.contains("mv.parquet"))
    val rgot = roll.collect()
      .map(r => (Option(r.getString(0)), r.getDouble(1))).toSet
    assert(rgot == Set((Some("a"), 6.0), (Some("b"), 10.0), (None, 22.0 / 3)),
      rgot.toString)
    MvCatalog.deregister("null_mv")
  }

  test("non-deterministic and multi-path shapes are never rewritten") {
    // a reference-free non-deterministic conjunct passes the attribute
    // check but must bail: re-evaluating rand() against MV rows samples a
    // different population than sampling fact rows
    // (rand < 2.0 would be constant-folded away — keep the bound inside
    // rand's range so the Filter survives to the rewrite)
    val nd = fact.filter(rand(7) < 0.5).groupBy("g1").agg(sum("qty").as("s"))
    assert(scansFact(nd), nd.queryExecution.executedPlan.toString)
    val ndRoll = fact.filter(rand(7) < 0.5).rollup("g1").agg(sum("qty").as("s"))
    assert(scansFact(ndRoll), ndRoll.queryExecution.executedPlan.toString)
    // a multi-path scan whose FIRST root is the registered base path must
    // not be served from the MV built over that root alone
    val root = java.nio.file.Files.createTempDirectory("mv-multi").toString
    val extra = s"$root/extra.parquet"
    fact.limit(2).write.mode("overwrite").parquet(extra)
    val multi = spark.read.parquet(basePath, extra)
      .groupBy("g1").agg(sum("qty").as("s"), count(lit(1)).as("n"))
    val plan = multi.queryExecution.executedPlan.toString
    assert(!plan.contains("mv.parquet"), plan)
    assert(multi.agg(sum("n")).head().getLong(0) == 8L)
  }

  test("incremental refresh folds retractions and the rewrite reads the new MV") {
    val root = java.nio.file.Files.createTempDirectory("mv-ivm-spec").toString
    import spark.implicits._
    val p = s"$root/fact.parquet"
    Seq(("a", 1L), ("a", 2L), ("b", 5L), ("b", 6L))
      .toDF("g", "qty").write.mode("overwrite").parquet(p)
    Mv.create(spark, "ivm_mv", p, s"$root/mv0",
      groupCols = Seq("g"), sumCols = Seq("qty"))
    // retract (a,2), insert (a,10) and a brand-new group (c,7),
    // annihilate b entirely
    val delta = Seq(("a", 2L, -1.0), ("a", 10L, 1.0), ("c", 7L, 1.0),
      ("b", 5L, -1.0), ("b", 6L, -1.0)).toDF("g", "qty", "w")
    Mv.refresh(spark, "ivm_mv", delta, "w", s"$root/mv1")
    val got = spark.read.parquet(s"$root/mv1")
      .select("g", "__cnt", "__sum_qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 11L), ("c", 1L, 7L)), got.toString)
    // the rewrite now serves base-table queries from the REFRESHED path
    val q = spark.read.parquet(p).groupBy("g").agg(sum("qty").as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("mv1") && !plan.contains("fact.parquet"), plan)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 11L), ("c", 7L)))
    MvCatalog.deregister("ivm_mv")
  }

  test("insert-only refresh maintains min/max via least/greatest") {
    val root = java.nio.file.Files.createTempDirectory("mv-ins-spec").toString
    import spark.implicits._
    val p = s"$root/fact.parquet"
    Seq(("a", 5L), ("a", 9L)).toDF("g", "qty")
      .write.mode("overwrite").parquet(p)
    Mv.create(spark, "ins_mv", p, s"$root/mv0",
      groupCols = Seq("g"), sumCols = Seq("qty"),
      minCols = Seq("qty"), maxCols = Seq("qty"))
    // a delta with a delete must be refused while min/max are registered
    val bad = Seq(("a", 5L, -1.0)).toDF("g", "qty", "w")
    intercept[IllegalArgumentException] {
      Mv.refresh(spark, "ins_mv", bad, "w", s"$root/mvX")
    }
    val delta = Seq(("a", 1L, 1.0), ("a", 20L, 1.0)).toDF("g", "qty", "w")
    Mv.refresh(spark, "ins_mv", delta, "w", s"$root/mv1", insertOnly = true)
    val r = spark.read.parquet(s"$root/mv1")
      .select("g", "__cnt", "__sum_qty", "__min_qty", "__max_qty").head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ("a", 4L, 35L, 1L, 20L))
    MvCatalog.deregister("ins_mv")
  }

  test("streaming refresh keeps the summary current across micro-batches") {
    val root = java.nio.file.Files.createTempDirectory("mv-stream-spec").toString
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val p = s"$root/fact.parquet"
    Seq(("a", 1L), ("b", 2L)).toDF("g", "qty")
      .write.mode("overwrite").parquet(p)
    Mv.create(spark, "stream_mv", p, s"$root/mv0",
      groupCols = Seq("g"), sumCols = Seq("qty"))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Double)]
    val deltas = ms.toDF().toDF("g", "qty", "w")
    val q = Mv.streamingRefresh(deltas, "stream_mv", "w", s"$root/gen")
    try {
      ms.addData(("a", 10L, 1.0))
      q.processAllAvailable()
      ms.addData(("b", 2L, -1.0), ("c", 5L, 1.0))
      q.processAllAvailable()
      val e = MvCatalog.get("stream_mv").get
      val got = spark.read.parquet(e.mvPath).select("g", "__cnt", "__sum_qty")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("a", 2L, 11L), ("c", 1L, 5L)), got.toString)
    } finally {
      q.stop()
      MvCatalog.deregister("stream_mv")
    }
  }

  test("advisor merges the filtered subset-grouping query into one candidate") {
    val out = Mv.advisorDemo(spark, sf).collect()
    assert(out.length == 3, out.mkString("\n"))
    val byGrain = out.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val li = byGrain(("lineitem", "l_linestatus,l_returnflag"))
    assert(li.getAs[Long]("n_queries") == 2L)
    assert(li.getAs[String]("sum_cols") == "l_quantity")
    // a handful of flag×status groups must compress 6k rows by >99x
    assert(li.getAs[Long]("reduction_e2") >= 100L * 100L)
    assert(byGrain(("orders", "o_orderpriority")).getAs[Long]("n_queries") == 1L)
  }

  test("rollup and cube re-aggregate the MV through the rebuilt Expand") {
    val q = fact.rollup("g1", "g2")
      .agg(sum("qty").as("s"), count(lit(1)).as("n"),
        avg(col("qty").cast("double")).as("bad_avg"))
    // avg over a cast isn't a plain-attribute measure — whole query bails
    assert(scansFact(q))
    val roll = fact.rollup("g1", "g2")
      .agg(sum("qty").as("s"), count(lit(1)).as("n"))
    assert(scansMv(roll), roll.queryExecution.executedPlan.toString)
    val got = roll.collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (Some("a"), Some("x"), 3L, 2L), (Some("a"), Some("y"), 3L, 1L),
      (Some("b"), Some("x"), 4L, 1L), (Some("b"), Some("y"), 11L, 2L),
      (Some("a"), None, 6L, 3L), (Some("b"), None, 15L, 3L),
      (None, None, 21L, 6L)), got.toString)
    val cube = fact.cube("g1", "g2")
      .agg(sum("qty").as("s"), min("qty").as("mn"), max("qty").as("mx"))
    assert(scansMv(cube), cube.queryExecution.executedPlan.toString)
    // spot-check the g2-only slice only a CUBE emits
    val g2x = cube.collect().find(r => r.isNullAt(0) &&
      Option(r.getString(1)).contains("x")).get
    assert((g2x.getLong(2), g2x.getLong(3), g2x.getLong(4)) == (7L, 1L, 4L))
  }

  test("exact view matching collapses the star join to the stored summary") {
    val rewritten = Mv.starDemo(spark, sf)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("graft-mv-star"), plan)
    assert(!plan.contains("lineitem"), s"still scans the fact table:\n$plan")
    val a = rewritten.collect().map(_.toSeq).toSet
    val direct = Mv.starQuery(spark, sf)
    assert(direct.queryExecution.executedPlan.toString.contains("lineitem"))
    val b = direct.collect().map(_.toSeq).toSet
    assert(a == b, s"rewritten=$a direct=$b")
  }

  test("a near-miss star query (different measure) is not matched") {
    val root = java.nio.file.Files.createTempDirectory("mv-star-neg").toString
    Mv.createExact(spark, "star_neg", Mv.starQuery(spark, sf), s"$root/mv.parquet")
    // same join, same grouping, but avg instead of the registered sum
    val near = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/supplier.parquet"),
        col("l_suppkey") === col("s_suppkey"))
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(avg("l_quantity").as("a"))
    assert(near.queryExecution.executedPlan.toString.contains("lineitem"))
    graft.plans.ViewCatalog.deregister("star_neg")
  }

  test("rewritten result equals un-rewritten result on the demo query") {
    val rewritten = Mv.demoQuery(spark, sf)
    assert(rewritten.queryExecution.executedPlan.toString.contains("graft-mv"),
      rewritten.queryExecution.executedPlan.toString)
    val a = rewritten.collect().map(_.toSeq).toSet
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"), avg(col("l_quantity")).as("avg_qty"))
    assert(direct.queryExecution.executedPlan.toString.contains("lineitem"))
    val b = direct.collect().map(_.toSeq).toSet
    assert(a == b, s"rewritten=$a direct=$b")
    // avg over an integral double is exact, so == is the right comparison
  }
}
