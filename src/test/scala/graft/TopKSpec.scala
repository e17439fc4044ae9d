package graft

import org.apache.spark.sql.functions._
import graft.plans.{TopK, TopKPerGroupExec}
import graft.operators.Tpch

/** The custom TopKPerGroup physical operator (SURVEY §2 #49): must agree
  * exactly with the window-function formulation and actually plan through
  * TopKPerGroupExec.
  */
class TopKSpec extends SparkSpec {

  test("custom exec output equals window row_number top-k") {
    val perPart = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_partkey")
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
    val custom = TopK.topKPerGroup(perPart, Seq("p_brand"),
      Seq(("revenue", true), ("p_partkey", false)), 3)
    // physical plan actually uses the custom exec
    val planStr = custom.queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerGroup"), s"custom exec missing from plan:\n$planStr")
    val viaWindow = Tpch.qTopPartsPerBrand(spark, sf)
      .select("p_brand", "p_partkey", "rnk")
    val got = custom.select(col("p_brand"), col("p_partkey"), col("rnk"))
    // same (brand, part) per rank — revenue definition differs (no discount)
    // so compare structure: every brand has <= 3 ranked rows, ranks 1..n
    val byBrand = custom.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), max("rnk").as("mx"), min("rnk").as("mn"))
    assert(byBrand.filter(col("n") > 3 || col("mx") =!= col("n") || col("mn") =!= 1).count() == 0)
    // cross-check exact agreement on an identical definition
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_brand").orderBy(col("revenue").desc, col("p_partkey"))
    val ref = perPart.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select("p_brand", "p_partkey", "revenue", "rnk")
    assert(got.count() == ref.count())
    assert(custom.select("p_brand", "p_partkey", "revenue", "rnk")
      .exceptAll(ref).count() == 0)
    assert(ref.exceptAll(custom.select("p_brand", "p_partkey", "revenue", "rnk"))
      .count() == 0)
    assert(viaWindow.count() > 0)
  }

  test("RewriteTopK rule turns window row_number filters into the custom exec") {
    val viaWindow = Tpch.qTopPartsPerBrand(spark, sf) // plain window formulation
    val plan = viaWindow.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains(" Window "), s"window exec should be gone:\n$plan")
    // results identical to the unrewritten formulation
    val ref = Tpch.qTopPartsPerBrandCustom(spark, sf)
      .select("p_brand", "p_partkey", "revenue", "rnk")
    val got = viaWindow.select("p_brand", "p_partkey", "revenue", "rnk")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    // scd1's compound filter (rn === 1 AND ...) must be left untouched
    val scd1 = graft.cdc.Cdc.currentScd1(spark, sf)
    assert(scd1.count() > 0)
  }

  test("partial map-side top-k runs below the exchange") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("g" + (i % 7), i)).toDF("g", "v").repartition(8)
    val got = TopK.topKPerGroup(df, Seq("g"), Seq(("v", true)), 3)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupPartial"), s"no partial stage:\n$plan")
    assert(plan.contains("Exchange"), s"expected an exchange between stages:\n$plan")
    assert(got.count() == 21)
  }

  test("string sort keys with nulls match the window formulation") {
    import spark.implicits._
    val rows = Seq(("g1", "zz", 1), ("g1", "aa", 2), ("g1", null, 3), ("g2", "mm", 4)) ++
      (5 to 300).map(i => ("g" + (i % 3), if (i % 41 == 0) null else "s" + (i * 37 % 97), i))
    val df = rows.toDF("g", "s", "id").repartition(8)
    val got = TopK.topKPerGroup(df, Seq("g"), Seq(("s", false), ("id", false)), 4)
      .select("g", "s", "id", "rnk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s").asc, col("id").asc)
    val ref = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 4)
      .select("g", "s", "id", "rnk")
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
  }

  test("ascending sort and tie handling") {
    import spark.implicits._
    val df = Seq(("a", 3, 1), ("a", 1, 2), ("a", 2, 3), ("a", 1, 4), ("b", 5, 5))
      .toDF("g", "v", "id")
    val got = TopK.topKPerGroup(df, Seq("g"), Seq(("v", false), ("id", false)), 2)
      .select("g", "v", "id", "rnk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == Set(("a", 1, 2, 1), ("a", 1, 4, 2), ("b", 5, 5, 1)))
  }
}
