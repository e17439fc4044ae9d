package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, GraftSqlBridge}
import org.apache.spark.sql.types.IntegerType
import graft.operators.Similarity

/** Opening a table runs no Spark job: the loaders read with the schema
  * `spark.read.parquet` would infer, taken from one footer on the driver
  * ([[GraftSqlBridge.parquetSchema]]). Pins that schema against Spark's
  * own inference, and that query construction and PQ training stay free
  * of the jobs they used to run.
  */
class TablesSpec extends SparkSpec {

  private def assertInferredSchema(path: String): Unit =
    assert(GraftSqlBridge.parquetSchema(spark, path) === spark.read.parquet(path).schema, path)

  test("footer schema equals Spark's inferred schema on every corpus table") {
    for (dir <- Seq(sf, s"${new java.io.File(sf).getParent}/sf0.01")) {
      val tables = new java.io.File(dir).listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).sorted
      assert(tables.length >= 10, dir)
      tables.foreach(assertInferredSchema)
    }
  }

  test("footer schema equals Spark's inferred schema on written directories") {
    val root = Files.createTempDirectory("graft-schema").toString
    val rows = spark.range(30).selectExpr("id", "CAST(id AS STRING) AS s",
      "CAST(id AS DECIMAL(10,2)) AS amount", "timestamp_micros(id) AS t",
      "array(CAST(id AS FLOAT)) AS v", "CAST(id % 3 AS INT) AS k")
    // three files whose schemas all differ: Spark infers from the first
    // in path order alone, and so must the footer read
    for (cols <- Seq(Seq("id", "s"), Seq("id", "amount", "t"), Seq("v", "k")))
      rows.selectExpr(cols: _*).coalesce(1).write.mode("append").parquet(s"$root/flat")
    val parts = new java.io.File(s"$root/flat").listFiles().map(_.getName)
    assert(parts.count(_.endsWith(".parquet")) === 3)
    assertInferredSchema(s"$root/flat")
    rows.write.partitionBy("k").parquet(s"$root/parted")
    assertInferredSchema(s"$root/parted")
    val last = GraftSqlBridge.parquetSchema(spark, s"$root/parted").last
    assert(last.name === "k" && last.dataType === IntegerType)
  }

  test("a missing table still raises PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Tables.lineitem(spark, "/nonexistent/graft-corpus"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }

  test("constructing a query over the corpus tables runs no Spark job") {
    for (name <- Seq("q1_pricing_summary", "q6_forecast", "cdc_current_scd1")) {
      val (df, jobs) = jobsOf(SparkEntry.queries(name)(spark, sf))
      assert(jobs.isEmpty, s"$name ran ${jobs.mkString(", ")} while being built")
      assert(df.count() > 0, name)
    }
  }

  test("PQ training runs one job per Lloyd round and trains the same codebook every time") {
    val iters = 3
    val (cb, jobs) = jobsOf(Similarity.pqCodebookTrain(spark, sf, 8, 16, iters))
    assert(jobs.size === iters + 1, jobs.mkString(", "))
    assert(cb.length === 8 * 16 * 8)
    assert(cb.exists(_ != 0f))
    assert(Similarity.pqCodebookTrain(spark, sf, 8, 16, iters).sameElements(cb))
  }
}
