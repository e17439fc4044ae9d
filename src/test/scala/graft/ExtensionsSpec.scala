package graft

import java.util.ServiceLoader

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensionsProvider

/** The single install path: Spark's ServiceLoader finds
  * [[GraftExtensions]], so a session built with no graft call at all
  * already resolves the SQL functions and plans the TopK rewrite.
  */
class ExtensionsSpec extends SparkSpec {

  test("ServiceLoader installs GraftExtensions: plain SQL resolves all 13 functions") {
    val providers = ServiceLoader.load(classOf[SparkSessionExtensionsProvider])
      .asScala.map(_.getClass).toSeq
    assert(providers.contains(classOf[GraftExtensions]), s"providers: $providers")
    val r = spark.sql(
      "SELECT simhash64('a b c') AS s, cosine_sim(array(1.0F), array(1.0F)) AS c, " +
        "hyperplane_bucket(array(1.0F, -2.0F), 8) AS b, " +
        "rolling_min_hash('a b c d e', 2) AS rh, deflate_size('spam spam spam') AS z").first()
    assert(r.getLong(0) != 0L && math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getInt(2) >= 0 && r.getInt(2) < 256)
    assert(!r.isNullAt(3) && r.getLong(4) > 0L)
    val r2 = spark.sql(
      "SELECT ngram_jaccard('a b c d', 'a b c e', 2) AS nj, " +
        "shingle_jaccard('a b c', 'a b c') AS sj, " +
        "shingle_containment('a b c', 'a b c d') AS sc, " +
        "size(minhash_sig('a b c', 16)) AS k, " +
        "size(bpe_encode(array('a','b','c'), array('a'), array('b'))) AS ntok, " +
        "size(bpe_merge_step(array('a','b','c'), 'a', 'b')) AS nmerged").first()
    assert(r2.getDouble(0) > 0.0 && r2.getDouble(0) < 1.0)
    assert(math.abs(r2.getDouble(1) - 1.0) < 1e-12)
    assert(r2.getDouble(2) > 0.0 && r2.getDouble(2) <= 1.0)
    assert(r2.getInt(3) == 16 && r2.getInt(4) == 2 && r2.getInt(5) == 2) // ab fused
    // aggregates resolve through SQL too (analyzer wraps AggregateFunction)
    val r3 = spark.sql(
      "SELECT size(minhash_agg(w, 8)) AS sig, quantile_sketch(x, array(0.5D), 50)[0] AS med " +
        "FROM VALUES (10L, 1.0D), (20L, 2.0D), (30L, 3.0D) AS t(w, x)").first()
    assert(r3.getInt(0) == 8 && math.abs(r3.getDouble(1) - 2.0) < 1e-9)
  }

  test("a plain session plans TopKPerGroup for a row_number() <= k filter") {
    spark.range(200).selectExpr("id % 7 AS g", "id AS v").createOrReplaceTempView("ext_topk")
    val q = spark.sql(
      """SELECT g, v, rn FROM (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v DESC) AS rn
        |  FROM ext_topk) WHERE rn <= 3""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
    assert(q.count() == 21)
  }
}
