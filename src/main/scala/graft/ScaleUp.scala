package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-data scale-up: replicate an SF directory `factor`× into disjoint
  * "universes" for the scale sweep (`BENCH_SF1.json`). Each replica k gets
  * offset keys (foreign-key integrity preserved within its universe) and
  * CONTENT made distinct on purpose:
  *
  *  - documents: every token suffixed with the replica id, so replicas are
  *    NOT near-duplicates of their source (a naive 10× copy would plant
  *    10-member near-dup families everywhere and measure pair explosion,
  *    not corpus scale);
  *  - embeddings: per-replica deterministic dimension-wise shift (not a
  *    pure scale, which cosine would ignore), so replica vectors are
  *    genuinely new points;
  *  - events: ids/users offset, timestamps shifted k days — per-user
  *    session shapes stay constant while the stream grows;
  *  - TPC-H tables: all keys offset by k·(max key of the source), so joins
  *    see factor× rows at the same per-key fan-out. region/nation stay
  *    fixed (dimension tables don't grow with SF in TPC-H either).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [factor=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    try run(spark, src, dst, factor) finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def tbl(name: String): DataFrame = Tables.load(spark, src, name)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // one frame per replica, unioned — `k` is a literal per branch so every
    // arithmetic offset constant-folds into the scan projection
    def replicate(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => f(base, k)).reduce(_ unionByName _)

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")

    val cust = tbl("customer"); val cOff = maxOf(cust, "c_custkey")
    write(replicate(cust)((d, k) => d
      .withColumn("c_custkey", col("c_custkey") + k * cOff)), "customer")

    val supp = tbl("supplier"); val sOff = maxOf(supp, "s_suppkey")
    write(replicate(supp)((d, k) => d
      .withColumn("s_suppkey", col("s_suppkey") + k * sOff)), "supplier")

    val part = tbl("part"); val pOff = maxOf(part, "p_partkey")
    write(replicate(part)((d, k) => d
      .withColumn("p_partkey", col("p_partkey") + k * pOff)), "part")

    val ord = tbl("orders"); val oOff = maxOf(ord, "o_orderkey")
    write(replicate(ord)((d, k) => d
      .withColumn("o_orderkey", col("o_orderkey") + k * oOff)
      .withColumn("o_custkey", col("o_custkey") + k * cOff)), "orders")

    write(replicate(tbl("lineitem"))((d, k) => d
      .withColumn("l_orderkey", col("l_orderkey") + k * oOff)
      .withColumn("l_partkey", col("l_partkey") + k * pOff)
      .withColumn("l_suppkey", col("l_suppkey") + k * sOff)), "lineitem")

    val ev = tbl("events")
    val eOff = maxOf(ev, "event_id"); val uOff = maxOf(ev, "user_id")
    write(replicate(ev)((d, k) => d
      .withColumn("event_id", col("event_id") + k * eOff)
      .withColumn("user_id", col("user_id") + k * uOff)
      .withColumn("ts", expr(s"ts + INTERVAL '$k' DAY"))), "events")

    val docs = tbl("documents"); val dOff = maxOf(docs, "doc_id")
    write(replicate(docs)((d, k) => d
      .withColumn("doc_id", col("doc_id") + k * dOff)
      .withColumn("text", if (k == 0) col("text")
        else expr(s"array_join(transform(split(text, ' '), x -> concat(x, 'r$k')), ' ')"))),
      "documents")

    val emb = tbl("embeddings"); val vOff = maxOf(emb, "vec_id")
    write(replicate(emb)((d, k) => d
      .withColumn("vec_id", col("vec_id") + k * vOff)
      .withColumn("embedding", if (k == 0) col("embedding")
        // dimension-indexed shift: changes direction, not just magnitude
        else expr(s"transform(embedding, (x, i) -> CAST(x + 0.03 * $k * ((i % 5) - 2) AS FLOAT))"))),
      "embeddings")

    println(s"[scaleup] wrote $dst at ${factor}x $src")
  }
}
