package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Train}

/** Pins the training kernel: its init equals a `row_number` window over
  * the salted hash, k-means is deterministic, and its PCA agrees with
  * MLlib's `PCA.fit` while running one job.
  */
class TrainSpec extends SparkSpec {

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  /** Reference init: per subspace, row_number over (xxhash64(vec_id, sub),
    * vec_id) after a shuffle on the subspace.
    */
  private def windowInit(e: DataFrame, m: Int, k: Int): Array[Float] = {
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val d = dim / m
    val cb = new Array[Float](m * k * d)
    val w = Window.partitionBy("sub")
      .orderBy(xxhash64(col("vec_id"), col("sub")), col("vec_id"))
    e.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> transform(slice(embedding, s * $d + 1, $d), x -> CAST(x AS DOUBLE)))"))
        .as(Seq("sub", "sv")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .select(col("sub"), (col("r") - 1).cast("int").as("code"), col("sv"))
      .collect().foreach { r =>
        val sv = r.getSeq[Double](2)
        for (j <- 0 until d) cb((r.getInt(0) * k + r.getInt(1)) * d + j) = sv(j).toFloat
      }
    cb
  }

  test("the seeded init picks what a row_number window over the salted hash picks") {
    val e = Tables.embeddings(spark, sf01)
    val sample = Tables.embeddings(spark, sf).sample(withReplacement = false, 0.25, 42L)
    for ((frame, m, k) <- Seq((e, 8, 256), (e, 8, 16), (e, 1, 16), (sample, 1, 8))) {
      val (dim, cb) = Train.seededInit(frame, m, k)
      assert(dim === frame.select(size(col("embedding"))).head().getInt(0))
      assert(cb.sameElements(windowInit(frame, m, k)), s"m=$m k=$k")
    }
  }

  test("k-means trains the same centroids twice") {
    val e = Tables.embeddings(spark, sf01)
    val (first, jobs) = jobsOf(Train.kmeans(e, 1, 16, 5))
    assert(jobs.size === 1 + 5, jobs.mkString(", "))
    assert(first.length === 16 * 64 && first.exists(_ != 0f))
    assert(Train.kmeans(e, 1, 16, 5).sameElements(first))
  }

  test("a cold PCA build runs one job and a warm embPca construction runs none") {
    val (_, cold) = jobsOf(Train.pca(Tables.embeddings(spark, sf), 4))
    assert(cold.size === 1, cold.mkString(", "))
    Similarity.embPca(spark, sf, 4)
    val (_, warm) = jobsOf(Similarity.embPca(spark, sf, 4))
    assert(warm.isEmpty, warm.mkString(", "))
  }

  test("PCA matches MLlib's PCA.fit: components, stds and the sign rule") {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val k = 4
    val e = Tables.embeddings(spark, sf01)
    val (basis, stds) = Train.pca(e, k)
    val d = basis.length / k
    val fv = e.select(array_to_vector(col("embedding")).as("fv"))
    val model = new PCA().setK(k).setInputCol("fv").setOutputCol("pc").fit(fv)
    val mlStds = model.transform(fv)
      .select(posexplode(vector_to_array(col("pc"))).as(Seq("j", "v")))
      .groupBy("j").agg(stddev_samp(col("v"))).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    for (i <- 0 until k) {
      val ours = basis.slice(i * d, (i + 1) * d)
      val theirs = Array.tabulate(d)(j => model.pc(j, i))
      def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
      val cos = ours.zip(theirs).map { case (a, b) => a * b }.sum / (norm(ours) * norm(theirs))
      assert(math.abs(cos) >= 1 - 1e-6, s"component $i: |cos| = ${math.abs(cos)}")
      assert(math.abs(stds(i) - mlStds(i)) <= 1e-6 * mlStds(i),
        s"component $i: std ${stds(i)} vs MLlib ${mlStds(i)}")
      // sign rule: the first largest-|loading| entry is positive
      val top = ours.map(math.abs).max
      val at = ours.indexWhere(x => math.abs(x) == top)
      assert(ours(at) > 0, s"component $i: loading $at is ${ours(at)}")
    }
    assert(stds.zip(stds.tail).forall { case (a, b) => a >= b })
  }
}
