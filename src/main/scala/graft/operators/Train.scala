package graft.operators

import org.apache.commons.math3.linear.{Array2DRowRealMatrix, EigenDecomposition}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col
import graft.functions.TextHashes

/** The one training kernel behind every artifact graft fits: k-means over
  * `m` equal subspaces (the PQ codebook; m = 1 for the IVF-PQ coarse
  * quantizer and the semantic-dedup centroids) and PCA.
  *
  * Each step is one shuffle-free job over the frame's
  * `queryExecution.toRdd`: every partition returns one fixed-size partial
  * (O(m·k·d) or O(d²) numbers whatever the corpus size), and the driver
  * merges the partials in partition order, so a given input always trains
  * the same model. Frames carry `vec_id` BIGINT and `embedding`
  * ARRAY<FLOAT>; a row with a null embedding (or, in the init, a null
  * `vec_id`) is left out.
  */
object Train {

  /** L2 k-means of each of `m` equal subspaces into `k` centroids:
    * [[seededInit]], then `iters` [[lloyd]] rounds — `iters + 1` jobs. The
    * flat result is laid out [(s·k + c)·d + j] with d = dim / m, the
    * layout [[TextHashes.pqCodes]] assigns against.
    */
  def kmeans(frame: DataFrame, m: Int, k: Int, iters: Int): Array[Float] = {
    val (dim, init) = seededInit(frame, m, k)
    lloyd(frame, init, m, k, dim / m, iters)
  }

  private final case class Pick(hash: Long, id: Long, sv: Array[Float])

  /** Deterministic hash-sampled init, one job: centroid c of subspace s is
    * the s-th subvector of the vector with the c-th smallest
    * (`xxhash64(vec_id, s)`, `vec_id`) — Spark's `xxhash64` over a BIGINT
    * and an INT, so the picks equal a `row_number()` over that order per
    * subspace. Each partition keeps a bounded heap of k picks per
    * subspace. Also returns the dimension of the first vector in
    * partition order. Codes left without a pick (fewer than k vectors)
    * stay zero.
    */
  def seededInit(frame: DataFrame, m: Int, k: Int): (Int, Array[Float]) = {
    val ord = Ordering.by((p: Pick) => (p.hash, p.id))
    val parts = frame.select(col("vec_id"), col("embedding")).queryExecution.toRdd
      .mapPartitions { rows =>
        // max-heaps: the head is the worst pick kept so far
        val heaps = Array.fill(m)(new java.util.PriorityQueue[Pick](k + 1, ord.reverse))
        var dim = -1
        rows.foreach { row =>
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val v = row.getArray(1).toFloatArray()
            if (dim < 0) dim = v.length
            val (d, id) = (v.length / m, row.getLong(0))
            val h = XXH64.hashLong(id, 42L)
            for (s <- 0 until m) {
              val (hs, heap) = (XXH64.hashInt(s, h), heaps(s))
              val worst = heap.peek()
              if (heap.size < k || hs < worst.hash || (hs == worst.hash && id < worst.id)) {
                heap.add(Pick(hs, id, java.util.Arrays.copyOfRange(v, s * d, s * d + d)))
                if (heap.size > k) heap.poll()
              }
            }
          }
        }
        Iterator.single((dim, heaps.map(_.toArray(Array.empty[Pick]))))
      }.collect()
    val dim = parts.iterator.map(_._1).find(_ >= 0)
      .getOrElse(throw new IllegalArgumentException("no vectors to train on"))
    val d = dim / m
    val cb = new Array[Float](m * k * d)
    for (s <- 0 until m)
      parts.flatMap(_._2(s)).sorted(ord).take(k).zipWithIndex.foreach { case (p, c) =>
        System.arraycopy(p.sv, 0, cb, (s * k + c) * d, d)
      }
    (dim, cb)
  }

  /** `iters` Lloyd rounds from `init`, one job per round for all `m`
    * subspaces. Each partition assigns its rows with the
    * [[TextHashes.pqCodes]] kernel (L2, first-position tie-break — the
    * exact function encode uses; interpreted lambdas at k = 256 cost
    * ~100× per element) and returns one (sum, count) pair of m·k·d arrays.
    * A null element is left out of its dimension's sum and count.
    */
  private def lloyd(frame: DataFrame, init: Array[Float], m: Int, k: Int, d: Int,
      iters: Int): Array[Float] = {
    val cb = init.clone()
    val vectors = frame.select(col("embedding")).queryExecution.toRdd
    for (_ <- 1 to iters) {
      val prev = cb.clone()
      val partials = vectors.mapPartitions { rows =>
        val sum = new Array[Double](prev.length)
        val cnt = new Array[Long](prev.length)
        rows.foreach { row =>
          if (!row.isNullAt(0)) {
            val v = row.getArray(0)
            val codes = TextHashes.pqCodes(v.toFloatArray(), prev, m, k, d)
            var s = 0
            while (s < m) {
              var j = 0
              while (j < d) {
                if (!v.isNullAt(s * d + j)) {
                  val at = (s * k + codes(s)) * d + j
                  sum(at) += v.getFloat(s * d + j).toDouble
                  cnt(at) += 1
                }
                j += 1
              }
              s += 1
            }
          }
        }
        Iterator.single((sum, cnt))
      }.collect()
      // a (code, dim) that lost every member keeps its previous centroid
      var i = 0
      while (i < cb.length) {
        var sum = 0.0
        var cnt = 0L
        partials.foreach { case (ps, pc) => sum += ps(i); cnt += pc(i) }
        if (cnt > 0) cb(i) = (sum / cnt).toFloat
        i += 1
      }
    }
    cb
  }

  /** (n, Σx, Σxxᵀ) of the embeddings in doubles, one job; Σxxᵀ is d×d
    * row-major with its upper triangle filled.
    */
  private def moments(frame: DataFrame): (Long, Array[Double], Array[Double]) =
    frame.select(col("embedding")).queryExecution.toRdd.mapPartitions { rows =>
      var (n, sum, gram) = (0L, Array.empty[Double], Array.empty[Double])
      rows.foreach { row =>
        if (!row.isNullAt(0)) {
          val v = row.getArray(0).toFloatArray()
          val d = v.length
          if (n == 0) { sum = new Array[Double](d); gram = new Array[Double](d * d) }
          require(sum.length == d, s"embedding dimension $d != ${sum.length}")
          var i = 0
          while (i < d) {
            val x = v(i).toDouble
            sum(i) += x
            var j = i
            while (j < d) { gram(i * d + j) += x * v(j); j += 1 }
            i += 1
          }
          n += 1
        }
      }
      Iterator.single((n, sum, gram))
    }.collect().filter(_._1 > 0).reduceOption { (a, b) =>
      require(a._2.length == b._2.length, "embedding dimensions differ across partitions")
      (a._1 + b._1, a._2.lazyZip(b._2).map(_ + _), a._3.lazyZip(b._3).map(_ + _))
    }.getOrElse(throw new IllegalArgumentException("no vectors to train on"))

  /** Top-`k` principal components and the corpus std along each, from one
    * [[moments]] job: the sample covariance (Σxxᵀ − n·μμᵀ)/(n − 1) is
    * eigendecomposed on the driver, components in descending eigenvalue
    * order, each signed so its largest-|loading| entry is positive (the
    * lowest index wins a tie). std = √eigenvalue: std is shift-invariant,
    * so it is also the std of the uncentered projection. The basis is
    * flat, [i·d + j] for component i.
    */
  def pca(frame: DataFrame, k: Int): (Array[Double], Array[Double]) = {
    val (n, sum, gram) = moments(frame)
    val d = sum.length
    require(n > 1 && k <= d, s"PCA of $n vectors of dimension $d into $k components")
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      cov(i)(j) = (gram(i * d + j) - sum(i) * sum(j) / n) / (n - 1)
      cov(j)(i) = cov(i)(j)
    }
    val eig = new EigenDecomposition(new Array2DRowRealMatrix(cov, false))
    val lambda = eig.getRealEigenvalues
    val top = lambda.indices.sortBy(e => (-lambda(e), e)).take(k)
    val basis = top.toArray.flatMap { e =>
      val v = eig.getEigenvector(e).toArray
      val sign = math.signum(v(v.indices.maxBy(j => math.abs(v(j)))))
      v.map(_ * sign)
    }
    (basis, top.map(e => math.sqrt(math.max(lambda(e), 0.0))).toArray)
  }
}
