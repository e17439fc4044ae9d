package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Artifacts, Tables}
import graft.functions.{GraftFunctions, TextHashes}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Scale shape: the query set is small and BROADCAST; the corpus is scanned
  * linearly, partition-local, with per-partition top-k before the final
  * (tiny) shuffle on qid. No corpus-side self-shuffle — at 100 TB the scan
  * is embarrassingly parallel. The LSH variant prunes the scan to matching
  * buckets first.
  */
object Similarity {

  val DefaultK = 5
  val NQueries = 8 // queries = vec_id < 8

  /** #38 Brute-force cosine top-k per query vector — the exact baseline. */
  def annCosineTopK(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    e.select(col("vec_id").as("nid"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** #403 `ann_range_search` — radius (threshold) retrieval: ALL
    * neighbors with cosine ≥ τ rather than a fixed k — the retrieval
    * mode dedup sweeps and recall-sensitive RAG filters want when match
    * QUALITY gates inclusion, not a context budget (top-k pads weak
    * matches in sparse regions and truncates dense ones; radius does
    * neither). Same broadcast-queries × one-pass scan as the brute top-k
    * baseline; per-match rows carry the query's total match count so
    * downstream capping is explicit. τ defaults to 0.25 — above this
    * corpus's P99 background similarity, so matches mean something at
    * every SF.
    */
  def annRangeSearch(spark: SparkSession, dir: String,
      tau: Double = 0.25): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    e.select(col("vec_id").as("nid"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .filter(col("cos") >= tau)
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("qid")))
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"),
        col("n_matches"))
  }

  /** Default hyperplane count grows with the corpus so expected bucket
    * size stays ≈[[TargetBucket]]: planes = max(4, ⌈log₂(n/target)⌉).
    * Fixed planes would make buckets grow LINEARLY with the corpus and
    * the bucket self-join quadratically — the scale knob has to move
    * with n. At every test SF (≤2000 vectors) this resolves to 4, so all
    * graph-family oracle results are unchanged; at 10× it picks 7
    * (128 buckets, ~150/bucket).
    */
  private val TargetBucket = 250

  private[graft] def autoPlanes(n: Long): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / TargetBucket))
      / math.log(2.0)).toInt)

  /** Approximate k-NN GRAPH over the whole corpus — every vector's top-k
    * neighbours, the substrate graph-based curation builds on (SemDeDup
    * clusters it, connected-components dedup walks it, label-propagation
    * audits diffuse over it). All-pairs is O(n²) and dead at corpus
    * scale; here candidate edges come from multi-table hyperplane-LSH
    * blocking (same machinery as the near-dup path): each vector lands in
    * `tables` buckets, bucket equi-joins carry ONLY id pairs, exact
    * cosine scores just the candidates after an id join, and per-node
    * top-k runs through the two-phase TopKPerGroupExec. Fewer planes →
    * bigger buckets → higher recall at more candidate work: planes
    * trades compute for recall explicitly.
    */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 5,
      planes: Int = -1, tables: Int = 8): DataFrame = {
    // the graph is the shared substrate of four audits (adjacency query,
    // PageRank, LPA communities, LOF) — build it once per corpus snapshot
    // + hyperparameters; eager localCheckpoint materializes node-sized
    // blocks and truncates the LSH-join lineage for every reuse
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val p = if (planes > 0) planes else autoPlanes(corpusCount(dir, e))
    Artifacts.memo(dir, "knn-graph", k, p, tables) { a =>
      val local = knnLocalFor(dir, e, k, p, tables)
      // same undirected pair from several shared buckets carries an
      // identical score (same kernel, same inputs) — one row survives
      val deduped = local.groupBy("src", "dst").agg(max("cos").as("cos"))
      a.frame(graft.plans.TopK.topKPerGroup(deduped, Seq("src"),
        Seq(("cos", true), ("dst", false)), k)
        .select(col("src"), col("dst"), round(col("cos"), 4).as("cos"), col("rnk"))
        .localCheckpoint(eager = true))
    }
  }

  private def corpusCount(dir: String, e: DataFrame): Long =
    Artifacts.memo(dir, "embeddings-count")(_ => e.count())

  // spreadScan / tableBytes (the scale-adaptive parallelism floor for
  // heavy map-side stages over few-split scans) live in [[graft.Tables]]
  // — shared across operator families.
  private def spreadScan(df: DataFrame, scanBytes: Long,
      keys: org.apache.spark.sql.Column*): DataFrame =
    Tables.spreadScan(df, scanBytes, keys: _*)
  private def tableBytes(dir: String, name: String): Long =
    Tables.tableBytes(dir, name)

  // bucket-local top-k edges per corpus snapshot — the expensive stage
  // (banding + in-group all-pairs scoring) shared between the graph
  // builder and the funnel accounting row, which round 9's widened sf10
  // sweep flagged as the worst growth ratio precisely because it re-ran
  // this stage. Edge-sized (n·tables·k rows), so the checkpoint is cheap
  // to hold; the banded frame (which carries embeddings) is NOT memoized.
  private def knnLocalFor(dir: String, e: DataFrame,
      k: Int, p: Int, tables: Int): DataFrame =
    Artifacts.memo(dir, "knn-local", k, p, tables)(a => a.frame(
      knnLocalEdges(knnBanded(e, p, tables), k).localCheckpoint(eager = true)))

  /** [[knnGraph]] over any (vec_id, embedding) frame.
    *
    * Scale shape (rewritten after the sf10 sweep caught the old one): the
    * first version materialized the bucket self-join as an id-pair list
    * and then JOINED both embedding columns back onto every candidate
    * pair — at 200K vectors that is ~155M pairs × 2 × 256-byte vectors
    * through a sort-merge join (the embedding side outgrows the broadcast
    * threshold), measured as a 31 GB sort spill that never finished.
    * Pairing and scoring now happen INSIDE each (table, bucket) group:
    * every vector ships once per table (n×tables rows, linear in the
    * corpus), the all-pairs cosine runs over the ≤cap member array in
    * memory, and only each member's k best (cos desc, dst asc — the
    * same order the global stage uses, so local pruning cannot change
    * the global top-k: a global top-k edge is top-k in every bucket
    * containing both ends) leave the group. The global stage then sees
    * ≤ n×tables×k edges instead of all candidate pairs.
    */
  def knnGraphFrom(input: DataFrame, k: Int = 5,
      planes: Int = 4, tables: Int = 8): DataFrame = {
    val e = input.select(col("vec_id"), col("embedding"))
    val banded = knnBanded(e, planes, tables)
    val localEdges = knnLocalEdges(banded, k)
    // same undirected pair from several shared buckets carries an
    // identical score (same kernel, same inputs) — one row survives
    val deduped = localEdges.groupBy("src", "dst").agg(max("cos").as("cos"))
    graft.plans.TopK.topKPerGroup(deduped, Seq("src"),
      Seq(("cos", true), ("dst", false)), k)
      .select(col("src"), col("dst"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Banding stage of the k-NN graph: (vec_id, embedding, tbl, bucket).
    * Hot buckets sampled to a cap before pairing: one degenerate bucket
    * (e.g. a mass of near-zero vectors all hashing alike) must not turn
    * a task quadratic — Dedup.capBuckets is the shared guard. The cap is
    * higher than the text default because planes=4 means only 2^planes
    * buckets per table and healthy buckets are deliberately big (recall
    * knob); a 4000-member group is ~1 MB of floats and 8M local cosines,
    * a bounded task. A capped bucket degrades recall gracefully (sampled
    * neighbours), never correctness of the top-k contract.
    */
  private def knnBanded(e: DataFrame, planes: Int, tables: Int): DataFrame =
    Dedup.capBucketsReplayable(e.select(col("vec_id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          GraftFunctions.hyperplaneBucket(col("embedding"), planes, t).as("bucket"))): _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket")),
      Seq("tbl", "bucket"), "vec_id", cap = 4000)

  /** Bucket-local scoring stage: per-bucket all-pairs cosine, each score
    * pushed into BOTH endpoints' k-heaps — worst-kept at the heap head
    * under the exact global order (cos desc, dst asc), so what survives
    * per member is exactly its bucket-local top-k.
    */
  private def knnLocalEdges(banded: DataFrame, k: Int): DataFrame = {
    val sess = banded.sparkSession
    import sess.implicits._
    val members = banded
      .select(col("tbl").cast("int"), col("bucket"), col("vec_id"), col("embedding"))
      .as[(Int, Int, Long, Array[Float])]
    members.groupByKey(m => (m._1, m._2))
      .flatMapGroups[(Long, Long, Double)] {
        (_: (Int, Int), it: Iterator[(Int, Int, Long, Array[Float])]) =>
        val arr = it.toArray
        val n = arr.length
        type Edge = (Long, Long, Double) // (src, dst, cos)
        val worstFirst: Ordering[Edge] = (a: Edge, b: Edge) => {
          val c = java.lang.Double.compare(b._3, a._3) // smaller cos = worse
          if (c != 0) c else java.lang.Long.compare(a._2, b._2) // larger dst = worse
        }
        val heaps = Array.fill(n)(new scala.collection.mutable.PriorityQueue[Edge]()(worstFirst))
        def offer(h: scala.collection.mutable.PriorityQueue[Edge], e: Edge): Unit = {
          if (h.size < k) h.enqueue(e)
          else if (worstFirst.compare(e, h.head) < 0) { h.dequeue(); h.enqueue(e) }
        }
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val c = graft.functions.TextHashes.cosineF(arr(i)._4, arr(j)._4)
            offer(heaps(i), (arr(i)._3, arr(j)._3, c))
            offer(heaps(j), (arr(j)._3, arr(i)._3, c))
            j += 1
          }
          i += 1
        }
        heaps.iterator.flatMap(_.iterator)
      }.toDF("src", "dst", "cos")
  }

  /** #416 k-NN-graph funnel accounting — the banding twin of
    * `dedup_lsh_accounting` for the graph substrate, added the round the
    * sf10 sweep caught the pair-materializing builder: ONE row auditing
    * vectors in → banded rows after the bucket cap → bucket census (count,
    * max, raw within-bucket pair slots — the ALL-PAIRS work a join-based
    * builder would have materialized) → local top-k edges out of the
    * bucket groups → deduped candidate edges → final graph edges, plus
    * the two ratios capacity planning reads: pair slots per vector ×10⁴
    * (what the buckets cost) and local-keep ×10⁴ (how much the in-group
    * top-k prunes before anything shuffles). Everything here is linear in
    * the corpus — the census aggregates the banded frame, never the
    * pairs. DuckDB replays the same funnel (hyperplane LCG weight table,
    * per-bucket top-k by (cos desc, dst)) so the row is hash-gated.
    */
  def knnGraphAccounting(spark: SparkSession, dir: String): DataFrame = {
    // fixed k=5 / tables=8 / autoPlanes — the DuckDB oracle replays
    // exactly this configuration (rn <= 5, 8-table banding); parameters
    // here would silently diverge from the pinned SQL, so there are none
    val (k, tables) = (5, 8)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val p = autoPlanes(corpusCount(dir, e))
    // the census re-runs only the (cheap) banding; the all-pairs scoring
    // stage is the SHARED memoized local-edge frame — when the graph
    // substrate is already built this row pays one banding pass + four
    // edge-sized aggregates, not a second scoring pass
    val banded = knnBanded(e, p, tables)
    val census = banded.groupBy("tbl", "bucket").agg(count(lit(1)).as("m"))
    val local = knnLocalFor(dir, e, k, p, tables)
    val cand = local.select("src", "dst").distinct()
    val g = knnGraph(spark, dir, k)
    e.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(census.agg(
        sum("m").as("n_banded"), count(lit(1)).as("n_buckets"),
        max("m").as("max_bucket"),
        sum(expr("m * (m - 1) DIV 2")).as("n_pair_slots"))))
      .crossJoin(broadcast(local.agg(count(lit(1)).as("n_local_edges"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidate_edges"))))
      .crossJoin(broadcast(g.agg(count(lit(1)).as("n_final_edges"))))
      .selectExpr("n_vectors", "n_banded", "n_buckets", "max_bucket",
        "n_pair_slots", "n_local_edges", "n_candidate_edges", "n_final_edges",
        "CASE WHEN n_vectors > 0 THEN n_pair_slots * 10000 DIV n_vectors END AS slots_per_vector_e4",
        "CASE WHEN n_pair_slots > 0 THEN n_local_edges * 10000 DIV n_pair_slots END AS local_keep_e4")
  }

  /** Local Outlier Factor (Breunig et al., SIGMOD'00) over a k-NN
    * adjacency — the embedding-corpus outlier audit: LOF ≈ 1 means a
    * point sits at its neighbours' density, LOF ≫ 1 flags isolated or
    * off-manifold vectors (broken encoders, mislabeled shards, junk
    * inputs) that cosine-threshold audits miss because they look at
    * absolute similarity, not RELATIVE density. Distance is 1 − cosine.
    *
    * Pure edge-list algebra over the graph — three id-keyed joins and
    * three aggregates, each bounded by k rows per node, so it scales
    * exactly as far as the graph does ([[knnGraph]]'s LSH blocking).
    */
  def lofFrom(graph: DataFrame): DataFrame = {
    val edges = graph.select(col("src"), col("dst"),
      (lit(1.0) - col("cos")).as("d"))
    // k-distance of every node = the distance to its k-th kept neighbour
    // (max over its out-edges)
    val kdist = edges.groupBy(col("src").as("dst")).agg(max(col("d")).as("kd"))
    // local reachability density: 1 / mean reach-dist to neighbours; a
    // neighbour the blocking gave no out-edges falls back to the observed
    // distance (left join keeps the edge instead of dropping the node)
    val reach = edges
      .join(kdist, Seq("dst"), "left")
      .withColumn("reach_d", greatest(coalesce(col("kd"), col("d")), col("d")))
    val lrd = reach.groupBy("src")
      .agg((lit(1.0) / avg(col("reach_d"))).as("lrd"))
    // LOF = mean neighbour lrd / own lrd
    edges.select("src", "dst")
      .join(lrd.withColumnRenamed("src", "dst").withColumnRenamed("lrd", "lrd_n"), "dst")
      .groupBy("src").agg(avg(col("lrd_n")).as("mean_lrd_n"), count(lit(1)).as("n_neighbors"))
      .join(lrd, "src")
      .select(col("src").as("vec_id"),
        round(col("mean_lrd_n") / col("lrd"), 4).as("lof"),
        col("n_neighbors"))
  }

  /** Driver entry: LOF over the LSH-blocked corpus k-NN graph. */
  def embLof(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    lofFrom(knnGraph(spark, dir, k))

  /** #198 Hard-negative mining for contrastive training: per query, the
    * top-k most-similar corpus vectors carrying a DIFFERENT label — the
    * "looks right, is wrong" examples metric-learning losses weight
    * hardest. Identical scale shape to [[annCosineTopK]] (broadcast query
    * batch × one corpus scan, partial top-k before the shuffle); the label
    * predicate folds into the scan, so mining costs the same as plain ANN.
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    e.select(col("vec_id").as("nid"), col("embedding"), col("label"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid") && col("label") =!= col("qlabel"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("label").cast("long").as("neg_label"),
        round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** #199 kNN label-consistency — the standard embedding-quality audit:
    * for a deterministic FIXED-SIZE query sample, what fraction of each
    * query's k exact nearest neighbours shares its label, averaged per
    * label (×10⁴ fixed-point). A collapsed or poorly-trained embedding
    * scores near the label prior; a good one scores high.
    *
    * Sample contract: md5-rank over vec_id, LIMIT [[KnnAuditQueries]] —
    * the [[sampleLloyd]] idiom. The previous `vec_id % 10` sample was
    * CORPUS-PROPORTIONAL (10% of n broadcast against n → n²/10, measured
    * 4.72× wall at 10× data); a fixed cap makes the audit LINEAR in the
    * corpus (cap × n cosines, one TakeOrderedAndProject to pick the
    * sample — per-partition top-k, no global sort shuffle) and the
    * estimate's precision is set by the sample size, not the corpus, so
    * nothing is lost statistically. Replayable: DuckDB computes the same
    * md5 ranks, so the oracle hash-matches. At 100 TB the same audit can
    * ride the IVF-PQ index instead of the exact sample×corpus scan.
    */
  private[graft] val KnnAuditQueries = 1024

  def embKnnConsistency(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e
      .withColumn("rk", md5(concat(lit("knnq:"), col("vec_id"))))
      .orderBy(col("rk"), col("vec_id")).limit(KnnAuditQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    // spreadScan: the cap×corpus scoring below is a pure map stage whose
    // parallelism equals the scan's split count — one split locally, so
    // 51M cosine rows would serialize onto one task (no-op at scale)
    val scored = spreadScan(
        e.select(col("vec_id").as("nid"), col("embedding"), col("label")),
        tableBytes(dir, "embeddings"), col("nid"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      // PRUNE the two 64-float arrays before the rank: the top-k operator
      // then moves 5-column skinny rows only
      .select(col("qid"), col("qlabel"), col("nid"), col("label"), col("cos"))
    // heap-based TopKPerGroup instead of a window: the window shape (even
    // with WindowGroupLimit) SORTS every partition's cap×corpus candidate
    // rows before limiting — measured 3.4 s at sf0.1; the custom operator
    // keeps a k-entry heap per qid map-side (O(rows·log k), no sort) and
    // shuffles only ≤ cap×k×partitions survivors. Same total order
    // (cos desc, nid asc), bit-identical result.
    graft.plans.TopK.topKPerGroup(scored, Seq("qid"),
        Seq(("cos", true), ("nid", false)), k)
      .groupBy("qid", "qlabel")
      .agg(sum(when(col("label") === col("qlabel"), 1L).otherwise(0L)).as("n_match"))
      .groupBy(col("qlabel").cast("long").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        expr(s"sum(n_match) * 10000 DIV (count(1) * $k)").as("consistency_e4"))
  }

  /** #64 Supplier-assortment similarity via the MinHashAgg sketch
    * aggregate: each supplier's set of shipped part keys collapses to a
    * k=64 signature (map-side partial agg, O(k) state), then pairwise
    * estimated Jaccard — no set join ever materializes.
    */
  def supplierAssortmentSim(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import graft.functions.MinHashAgg
    // 32 bands × 2 slots: per-band collision ≈ j², so moderately similar
    // assortments (j ≈ 0.1-0.3) still surface while the candidate count
    // stays ~j²·32 per pair instead of all-pairs
    val bands = 32; val rows = k / bands
    val sigs = Tables.lineitem(spark, dir)
      .groupBy("l_suppkey")
      .agg(MinHashAgg.minhashAgg(col("l_partkey"), k).as("sig"))
    // band the signatures so only likely-similar suppliers pair up — an
    // all-pairs crossJoin over entities is quadratic and dies at scale
    // band key = the raw slice rendered as text, not a hash of it: the
    // collision semantics are identical (equal hash ⟺ equal slice modulo
    // hash collisions) and the textual key is replayable by the DuckDB
    // oracle, which regenerates the SplitMix64 signatures in int128 SQL
    val banded = sigs.select(col("l_suppkey"), col("sig"),
      explode(expr(
        s"transform(sequence(0, ${bands - 1})," +
          s" b -> struct(b AS band, array_join(slice(sig, b * $rows + 1, $rows), ',') AS bh))"))
        .as("bk"))
      .select(col("l_suppkey"), col("sig"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val a = banded.select(col("band"), col("bh"), col("l_suppkey").as("supp_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bh"), col("l_suppkey").as("supp_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bh")).filter(col("supp_a") < col("supp_b"))
      .select("supp_a", "supp_b", "sig_a", "sig_b").distinct()
      .select(col("supp_a"), col("supp_b"),
        MinHashAgg.sigJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** #61 Per-label embedding centroids: distributed element-wise mean via
    * posexplode + (label, pos) aggregation — the shape of any "average the
    * vectors per group" job (class prototypes, cluster refinement). Scales
    * as rows × dim with map-side partial sums; no vectors ever collect.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(sum(col("v").cast("double")) / count(lit(1)), 4).as("centroid_v"),
        count(lit(1)).as("n"))
      .withColumn("pos", col("pos") + 1) // 1-based, matching SQL subscripts

  /** #305 IVF tuning curve — recall@k vs nProbe, the measurement that
    * actually sets the probe budget in production (guessing nProbe is
    * how vector search ships either 60% recall or 10× the needed scan):
    * ONE k-means train + ONE cluster assignment (the expensive parts),
    * then each candidate probe depth re-ranks the same broadcast
    * query×centroid frame and scans only its probed cells. Recall is
    * exact-integer: |IVF top-k ∩ brute top-k| · 10⁶ DIV (k·queries),
    * with the brute baseline computed once from the same frame. Output
    * one row per probe depth — mean recall, candidate rows scanned (the
    * cost axis), so the caller reads the knee straight off the frame.
    */
  /** Deterministic spherical k-means on an md5-ranked sample, solved
    * driver-side (sample ≤ 1024 × dim doubles — centroid geometry
    * converges on a sample; only the one-pass assignment ever touches the
    * corpus). Deliberately NOT spark.ml: a bounded Lloyd loop needs no ML
    * runtime. The `salt` decorrelates different consumers' samples.
    */
  private[graft] def sampleLloyd(e: DataFrame, nClusters: Int,
      salt: String, iters: Int = 5): Array[Array[Double]] = {
    val sample = e
      .withColumn("rk", md5(concat(lit(salt), col("vec_id"))))
      .orderBy(col("rk"), col("vec_id")).limit(1024)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n < 1e-12) v else v.map(_ / n)
    }
    val pts = sample.map(a => normalize(a.map(_.toDouble)))
    var cents = pts.take(nClusters).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(nClusters)(new Array[Double](cents(0).length))
      val cnts = new Array[Long](nClusters)
      pts.foreach { p =>
        var best = 0; var bd = Double.NegativeInfinity
        var c = 0
        while (c < nClusters) {
          var dot = 0.0; var i = 0
          while (i < p.length) { dot += p(i) * cents(c)(i); i += 1 }
          if (dot > bd) { bd = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        cnts(best) += 1
      }
      cents = cents.indices.map(c =>
        if (cnts(c) == 0) cents(c) else normalize(sums(c))).toArray
    }
    cents
  }

  def annIvfTuning(spark: SparkSession, dir: String, k: Int = DefaultK,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16), nClusters: Int = 16): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = sampleLloyd(e, nClusters, "ivftune_")
    val centroids: Seq[(Int, Array[Float])] =
      cents.map(_.map(_.toFloat)).zipWithIndex.map(_.swap).toSeq
    val cdf = spark.createDataFrame(centroids).toDF("cluster", "centroid")
    // Round 10: corpus assignment through [[assignRowLocal]] — the
    // zero-shuffle codegen'd argmax the index lifecycle already uses —
    // instead of the crossJoin+window shape (nClusters× row
    // amplification plus a corpus exchange per the before-plan,
    // plans/r10/ann_ivf_tuning_before.txt). Identical assignments for
    // every realizable input: same cosine inputs, same lowest-cluster
    // tie rule; the one divergence (a single NaN-bearing centroid among
    // real cosines — unreachable from sampleLloyd means) picks a
    // strictly better cluster (see the assignRowLocal scaladoc).
    val assigned = assignRowLocal(
        e.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val wProbe = Window.partitionBy("qid").orderBy(col("csim").desc, col("cluster"))
    val probed = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cdf))
      .withColumn("csim", GraftFunctions.cosineSim(col("qe"), col("centroid")))
      .withColumn("prnk", row_number().over(wProbe))
      .select(col("qid"), col("qe"), col("cluster"), col("prnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val brute = annCosineTopK(assigned.sparkSession, dir, k)
      .select(col("qid"), col("nid")).withColumn("in_brute", lit(1L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val perProbe = probes.map { np =>
      val q = probed.filter(col("prnk") <= np)
      val scanned = assigned.select(col("vec_id").as("nid"), col("embedding"),
          col("cluster"))
        .join(broadcast(q), Seq("cluster"))
        .filter(col("nid") =!= col("qid"))
      val topk = scanned
        .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
      val nCand = scanned.groupBy().agg(count(lit(1)).as("n_scanned"))
      // brute is k·queries rows — broadcast it so the recall join never
      // plans as a sort-merge over the probe side (5 SMJs in the
      // before-plan, one per probe depth)
      topk.join(broadcast(brute), Seq("qid", "nid"), "left")
        .agg(count(lit(1)).as("n_returned"),
          sum(coalesce(col("in_brute"), lit(0L))).as("n_hit"),
          countDistinct(col("qid")).as("n_queries"))
        .crossJoin(nCand)
        .select(lit(np).as("n_probe"), col("n_queries"), col("n_returned"),
          col("n_hit"), col("n_scanned"),
          expr(s"n_hit * 1000000 DIV (n_queries * $k)").as("recall_ppm"))
    }
    perProbe.reduce(_.unionByName(_))
  }

  /** Row-local cluster assignment against a DRIVER-HELD centroid set
    * (bounded: nClusters × dim floats): the centroids ride into the plan
    * as ONE array-of-arrays literal and the argmax folds inside a
    * codegen'd `aggregate` lambda — assignment costs ZERO shuffles at any
    * corpus size, unlike the crossJoin+window shape (nClusters× row
    * amplification plus a corpus exchange). Ties keep the lowest cluster
    * id, matching the window shape's `orderBy(csim.desc, cluster)`.
    * Degenerate vectors (zero-norm / NaN components) produce NaN cosine,
    * which fails EVERY `>` comparison — left alone they would keep the
    * init cluster −1 and land in a postings partition no search ever
    * probes (silently vanishing from the index). NaN is therefore
    * coalesced to −1.0 (below any real cosine, above the −2.0 init), so
    * a row whose EVERY cosine is NaN deterministically joins cluster 0 —
    * still searchable, the same cluster the window shape picks (NaN
    * sorts first under desc). The rules diverge only when an individual
    * CENTROID yields NaN against a row with other real cosines: the
    * window's desc sort would pick that NaN cluster, while this argmax
    * lets the best real cluster win — strictly better, and unreachable
    * for centroids produced by [[sampleLloyd]] (means of finite unit
    * vectors).
    */
  private[graft] def assignRowLocal(df: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val cl = typedLit(cents.map(_.map(_.toFloat)).toSeq)
    val init = struct(lit(-2.0).as("best"), lit(-1).as("cl"))
    df.withColumn("cluster",
      aggregate(sequence(lit(0), lit(cents.length - 1)), init,
        (acc, i) => {
          val c = nanvl(GraftFunctions.cosineSim(col("embedding"),
            element_at(cl, i + lit(1))), lit(-1.0))
          when(c > acc.getField("best"),
            struct(c.as("best"), i.cast("int").as("cl"))).otherwise(acc)
        }).getField("cl"))
  }

  /** #411 `ann_index_lifecycle` — the persisted IVF index LIFECYCLE, the
    * ANN analog of [[graft.operators.Dedup.buildDedupIndex]]'s standing
    * band index (and the 100 TB operating shape: the index is a TABLE
    * maintained across crawls, not a per-query recomputation):
    *
    *  - [[buildIvfIndex]] trains centroids once ([[sampleLloyd]] on a
    *    deterministic ≤1024-vector sample) and writes two parquet
    *    artifacts — `centroids` (nClusters rows) and `postings`, the
    *    corpus CLUSTER-PARTITIONED on disk (`partitionBy("cluster")`), so
    *    probe-time pruning is directory-level, before any IO;
    *  - [[ivfIndexAdd]] assigns a DELTA against the frozen centroids
    *    (work = O(delta), the corpus is never re-read) and appends its
    *    postings — new files land inside the existing cluster
    *    directories, an append-only commit like the dedup index's;
    *  - [[ivfIndexSearch]] ranks each query's nProbe nearest centroids
    *    (broadcast, bounded), collects the probed-cluster UNION (≤
    *    nClusters ints — the one driver touch, scaladoc-bounded) into a
    *    LITERAL predicate so the postings scan's `PartitionFilters`
    *    drops unprobed directories, then broadcast-joins the per-query
    *    probe sets and top-ks.
    *
    * Assignment everywhere is [[assignRowLocal]] — zero shuffles; the
    * build's only exchange is the partitioned write. ScaleSpec pins:
    * incremental add ≡ bulk assignment (same files-on-disk semantics),
    * recall floor vs brute force, the partition-pruned scan, and the
    * zero-shuffle assignment plan. Reference: composes the reference's
    * persisted-artifact lifecycle (table_manager generations) with the
    * ANN family; no native analog.
    */
  def buildIvfIndex(spark: SparkSession, e: DataFrame, idxDir: String,
      nClusters: Int = 16): Unit = {
    val cents = sampleLloyd(e, nClusters, "ivfidx_")
    spark.createDataFrame(
        cents.map(_.map(_.toFloat)).zipWithIndex.map(_.swap).toSeq)
      .toDF("cluster", "centroid")
      .write.mode("overwrite").parquet(s"$idxDir/centroids")
    assignRowLocal(e, cents)
      .write.partitionBy("cluster").mode("overwrite")
      .parquet(s"$idxDir/postings")
  }

  /** Delta add against the frozen centroid set — see [[buildIvfIndex]]. */
  def ivfIndexAdd(spark: SparkSession, delta: DataFrame,
      idxDir: String): Unit = {
    val cents = spark.read.parquet(s"$idxDir/centroids")
      .orderBy("cluster").collect() // bounded: nClusters rows
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    assignRowLocal(delta, cents)
      .write.partitionBy("cluster").mode("append")
      .parquet(s"$idxDir/postings")
  }

  /** Probe the persisted index — see [[buildIvfIndex]]. `queries` must
    * carry (vec_id, embedding).
    */
  def ivfIndexSearch(spark: SparkSession, idxDir: String,
      queries: DataFrame, k: Int = DefaultK, nProbe: Int = 4): DataFrame = {
    // .limit(1024) states the index format's size contract IN THE PLAN
    // ([[sampleLloyd]] trains from a ≤1024 sample, so nClusters ≤ 1024):
    // the centroid broadcast is provably bounded, which the join-safety
    // sweep (PlanAudit.joinSafety) verifies for every registered query
    val cdf = spark.read.parquet(s"$idxDir/centroids").limit(1024)
    val wProbe = Window.partitionBy("qid").orderBy(col("csim").desc, col("cluster"))
    val probed = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cdf))
      .withColumn("csim", GraftFunctions.cosineSim(col("qe"), col("centroid")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select("qid", "qe", "cluster")
    // probed-cluster union ≤ nClusters ints: collected into a LITERAL
    // predicate so the postings scan partition-prunes (PartitionFilters),
    // which a join-side predicate cannot do
    val probedClusters = probed.select("cluster").distinct()
      .collect().map(_.getInt(0))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    spark.read.parquet(s"$idxDir/postings")
      .filter(col("cluster").isin(probedClusters.map(Int.box): _*))
      .select(col("vec_id").as("nid"), col("embedding"), col("cluster"))
      .join(broadcast(probed), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Registered #411 demo: build on the even half of the corpus, add the
    * odd half as a delta (the crawl-over-crawl shape), search the standard
    * query set through the persisted artifact. Memoized per corpus
    * snapshot like the other standing artifacts.
    */
  def annIndexLifecycle(spark: SparkSession, dir: String, k: Int = DefaultK,
      nClusters: Int = 16, nProbe: Int = 4): DataFrame = {
    val idxDir = Artifacts.memo(dir, "ivf-index", nClusters) { a =>
      val p = a.root()
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      buildIvfIndex(spark, e.filter(col("vec_id") % 2 === 0), p, nClusters)
      ivfIndexAdd(spark, e.filter(col("vec_id") % 2 =!= 0), p)
      p
    }
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NQueries).select("vec_id", "embedding")
    ivfIndexSearch(spark, idxDir, queries, k, nProbe)
  }

  /** #104 Int8 scalar quantization of the embedding column — the 4×
    * storage/bandwidth cut that makes a 100 TB vector corpus scannable.
    * Per-vector max-abs scale (symmetric), codegen'd array lambdas, no
    * UDFs; reconstruction error is bounded by scale/2 per component
    * (asserted in ScaleSpec). The registered query reports per-vector
    * scale + max reconstruction error + a digest of the quantized codes.
    */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("max_abs",
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"))
      .withColumn("scale", expr("greatest(max_abs, 1e-12) / 127.0"))
      .withColumn("q", expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT))"))
      .withColumn("max_err", expr(
        "aggregate(zip_with(embedding, q, (x, qi) -> abs(CAST(x AS DOUBLE) - qi * scale))," +
          " CAST(0.0 AS DOUBLE), (m, e) -> greatest(m, e))"))

  /** Quantized brute-force top-k: the corpus scan runs on int8 codes
    * (dot products de-scaled per vector) — recall vs the full-precision
    * scan is the ScaleSpec bound. Queries stay full-precision.
    */
  def annQuantizedTopK(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame = {
    // norms hoisted OUT of the pair loop: the neighbor norm is a per-vector
    // column of the quantized corpus, the query norm a column of the tiny
    // broadcast frame — the crossJoin computes one dot product per pair,
    // not three array traversals
    val e = quantizeEmbeddings(spark, dir)
      .select(col("vec_id").as("nid"), col("q"), col("scale"))
      .withColumn("nq", expr(
        "sqrt(aggregate(q, CAST(0.0 AS DOUBLE), (a, qi) -> a + CAST(qi AS DOUBLE) * qi * scale * scale))"))
    val qs = Tables.embeddings(spark, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("nqe", expr(
        "sqrt(aggregate(qe, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * x))"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    e.crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      // cosine over de-quantized neighbor: dot accumulated in double
      .withColumn("dot", expr(
        "aggregate(zip_with(qe, q, (x, qi) -> CAST(x AS DOUBLE) * qi * scale), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"))
      .withColumn("cos", expr("CASE WHEN nq = 0.0 OR nqe = 0.0 THEN 0.0 ELSE dot / (nq * nqe) END"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** #358 Binary (sign-bit) quantization ANN — the THIRD point on the
    * quantization curve (fp32 → int8 [[quantizeEmbeddings]] → 1 bit):
    * each embedding's sign bits pack into two 32-bit words, the coarse
    * scan ranks by Hamming distance (xor + popcount — 32× smaller than
    * int8, the scan is POPCNT-bound, Hamming ≈ angle for centered data),
    * and exact cosine reranks the per-query pool. At 100 TB the 1-bit
    * sketch (dim/8 bytes/vector) fits in memory where even int8 can't;
    * the rerank touches pool·queries full vectors only. Charikar
    * (STOC'02) sign-random-projection without the projection: the basis
    * is the identity, which keeps the packing a row-local codegen'd
    * fold both engines replay bit-exactly (integer words, integer
    * Hamming, integer-keyed coarse order).
    */
  def annBinaryTopK(spark: SparkSession, dir: String, k: Int = DefaultK,
      pool: Int = 20): DataFrame = {
    def word(w: Int): String =
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) ->
         |  acc + CASE WHEN element_at(embedding, ${w * 32} + j + 1) > 0
         |             THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    val packed = Tables.embeddings(spark, dir)
      .withColumn("b0", expr(word(0)))
      .withColumn("b1", expr(word(1)))
    val corpus = packed.select(col("vec_id").as("nid"), col("embedding"),
      col("b0").as("c0"), col("b1").as("c1"))
    val qs = packed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("b0").as("q0"), col("b1").as("q1"))
    val wh = Window.partitionBy("qid").orderBy(col("hamming"), col("nid"))
    val coarse = corpus.crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("hamming", expr("bit_count(c0 ^ q0) + bit_count(c1 ^ q1)"))
      .withColumn("hrnk", row_number().over(wh))
      .filter(col("hrnk") <= pool)
    val wc = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    coarse
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(wc))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("hamming"),
        round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Two-stage retrieve-then-rerank ANN — the production 100 TB shape: the
    * cheap int8 scan over-fetches `cand` coarse candidates per query (4×k
    * here), then ONLY those rows come back at full precision for an exact
    * cosine re-rank to the final k. The expensive arithmetic runs on
    * `queries × cand` rows instead of `queries × corpus`; the candidate
    * frame is tiny and broadcasts into a semi-join shaped probe of the
    * full-precision table. Quantization error can demote a true neighbor
    * only out of the coarse list, never reorder the final k (ScaleSpec
    * pins recall vs the exact scan above the single-stage quantized scan).
    */
  def annRerankTopK(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame = {
    val cand = 4 * k
    val coarse = annQuantizedTopK(spark, dir, cand).select("qid", "nid")
    val full = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val qs = Tables.embeddings(spark, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    full.join(broadcast(coarse), "nid")
      .join(broadcast(qs), "qid")
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Greedy maximal-marginal-relevance selection over one query's
    * candidate list (already relevance-scored, vectors in hand): pick
    * argmax of λ·rel − (1−λ)·max-sim-to-selected, ties to the smaller id.
    * Pure in-memory function of a BOUNDED candidate set — exposed for the
    * spec and for reuse over any scored frame.
    */
  def mmrSelect(cands: Seq[(Long, Double, Array[Float])], k: Int,
      lambda: Double): Seq[(Long, Double, Double)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val remaining = scala.collection.mutable.ArrayBuffer(cands.sortBy(c => (-c._2, c._1)): _*)
    while (picked.size < k && remaining.nonEmpty) {
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.length) {
        val (id, rel, vec) = remaining(i)
        var maxSim = 0.0
        var j = 0
        while (j < pickedVecs.length) {
          val s = cos(vec, pickedVecs(j))
          if (s > maxSim) maxSim = s
          j += 1
        }
        val score = lambda * rel - (1.0 - lambda) * maxSim
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestScore = score; bestIdx = i; bestId = id
        }
        i += 1
      }
      val (id, rel, vec) = remaining.remove(bestIdx)
      picked += ((id, rel, bestScore))
      pickedVecs += vec
    }
    picked.toSeq
  }

  /** #273 MMR-diversified top-k: the retrieve-then-rerank shape of
    * [[annRerankTopK]] with a diversity objective — over-fetch 4k exact
    * candidates per query (broadcast-scan, per-partition top-k), then the
    * greedy λ·relevance − (1−λ)·redundancy selection runs PER GROUP on
    * the bounded candidate set (mapGroups over ≤ 4k rows — never the
    * corpus). The RAG-retrieval / eval-set-construction dedup step: two
    * near-identical passages can't both occupy the context window.
    */
  def annMmrTopK(spark: SparkSession, dir: String, k: Int = DefaultK,
      lambda: Double = 0.7): DataFrame = {
    val cand = 4 * k
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("rel").desc, col("nid"))
    val cands = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .withColumn("rel", GraftFunctions.cosineSim(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cand)
      .select(col("qid"), col("nid"), col("rel"), col("ne"))
    annMmrFrom(cands, k, lambda)
  }

  /** Group-wise greedy MMR over a (qid, nid, rel, ne) candidate frame. */
  def annMmrFrom(cands: DataFrame, k: Int, lambda: Double): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("qid"), col("nid"), col("rel").cast("double"),
        col("ne").cast("array<float>"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val list = it.map { case (_, nid, rel, ne) => (nid, rel, ne) }.toSeq
        mmrSelect(list, k, lambda).zipWithIndex.map {
          case ((nid, rel, score), i) => (qid, nid,
            math.round(rel * 10000.0) / 10000.0,
            math.round(score * 10000.0) / 10000.0, (i + 1).toLong)
        }
      }
      .toDF("qid", "nid", "rel", "mmr_score", "mmr_rank")
  }

  /** #289 Matryoshka truncation evaluation: brute-force recall@k using
    * only the first dim/f dimensions (f ∈ 1,2,4,8) against the full-dim
    * ground truth — the "can we serve at quarter width" readout behind
    * truncatable-embedding rollouts (shorter prefixes = 4× less scan
    * bandwidth, same index). One scan per fraction (an EVAL audit, not a
    * serving path); each scan is the broadcast-query linear shape of
    * [[annCosineTopK]] with the cosine folded over the slice. recall is
    * exact integer e4 per fraction.
    */
  def matryoshkaEval(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // Round 10 (guide §1.2 / §2.4): the old shape ran topkAt(frac) as an
    // independent brute-force pass — and re-ran topkAt(1) as the truth
    // side of every fraction — 8 full crossJoin+window scoring passes
    // over the corpus (20 scans / 28 exchanges,
    // plans/r10/emb_matryoshka_eval_before.txt).
    //
    // Round 11, two fixes the r10 verdict demanded and one it surfaced:
    //  1. ONE scoring branch. Round 10's per-frac `filter(frac = f)`
    //     readouts pushed below the window (frac is a partition key, so
    //     the pushdown is legal) and kept 8 distinct scoring subtrees.
    //     No per-frac filter exists anymore: truth membership is a
    //     second window over the SAME ≤ 4·k·queries top-k frame
    //     (max(frac = 1) per (qid, nid) — a pair is ground truth iff it
    //     ranked ≤ k at full width), and the readouts are one
    //     groupBy("frac"). The corpus is scored once at any scale, with
    //     no reliance on AQE exchange reuse.
    //  2. COMPILED scoring (guide §1.2 step 2). The aggregate-over-slice
    //     higher-order functions are interpreted; measured 0.6–1.4 s for
    //     the 4-frac exploded frame at sf0.1 — the whole regression the
    //     one-branch shape exposed. prefixCosines computes all four
    //     prefix cosines in one codegen'd O(dim) pass; a left fold's
    //     partial sum at cut d equals the full fold over the first d
    //     elements, so every double matches the old aggregate(slice(...))
    //     value bit-for-bit (TextHashesSpec pins this).
    // heap-based TopKPerGroup instead of a window: the window shape sorts
    // the whole 4·|corpus|·|queries| scored frame before limiting; the
    // custom operator keeps a k-entry heap per (frac, qid) map-side and
    // shuffles only survivors (same total order — cos desc, nid asc —
    // so the selected rows are bit-identical).
    val fracs = Array(1, 2, 4, 8)
    val scored = spreadScan(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        tableBytes(dir, "embeddings"), col("nid"))
      .crossJoin(broadcast(qs))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        posexplode(GraftFunctions.prefixCosines(col("qe"), col("ne"), fracs))
          .as(Seq("fi", "cos")))
      .withColumn("frac", element_at(lit(fracs), col("fi") + 1))
      .select("frac", "qid", "nid", "cos") // narrow BEFORE the exchange (guide §2.3)
    val topk = graft.plans.TopK.topKPerGroup(scored, Seq("frac", "qid"),
        Seq(("cos", true), ("nid", false)), k)
      .select("frac", "qid", "nid")
    // truth membership without a truth JOIN: over the (frac, qid, nid)
    // top-k frame, a pair is a ground-truth neighbour iff its (qid, nid)
    // group contains frac = 1 — total_hits(f) = |topk[f] ∩ topk[1]|,
    // exactly what the old per-frac semi-joins computed. The frame is
    // ≤ |fracs|·k·queries rows at ANY corpus scale (bounded by audit
    // parameters, not data), so the readout folds in ONE narrow
    // coalesce(1) + mapPartitions — zero exchanges past the top-k
    // shuffle (each exchange is a stage barrier; three of them cost more
    // wall than the whole scoring stage at sf0.1). Same bounded-frame
    // executor-side fold as [[annMmrFrom]], emitting fracs in the 1,2,4,8
    // order the old unionByName chain produced.
    // recall denominator = ALL queries (the standard definition): counting
    // only hit-bearing queries both skews recall upward and divides by
    // zero under ANSI when a fraction scores no hits at all (seen at
    // sf0.1 for the narrowest prefixes)
    import spark.implicits._
    val nq = qs.agg(count(lit(1)).as("n_queries"))
    val hitRows = topk.as[(Int, Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val all = it.toArray
        val truth = scala.collection.mutable.HashSet.empty[(Long, Long)]
        all.foreach { case (f, q, n) => if (f == 1) truth.add((q, n)) }
        val hits = fracs.map(f =>
          f -> all.count { case (g, q, n) => g == f && truth((q, n)) }.toLong)
        hits.iterator
      }
      .toDF("dim_fraction", "total_hits")
    hitRows
      .join(broadcast(nq)) // 4 rows × 1 row
      .select(col("dim_fraction"), col("n_queries"), col("total_hits"),
        expr(s"total_hits * 10000 DIV (n_queries * $k)").as("recall_e4"))
  }

  /** Embedding hygiene audit: per-vector L2 norm (left-to-right double
    * fold — the same evaluation order as the oracle's list_sum, so the
    * rounded value is cross-engine stable), dimensionality, and flags for
    * the degenerate vectors (zero / non-finite) an ingest pipeline must
    * quarantine before cosine math divides by them.
    */
  def embNormStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("sumsq", expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .selectExpr("vec_id", "CAST(size(embedding) AS BIGINT) AS dim",
        "round(sqrt(sumsq), 4) AS l2_norm",
        "(sumsq = 0.0) AS is_zero",
        "(isnan(sumsq) OR sumsq = CAST('Infinity' AS DOUBLE)) AS is_degenerate")

  /** #39 LSH-bucketed ANN: random-hyperplane signatures shrink each query's
    * candidate set to its bucket (8 planes → 256 buckets). Recall traded for
    * a ~256× scan cut; the scale path past brute force. The bucket id is a
    * codegen'd expression (`HyperplaneBucket`), so the assignment pipelines
    * inside the scan's whole-stage codegen.
    */
  def annLshTopK(spark: SparkSession, dir: String, k: Int = DefaultK, planes: Int = 8): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", GraftFunctions.hyperplaneBucket(col("embedding"), planes))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    e.select(col("vec_id").as("nid"), col("embedding"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Product-quantization codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI'11): split the vector into `m`
    * subspaces and k-means each independently — the standard compression
    * step past int8 ([[quantizeEmbeddings]]): 64 float dims → m code
    * bytes (32× here), with table-lookup (ADC) scoring instead of float
    * dot products. Training is [[Train.kmeans]]: a seeded init job, then
    * one Lloyd loop that fits all `m` subspaces together, one
    * shuffle-free job per iteration; at 100 TB you fit on a sample — the
    * codebook is O(m·k·d) floats regardless of corpus size — and only
    * ENCODE touches every row.
    */
  /** Trained PQ codebook, memoized per corpus snapshot + hyperparameters
    * in [[graft.Artifacts]]. Both trainers ([[pqCodebookTrain]],
    * [[trainIvfPq]]) are seeded and deterministic in the corpus, so the
    * artifact is a pure function of the key — the production lifecycle
    * is train ONCE per corpus snapshot, serve every query batch from
    * the same model ([[saveIvfPq]]/[[loadIvfPq]] is the cross-session
    * form of the same thing). Registered audit queries hit these memos
    * so repeated invocations pay encode+scan, not retraining.
    */
  private[graft] def pqCodebook(spark: SparkSession, dir: String,
      m: Int, kCodes: Int, iters: Int = 5): Array[Float] =
    Artifacts.memo(dir, "pq-codebook", m, kCodes, iters)(_ =>
      pqCodebookTrain(spark, dir, m, kCodes, iters))

  /** [[pqCodebook]] without the memo: `iters + 1` jobs. */
  private[graft] def pqCodebookTrain(spark: SparkSession, dir: String,
      m: Int, kCodes: Int, iters: Int): Array[Float] =
    Train.kmeans(Tables.embeddings(spark, dir), m, kCodes, iters)

  // Round 11: the query-side ADC distance tables used to be built by
  // nested transform/zip_with/aggregate lambdas over a typedLit of the
  // nested (m × k × d) codebook — a ~200 KB literal embedded in the plan
  // TEXT, re-walked by analysis/optimization on every pass, evaluated
  // interpreted, and the single biggest reason ann_ivfpq_topk's plan dump
  // was 206 KB and its wall time driver-bound. The table is now the
  // codegen'd [[graft.functions.TextHashes.pqQueryTable]] kernel with
  // the codebook as expression DATA (addReferenceObj, like pqCodes):
  // same accumulation order, bit-identical doubles (RangeSketchSpec /
  // ScaleSpec pin the rows), plan-size back to normal.

  /** #161 PQ-compressed ANN with asymmetric-distance (ADC) scoring.
    *
    * Encode is a pure MAP: each vector's m code bytes are the argmins of
    * its per-subspace distance tables (first-position tie-break —
    * deterministic), computed row-locally against the literal codebook;
    * no shuffle touches the corpus until the final per-query top-k. Each
    * QUERY carries its own m×k distance table (the same expression over
    * its full-precision vector), broadcast with the query set; a corpus
    * row scores as m array lookups (`zip_with` codes × table) — no float
    * multiply per dimension, which is the whole point of PQ at scan time.
    * Ranking is ascending squared-L2 (PQ approximates distance, not
    * cosine). ScaleSpec pins recall against the exact L2 scan.
    */
  def annPqTopK(spark: SparkSession, dir: String, k: Int = DefaultK,
      m: Int = 8, kCodes: Int = 256): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cb = pqCodebook(spark, dir, m, kCodes)
    val d = cb.length / (m * kCodes)
    // each query's flat m·k distance table (lambda math over the literal
    // codebook — fine at query-set size; the CORPUS side never touches it)
    val qtab = GraftFunctions.pqQueryTable(col("embedding"), cb, m, kCodes, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), qtab.as("qtab"))
    val w = Window.partitionBy("qid").orderBy(col("adc_d2").asc, col("nid"))
    e.select(col("vec_id").as("nid"),
        GraftFunctions.pqCodes(col("embedding"), cb, m, kCodes, d).as("codes"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("adc_d2", GraftFunctions.pqAdcScore(col("codes"), col("qtab"), kCodes))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("adc_d2"), 4).as("adc_d2"), col("rnk"))
  }

  /** #162 IVF + PQ — the two scale levers composed, the shape a 100 TB
    * vector corpus actually deploys (FAISS's IVFADC family, minus the
    * residual refinement): a coarse k-means partitions the corpus so each
    * query scans only its `nProbe` nearest cells (k/nProbe scan cut), and
    * within the scanned cells rows score by PQ table lookups instead of
    * float dot products (32× bandwidth cut). Both prunings are
    * independent and multiply. Probe selection is squared-L2 to the
    * coarse centroids — the same metric ADC approximates, so the probe
    * and scan rankings agree. ScaleSpec pins recall vs the exact scan.
    */
  /** Trained IVF-PQ index model: the coarse quantizer's `nClusters`
    * centroids (flat, [cluster·dim + j]) plus the flat product codebook.
    * Production trains ONCE (the codebook is O(m·k·d) floats and the
    * coarse centroids O(nClusters·dim) — driver-sized regardless of corpus
    * scale) and serves every query batch from the same model; the
    * registered audit query retrains per call only so the oracle run is
    * self-contained.
    */
  case class IvfPqModel(coarse: Array[Float], codebook: Array[Float],
      nClusters: Int, m: Int, kCodes: Int, d: Int)

  /** Train the coarse quantizer ([[Train.kmeans]] at m = 1: seeded init +
    * 5 Lloyd rounds, L2) + PQ codebook (seeded, deterministic; memoized
    * per corpus+hyperparameters — see [[pqCodebook]]).
    */
  def trainIvfPq(spark: SparkSession, dir: String, nClusters: Int = 16,
      m: Int = 8, kCodes: Int = 256): IvfPqModel =
    Artifacts.memo(dir, "ivf-pq", nClusters, m, kCodes) { _ =>
      val coarse = Train.kmeans(Tables.embeddings(spark, dir), 1, nClusters, 5)
      val cb = pqCodebook(spark, dir, m, kCodes)
      IvfPqModel(coarse, cb, nClusters, m, kCodes, cb.length / (m * kCodes))
    }

  def annIvfPqTopK(spark: SparkSession, dir: String, k: Int = DefaultK,
      nClusters: Int = 16, nProbe: Int = 4, m: Int = 8,
      kCodes: Int = 256): DataFrame =
    annIvfPqServe(spark, dir, trainIvfPq(spark, dir, nClusters, m, kCodes),
      k, nProbe)

  /** Persist a trained index model as one parquet row under
    * `path/codebook`: the coarse centroids beside the codebook, and the
    * hyperparameters. Serving clusters load the model instead of
    * retraining — the index artifact a 100 TB deployment builds once per
    * corpus snapshot.
    */
  def saveIvfPq(spark: SparkSession, model: IvfPqModel, path: String): Unit = {
    import spark.implicits._
    Seq((model.coarse, model.codebook, model.nClusters, model.m, model.kCodes, model.d))
      .toDF("coarse", "codebook", "n_clusters", "m", "k_codes", "d")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  def loadIvfPq(spark: SparkSession, path: String): IvfPqModel = {
    val r = spark.read.parquet(s"$path/codebook").head()
    IvfPqModel(r.getSeq[Float](r.fieldIndex("coarse")).toArray,
      r.getSeq[Float](r.fieldIndex("codebook")).toArray,
      r.getInt(r.fieldIndex("n_clusters")), r.getInt(r.fieldIndex("m")),
      r.getInt(r.fieldIndex("k_codes")), r.getInt(r.fieldIndex("d")))
  }

  /** Serve a query batch from an already-trained model — only encode and
    * scan work here; nothing retrains. A corpus row's cell is its L2
    * argmin over the coarse centroids (the PqCodes kernel at m = 1).
    */
  def annIvfPqServe(spark: SparkSession, dir: String, model: IvfPqModel,
      k: Int = DefaultK, nProbe: Int = 4): DataFrame = {
    val IvfPqModel(coarse, cb, nClusters, m, kCodes, d) = model
    val dim = coarse.length / nClusters
    val e = Tables.embeddings(spark, dir)
    val qtab = GraftFunctions.pqQueryTable(col("embedding"), cb, m, kCodes, d)
    // each query's squared-L2 to every coarse centroid: the ADC table
    // kernel at m = 1, position = cluster id
    val cd2 = GraftFunctions.pqQueryTable(col("embedding"), coarse, 1, nClusters, dim)
    val wProbe = Window.partitionBy("qid").orderBy(col("cd2").asc, col("cluster"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), qtab.as("qtab"),
        posexplode(cd2).as(Seq("cluster", "cd2")))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= nProbe)
      .select(col("qid"), col("qtab"), col("cluster"))
    val w = Window.partitionBy("qid").orderBy(col("adc_d2").asc, col("nid"))
    e.select(col("vec_id").as("nid"),
        GraftFunctions.pqCodes(col("embedding"), cb, m, kCodes, d).as("codes"),
        GraftFunctions.pqCodes(col("embedding"), coarse, 1, nClusters, dim)
          .getItem(0).as("cluster"))
      .join(broadcast(q), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("adc_d2", GraftFunctions.pqAdcScore(col("codes"), col("qtab"), kCodes))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), round(col("adc_d2"), 4).as("adc_d2"), col("rnk"))
  }

  /** Per-DIMENSION corpus statistics — the whitening / feature-hygiene
    * audit run before any cosine math: a dimension whose mean is far from
    * zero or whose spread collapses (dead unit) poisons dot-product
    * ranking, and per-dimension extrema catch clipped or exploded values.
    * Complements [[embNormStats]] (per-VECTOR hygiene).
    *
    * Values cross engines as ×10⁶ fixed-point BIGINTs (`round(x·10⁶)` of
    * the float widened to double — identical bits both sides), then every
    * aggregate is exact integer arithmetic. The per-dim mean ships as
    * (sum_e6, n) rather than a quotient: sum_e6 can be negative, and
    * integer division of negatives truncates toward zero in Spark but
    * floors in the oracle engine — the spread proxy mean |v| IS a
    * quotient because its numerator is non-negative. BIGINT sums hold to
    * ~10¹² rows × unit-scale values; past that, widen the sums to
    * DECIMAL(38,0) — the arithmetic stays exact.
    *
    * Shape at 100 TB: posexplode is map-side; ONE aggregation shuffles 64
    * dimension keys with map-side combine — the shuffle carries
    * O(partitions × dims) rows regardless of corpus size.
    */
  def embDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .selectExpr("CAST(dim AS BIGINT) AS dim",
        "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_e6")
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("v_e6")).as("sum_e6"),
        expr("sum(abs(v_e6)) DIV count(1)").as("mean_abs_e6"),
        min(col("v_e6")).as("min_e6"),
        max(col("v_e6")).as("max_e6"))

  /** #260 Centroid drift between two halves of the corpus, per label:
    * split vectors on vec_id parity (the stand-in for "previous snapshot
    * vs current"), accumulate each half's per-dimension sums in exact
    * fixed-point e6 integers (same quantization text as [[embDimStats]]),
    * and report the cosine between the two centroid sums — 1.0 means the
    * label's embedding distribution is stable, a drop means upstream
    * model or data drift. The cosine of SUMS equals the cosine of means
    * (scale cancels), so no division happens before the final ratio, and
    * the only floats are the last divide/sqrt written in identical SQL
    * text on both engines.
    *
    * Shape: posexplode map-side; one (label, dim) aggregation with
    * conditional half-sums (no self-join of halves); the cosine reduces
    * 64 rows per label. Shuffle carries O(labels × dims), never corpus
    * rows. DECIMAL(38,0) cross-products stay exact to ~10¹⁵ vectors.
    */
  def embCentroidDrift(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .selectExpr("label", "vec_id", "CAST(dim AS BIGINT) AS dim",
        "CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_e6")
      .groupBy("label", "dim")
      .agg(sum(when(col("vec_id") % 2 === 0, col("v_e6")).otherwise(0L)).as("s0"),
        sum(when(col("vec_id") % 2 === 1, col("v_e6")).otherwise(0L)).as("s1"),
        countDistinct(when(col("vec_id") % 2 === 0, col("vec_id"))).as("n0"),
        countDistinct(when(col("vec_id") % 2 === 1, col("vec_id"))).as("n1"))
      .groupBy("label")
      .agg(max(col("n0")).as("n_a"), max(col("n1")).as("n_b"),
        sum(expr("CAST(s0 AS DECIMAL(38,0)) * s1")).cast(DecimalType(38, 0)).as("dot"),
        sum(expr("CAST(s0 AS DECIMAL(38,0)) * s0")).cast(DecimalType(38, 0)).as("nrm0"),
        sum(expr("CAST(s1 AS DECIMAL(38,0)) * s1")).cast(DecimalType(38, 0)).as("nrm1"))
      .selectExpr("label", "n_a", "n_b",
        "CASE WHEN nrm0 = 0 OR nrm1 = 0 THEN NULL ELSE round(CAST(dot AS DOUBLE) / (sqrt(CAST(nrm0 AS DOUBLE)) * sqrt(CAST(nrm1 AS DOUBLE))), 6) END AS centroid_cos")

  /** Trained PCA basis (flat k×dim, [[Train.pca]]) plus its whitening
    * scales — the per-component std of the projected corpus, in component
    * order — with the same train-once lifecycle as [[pqCodebook]].
    */
  private def pcaModel(spark: SparkSession, dir: String,
      k: Int): (Array[Double], Array[Double]) =
    Artifacts.memo(dir, "pca", k)(_ => Train.pca(Tables.embeddings(spark, dir), k))

  /** #193 PCA projection + whitening of the embedding corpus — the
    * dimensionality-reduction pass a training pipeline runs before
    * clustering / coarse quantization (fewer dims → cheaper k-means and
    * ANN index build; whitening equalizes component scales so L2 in the
    * reduced space is Mahalanobis in the original).
    *
    * Training is one corpus job ([[Train.pca]]: per-partition (n, Σx,
    * Σxxᵀ) — O(dim²) per partition, never a corpus-sized collect — then a
    * dim×dim eigendecomposition on the driver), and the whitening scales
    * come from the same pass. The PROJECTION is the codegen'd row-local
    * `pca_project` kernel (uncentered, as MLlib's `PCAModel.transform`),
    * zero shuffles at any corpus size. Projections round to 4dp; the
    * component signs follow a fixed rule (largest-|loading| entry
    * positive), but the gate row still reports only sign-invariant norms
    * ([[embPcaAudit]]).
    */
  def embPca(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val (basis, stds) = pcaModel(spark, dir, k)
    val sLit = typedLit(stds.map(s => if (s < 1e-9) 1e-9 else s).toSeq)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        GraftFunctions.pcaProject(col("embedding"), basis, k, basis.length / k).as("pc"))
      .withColumn("pc_r", expr("transform(pc, x -> round(x, 4))"))
      .withColumn("white", zip_with(col("pc"), sLit,
        (p, s) => round(p / s, 4)))
      .select(col("vec_id"), col("pc_r").as("pc"), col("white"))
  }

  /** Driver-gate face of [[embPca]]: the raw projection carries
    * `array<double>` columns the oracle harness cannot sort/hash (and the
    * eigenbasis SIGN is not cross-engine stable anyway), so the gate row
    * reports per-vector SCALAR invariants instead — the projected and
    * whitened L2 norms (sign- and rotation-invariant) plus the component
    * count. The geometry itself is pinned by the ScaleSpec test on the
    * array output; this frame just has to be hashable and deterministic.
    */
  def embPcaAudit(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    embPca(spark, dir, k).select(
      col("vec_id"),
      lit(k).cast("long").as("k"),
      expr("round(sqrt(aggregate(pc, CAST(0 AS DOUBLE), (a, x) -> a + x * x)), 4)")
        .as("pc_norm"),
      expr("round(sqrt(aggregate(white, CAST(0 AS DOUBLE), (a, x) -> a + x * x)), 4)")
        .as("white_norm"))

  /** #301 FILTERED ANN — the "vector search with a WHERE clause" problem
    * every vector store struggles with: post-filtering an unfiltered ANN
    * result silently under-fills k when the predicate is selective, and
    * probing IVF cells that the filter then empties wastes the probe
    * budget. The right plan below the IVF break-even is PRE-filtering:
    * the predicate (here: neighbour label must equal the query's
    * `want_label`) becomes the equi-join key between the broadcast query
    * set and the corpus, so only predicate-matching rows are ever scored
    * — cost ∝ selectivity × corpus, the filter reaches the scan, and k
    * is always filled when enough matches exist. Emits per-row
    * `n_candidates` so the caller sees the selectivity the plan rode on.
    * Exact within the filtered subset (it IS the brute baseline there);
    * ScaleSpec pins parity against filter-then-brute. At lower
    * selectivity one swaps to the IVF probe with an over-fetch — the
    * composition [[ivfIndexSearch]] ∘ filter — but label-equality at ~10% is
    * firmly on the pre-filter side.
    */
  def annFilteredTopK(spark: SparkSession, dir: String,
      k: Int = DefaultK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        ((col("label") + 1) % 10).as("label"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    e.select(col("vec_id").as("nid"), col("embedding"), col("label"))
      .join(broadcast(q), Seq("label"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy("qid")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("label").as("want_label"), col("nid"),
        round(col("cos"), 4).as("cos"), col("rnk"), col("n_candidates"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack SIGIR'09) of a
    * VECTOR ranking (cosine over embeddings) and a LEXICAL ranking
    * (bigram-set Jaccard over the matching documents) for the same query
    * ids — the standard RAG-retrieval fusion the reference's analytics
    * surface feeds (cf. /root/reference README's search/serving framing).
    * rrf = Σ_arms 1/(60+rank), evaluated as 10⁶-scaled integer division so
    * the fused ordering replays bit-exactly in any SQL engine.
    *
    * Scale shape: both arms are broadcast-query × corpus-scan — the query
    * frame (8 ids) broadcasts into the embedding scan and the bigram
    * postings scan; per-query pool cut runs through the two-phase
    * TopKPerGroupExec (map-side prune before the exchange), and the fusion
    * join touches only 2·pool rows per query. No corpus×corpus join
    * anywhere; the corpus-scale work is one distinct-bigram shuffle, same
    * as any inverted-index build.
    */
  def annHybridRrf(spark: SparkSession, dir: String, k: Int = DefaultK,
      pool: Int = 20, rrfK: Int = 60): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // spreadScan: the pool×corpus scoring is a pure map stage at the
    // scan's split-count parallelism (no-op at scale, one split locally)
    val vScored = spreadScan(e.select(col("vec_id").as("nid"), col("embedding")),
        tableBytes(dir, "embeddings"), col("nid"))
      .crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .select("qid", "nid", "cos")
    val vTop = graft.plans.TopK.topKPerGroup(vScored, Seq("qid"),
      Seq(("cos", true), ("nid", false)), pool)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rv"))

    val grams = Tables.spreadScan(Tables.documents(spark, dir),
        tableBytes(dir, "documents"), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")).as("g"))
      .distinct()
    val gn = grams.groupBy("doc_id").agg(count(lit(1)).as("n_g"))
    val qGrams = grams.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("qid"), col("g"))
    val inter = grams.join(broadcast(qGrams), Seq("g"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id").as("nid"))
      .agg(count(lit(1)).as("inter"))
    val qn = gn.select(col("doc_id").as("qid"), col("n_g").as("n_q"))
    val lScored = inter
      .join(broadcast(qn), Seq("qid"))
      .join(gn.withColumnRenamed("doc_id", "nid"), Seq("nid"))
      .selectExpr("qid", "nid",
        "(inter * 10000) DIV (n_q + n_g - inter) AS jac_e4")
    val lTop = graft.plans.TopK.topKPerGroup(lScored,
      Seq("qid"), Seq(("jac_e4", true), ("nid", false)), pool)
      .select(col("qid"), col("nid"), col("rnk").cast("long").as("rl"))

    val fused = vTop.join(lTop, Seq("qid", "nid"), "full_outer")
      .select(col("qid"), col("nid"),
        (coalesce(expr(s"${1000000} DIV ($rrfK + rv)"), lit(0L)) +
          coalesce(expr(s"${1000000} DIV ($rrfK + rl)"), lit(0L))).as("rrf_e6"),
        coalesce(col("rv"), lit(0L)).as("vec_rank"),
        coalesce(col("rl"), lit(0L)).as("lex_rank"))
    graft.plans.TopK.topKPerGroup(fused, Seq("qid"),
      Seq(("rrf_e6", true), ("nid", false)), k)
      .select("qid", "nid", "rrf_e6", "vec_rank", "lex_rank", "rnk")
  }

  /** #373 Embedding separability AUC — do cosine scores actually rank
    * same-label pairs above cross-label pairs? The one-number retrieval
    * QA readout (AUC = P(random positive pair outscores a random
    * negative), the Mann–Whitney rank-sum identity) over the kNN graph's
    * candidate pairs, labels as ground truth. AUC ≈ 0.5 means the encoder
    * carries no label signal at candidate grain; the gap to 1.0 is what
    * reranking has to recover.
    *
    * Exactness: scores quantized to e4 ints (the graph's own round-4
    * grain), so the rank-sum needs no per-row global sort — the score
    * DOMAIN is bounded (≤ 20001 distinct values), one groupBy collapses
    * the corpus to that frame and tie-AVERAGED ranks come from a prefix
    * sum over it (2·avgrank = 2·cum_before + n + 1 stays integer). The
    * only division is the final AUC ppm with a provably non-negative
    * numerator (min rank-sum = n_pos(n_pos+1)/2), so Spark DIV ≡ DuckDB
    * `//`. Scales as one edge aggregate + a 20k-row window.
    */
  def pairAucFrom(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("cos"))
      .filter(col("a") =!= col("b")).distinct()
      .withColumn("cos_e4", expr("CAST(floor(cos * 10000 + 0.5) AS BIGINT)"))
    val la = labels.select(col("vec_id").as("a"), col("label").as("la"))
    val lb = labels.select(col("vec_id").as("b"), col("label").as("lb"))
    val byScore = und.join(la, "a").join(lb, "b")
      .select(col("cos_e4"),
        (col("la") === col("lb")).cast("long").as("is_pos"))
      .groupBy("cos_e4")
      .agg(count(lit(1)).as("n"), sum(col("is_pos")).as("n_pos_s"))
    // bounded frame (≤ 20001 rows): the global window is safe by domain
    val w = Window.orderBy("cos_e4").rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_before", coalesce(sum(col("n")).over(w), lit(0L)))
      .agg(sum(col("n")).as("n_pairs"),
        sum(col("n_pos_s")).as("n_pos"),
        sum(expr("CAST(n_pos_s AS DECIMAL(38,0)) * (2 * cum_before + n + 1)"))
          .as("r2_pos"),
        sum(expr("cos_e4 * n_pos_s")).as("sum_pos_cos_e4"),
        sum(expr("cos_e4 * (n - n_pos_s)")).as("sum_neg_cos_e4"))
      .selectExpr(
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(n_pos AS BIGINT) AS n_pos",
        "CAST(n_pairs - n_pos AS BIGINT) AS n_neg",
        """CASE WHEN n_pos = 0 OR n_pairs = n_pos THEN NULL
           ELSE CAST((r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000
             DIV (2 * n_pos * (n_pairs - n_pos)) AS BIGINT) END AS auc_ppm""",
        "CAST(sum_pos_cos_e4 AS BIGINT) AS sum_pos_cos_e4",
        "CAST(sum_neg_cos_e4 AS BIGINT) AS sum_neg_cos_e4")
  }

  /** #373 Registered query: label-separability AUC of the corpus kNN
    * candidate pairs. */
  def pairAuc(spark: SparkSession, dir: String): DataFrame =
    pairAucFrom(knnGraph(spark, dir),
      Tables.embeddings(spark, dir).select(col("vec_id"),
        col("label").cast("long").as("label")))
}
