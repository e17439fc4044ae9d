package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, Tables}
import graft.functions.GraftFunctions

/** Near-duplicate detection for LLM training-data curation.
  *
  * Scale shape shared by all variants: signatures are computed row-local
  * (codegen'd expressions / higher-order functions), candidate generation is
  * a shuffle on a SMALL band/bucket key (the LSH trick that replaces the
  * O(n²) self-join), and the exact verify runs only on candidate pairs.
  * That is the plan that survives 100 TB; nothing here is quadratic in the
  * corpus except the final verify on (rare) candidates.
  *
  * The test corpus has no planted near-dups, so each operator unions in a
  * deterministic perturbation of every 20th document (last token dropped,
  * doc_id + 1_000_000) — the operator must find exactly those pairs, which
  * the ScalaTest specs assert.
  */
object Dedup {

  private val PerturbOffset = 1000000L

  /** Hot-bucket guard for every LSH candidate join in this file (and the
    * hyperplane buckets in [[Similarity.knnGraphFrom]]). A bucket self-join
    * is quadratic IN THE BUCKET, and web corpora produce mega-buckets:
    * boilerplate families that survive exact dedup still share band keys,
    * so one hot key turns the "linear" LSH plan into an O(B²) task that
    * never finishes at 100 TB. The guard deterministically samples every
    * bucket down to `cap` members (rank by xxhash64 of the member id —
    * content-independent, reproducible across runs and engines; ties by
    * id). Sampling, not dropping: a mega-bucket still yields candidate
    * pairs among its sampled members, so its near-dup family is still
    * detected (and the CC step then clusters it), just not exhaustively
    * paired. NOT silent: [[bucketSkew]] is the registered accounting query
    * reporting per-band bucket census + exactly how many member rows the
    * cap would drop at the current corpus.
    *
    * Cost: one row_number window partitioned by the SAME key the join
    * shuffles on — the exchange is shared, so the guard adds a per-bucket
    * sort, no extra shuffle. At the test SFs no bucket reaches the default
    * cap (bucketSkew proves it), so every oracle result is unchanged.
    */
  val DefaultBucketCap = 1000

  private[graft] def capBuckets(banded: DataFrame, keyCols: Seq[String],
      idCol: String, cap: Int = DefaultBucketCap): DataFrame = {
    // rank hash salts with the bucket key so each band samples a DIFFERENT
    // subset of a hot family — across b bands a capped family still gets
    // ~b·C(cap,2) distinct candidate pairs instead of one repeated sample
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(xxhash64((idCol +: keyCols).map(col): _*), col(idCol))
    banded.withColumn("__bkt_rn", row_number().over(w))
      .filter(col("__bkt_rn") <= cap).drop("__bkt_rn")
  }

  /** [[capBuckets]] with a CROSS-ENGINE-replayable sampling rank: md5 over
    * the ':'-joined decimal renderings of (id, key...) — bit-identical in
    * DuckDB (`md5(concat_ws(':', CAST(… AS VARCHAR)…))`), unlike xxhash64.
    * Used where a hash-gated oracle row must stay faithful even when the
    * cap BINDS (graph_knn_accounting's funnel census), not just at the
    * SFs where it is a no-op.
    */
  private[graft] def capBucketsReplayable(banded: DataFrame, keyCols: Seq[String],
      idCol: String, cap: Int = DefaultBucketCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(md5(concat_ws(":", (idCol +: keyCols).map(c => col(c).cast("string")): _*)),
        col(idCol))
    banded.withColumn("__bkt_rn", row_number().over(w))
      .filter(col("__bkt_rn") <= cap).drop("__bkt_rn")
  }

  /** #345 Band-bucket skew census over the MinHash banding — the accounting
    * side of [[capBuckets]]: per band, the bucket count, the largest
    * bucket, and the hot-bucket/dropped-row mass the cap would sample away
    * at this corpus. Run it before trusting an LSH dedup pass at a new
    * scale: `n_hot_buckets` > 0 means candidate generation is sampling
    * (recall on those families is partial) and `max_bucket` tells you the
    * worst self-join a task would have faced uncapped.
    */
  def bucketSkew(spark: SparkSession, dir: String,
      cap: Int = DefaultBucketCap): DataFrame =
    bucketSkewFrom(corpusWithPlants(spark, dir), cap)

  def bucketSkewFrom(docs: DataFrame, cap: Int = DefaultBucketCap): DataFrame =
    minhashBands(docs)
      .groupBy("band", "bh").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(when(col("sz") > cap, 1L).otherwise(0L)).cast("long")
          .as("n_hot_buckets"),
        sum(when(col("sz") > cap, col("sz") - cap).otherwise(0L)).cast("long")
          .as("dropped_rows"))
      .withColumn("cap", lit(cap.toLong))
      .select("band", "cap", "n_buckets", "max_bucket", "n_hot_buckets",
        "dropped_rows")

  /** Corpus ∪ deterministically-perturbed subset (near-dup planting). */
  private[operators] def corpusWithPlants(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val perturbed = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + PerturbOffset).as("doc_id"),
        // drop the last token: same prefix, one shingle boundary changed
        expr("array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 1)), ' ')")
          .as("text"))
    docs.unionAll(perturbed)
  }

  /** #34 MinHash + LSH banding near-dup detection.
    * k=16 hash functions, 4 bands × 4 rows; 3-token shingles.
    * Candidates from band-bucket equi-join; exact Jaccard verified on the
    * shingle sets of candidate pairs only.
    *
    * The verified pair list is MEMOIZED per (corpus snapshot, threshold)
    * as a written parquet — it IS the standing near-dup index of the
    * incremental path ([[buildDedupIndex]]'s pair-level analog) and the
    * shared substrate of [[dedupClusters]]/ensemble/fuzzy-curation, so it
    * builds once per snapshot and every consumer reads the artifact (the
    * [[graft.operators.Similarity.knnGraph]] lifecycle).
    */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val path = Artifacts.memo(dir, "minhash-pairs", threshold) { a =>
      val p = a.root()
      minhashLshCompute(spark, dir, threshold)
        .write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  // private[graft]: doubles as the PLAN PROBE for `dedup_minhash`
  // (SparkEntry.planProbes) — the funnel plan the memoized read hides
  private[graft] def minhashLshCompute(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val k = 16; val bands = 4
    val corpus = corpusWithPlants(spark, dir)
    // signature: one codegen'd pass per row (MinHashSig expression);
    // banding shared with the incremental index path (minhashBands);
    // hot buckets sampled to the cap (see capBuckets/bucketSkew)
    val banded = capBuckets(minhashBands(corpus, k, bands), Seq("band", "bh"), "doc_id")
    // candidates: equi-join on the band key only (ids travel, not documents)
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"))
    // persisted: candidates feed both the doc-id pruning and the final pair
    // join — without it the band self-join would run three times
    val candidates = a.join(b, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact Jaccard verify only on candidate pairs: join the pair ids back
    // to the raw text and run the hash-set ShingleJaccard kernel — no
    // shingle-array materialization, no set-op expressions. The two text
    // joins share ONE corpus shuffle via ReusedExchange (same projection,
    // same key distribution); a semi-join prune of texts to candidate-
    // involved docs was measured 2x SLOWER at sf0.1 (it broke the reuse
    // and added a third full-text exchange), so the plan deliberately
    // ships texts once and joins twice.
    val texts = corpus.select(col("doc_id"), col("text"))
    candidates
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("t_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("t_b")), "doc_b")
      .withColumn("jaccard", round(GraftFunctions.shingleJaccard(col("t_a"), col("t_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** #35 SimHash near-dup: 64-bit signature (custom codegen'd Catalyst
    * expression), banded into 4×16-bit keys for candidate generation,
    * verified with bit_count(xor) hamming distance ≤ 6. Also carries the
    * rolling-hash winnowing fingerprint (graft.functions.RollingMinHash).
    */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 6): DataFrame = {
    val signed = corpusWithPlants(spark, dir)
      .select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("sig"),
        GraftFunctions.rollingMinHash(col("text"), 32).as("rfp"))
    val banded = capBuckets(signed.select(col("doc_id"), col("sig"), col("rfp"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, shiftright(sig, b * 16) & 65535 AS bh))"))
        .as("bk"))
      .select(col("doc_id"), col("sig"), col("rfp"), col("bk.band").as("band"), col("bk.bh").as("bh")),
      Seq("band", "bh"), "doc_id")
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"), col("sig").as("sig_a"),
      col("rfp").as("rfp_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("rfp").as("rfp_b"))
    a.join(b, Seq("band", "bh")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b", "rfp_a", "rfp_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .withColumn("same_rolling_fp", col("rfp_a") === col("rfp_b"))
      .select("doc_a", "doc_b", "hamming", "same_rolling_fp")
  }

  /** #36 N-gram Jaccard verify: exact character-4-gram Jaccard on candidate
    * pairs blocked by (token-count bucket, first token) — a cheap blocking
    * key standing in for whatever candidate generator ran upstream.
    */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    // content-based blocking: the rolling-min-hash winnowing fingerprint is
    // stable under small edits, so near-dups land in the same (tiny) block —
    // unlike a prefix key, which degenerates on a small vocabulary.
    val corpus = corpusWithPlants(spark, dir)
    val blocked = capBuckets(corpus.select(col("doc_id"),
      GraftFunctions.rollingMinHash(col("text"), 16).as("block"),
      length(col("text")).as("len")), Seq("block"), "doc_id")
    val a = blocked.select(col("block"), col("doc_id").as("doc_a"), col("len").as("len_a"))
    val b = blocked.select(col("block"), col("doc_id").as("doc_b"), col("len").as("len_b"))
    val candidates = a.join(b, Seq("block")).filter(col("doc_a") < col("doc_b"))
      // near-dups have near-equal length: cheap prefilter before the
      // expensive exact verify
      .filter(abs(col("len_a") - col("len_b")) <= lit(12))
      .select("doc_a", "doc_b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact char-4-gram Jaccard only on candidates: hash-set kernel over
    // the raw texts, no gram-array materialization
    val texts = corpus.select(col("doc_id"), col("text"))
    candidates
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("t_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("t_b")), "doc_b")
      .withColumn("jaccard", round(GraftFunctions.ngramJaccard(col("t_a"), col("t_b"), 4), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** #60 Connected components over a near-dup pair graph → cluster ids
    * (pairs → dedup GROUPS, the step after candidate verification: keep
    * min(doc_id) per cluster, drop the rest).
    *
    * Alternating small-star/large-star iterations (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — each iteration is
    * a groupBy-min + join, fully distributed, converging in
    * O(log diameter) rounds; near-dup graphs have tiny diameters so the
    * fixed iteration count is safe at any corpus size.
    */
  /** Edge-count bound under which CC solves in ONE task (union-find with
    * path compression over ≤ ~2M edges ≈ tens of MB — the "solve the
    * contracted residual locally" step of Kiveris et al. §4; min-root
    * union yields exactly the min-member labels the iterative loop
    * converges to). Verified-near-dup pair graphs and delta contractions
    * sit orders of magnitude below this; only a genuinely corpus-scale
    * edge set falls through to the O(log d)-round distributed loop, whose
    * per-round fixed cost (3 shuffles + 2 actions) this path avoids.
    */
  private val SmallGraphEdges = 2000000L

  def connectedComponents(pairs: DataFrame, maxIter: Int = 6): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (edges.count() <= SmallGraphEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) {
              // min root = min member id, matching the loop's labels
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            }
          }
          val ks = parent.keys.toArray
          ks.iterator.map(k => (k, find(k)))
        }
        .toDF("doc_id", "cluster_id")
        .localCheckpoint(true) // materialize before the edge cache drops
      edges.unpersist()
      return out
    }
    // labels start as self
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var i = 0
    var prevSum = -1L
    var converged = false
    while (i < maxIter && !converged) {
      // propagate: each node takes min(own comp, neighbors' comps)
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("comp", "dcomp"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dcomp")).as("ncomp"))
      labels = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // path-shortening: point at the component representative's component
      val reps = labels.select(col("id").as("comp"), col("comp").as("rcomp"))
      labels = labels.join(reps, Seq("comp"), "left")
        .select(col("id"), coalesce(col("rcomp"), col("comp")).as("comp"))
        // truncate lineage: without this the iterative plan doubles per
        // round and the optimizer itself becomes the bottleneck
        .localCheckpoint(true)
      // convergence: component-id sum is monotonically decreasing; a cheap
      // agg on the just-materialized labels ends the loop in O(diameter).
      // NULL-safe read: an EMPTY pair graph (legal — e.g. a delta whose
      // edges are all intra-component after contraction) sums to NULL
      val s = Option(labels.agg(sum(col("comp"))).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** #60 (query form) clusters from the minhash near-dup graph: one row per
    * clustered doc with its cluster id and the survivor flag. Memoized
    * per corpus snapshot (written parquet, like the pair list): the CC
    * loop runs once; the three consumers (cluster census, fuzzy curation,
    * cluster keywords) read the artifact.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.memo(dir, "dedup-clusters") { a =>
      val p = a.root()
      // the memoized pair artifact is a plain parquet scan, so the CC
      // loop's repeated reads re-scan a tiny file instead of re-running
      // the minhash pipeline
      val pairs = minhashLsh(spark, dir)
      val cc = connectedComponents(pairs)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
      cc.withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
        .write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  /** #341 Quality-aware representative selection per near-dup family:
    * keep-first (min doc_id, what [[dedupClusters]] flags) is the cheap
    * default, but the member worth shipping to training is the HIGHEST
    * QUALITY one — a truncated re-render can carry the min id while the
    * full original sits unkept. One row per family: the keep-first
    * member's quality vs the argmax-quality member (ties broken by
    * doc_id, fully deterministic), the fixed-point gain, and whether the
    * choice actually changed. Both inputs are memoized snapshot artifacts
    * (cluster parquet; quality is a projection) and the single shuffle is
    * the cluster_id window — family count, not corpus count, bounds the
    * output.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = corpusWithPlants(spark, dir)
      .selectExpr("doc_id",
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens",
        "CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) DIV 3 AS the_cnt")
      .selectExpr("doc_id",
        // the #44 quality score: least(1, n/100) * (1 - the/n), exact e4
        // fixed point, numerator clamped non-negative so DIV == floor
        "least(100, n_tokens) * greatest(0, n_tokens - the_cnt) * 100 DIV n_tokens AS q_e4")
    val cl = dedupClusters(spark, dir).join(q, "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    val wo = w.orderBy(col("q_e4").desc, col("doc_id").asc)
    cl.withColumn("rn", row_number().over(wo))
      .withColumn("n_members", count(lit(1)).over(w))
      // cluster_id IS the min member label, so the keep-first survivor's
      // quality is the q of the doc_id == cluster_id row
      .withColumn("first_q_e4",
        max(when(col("doc_id") === col("cluster_id"), col("q_e4"))).over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_members"), col("first_q_e4"),
        col("doc_id").as("best_doc"), col("q_e4").as("best_q_e4"),
        (col("q_e4") - col("first_q_e4")).as("gain_e4"),
        (col("doc_id") =!= col("cluster_id")).as("changed"))
  }

  /** #37 Embedding-cosine near-dup pairs. Exact all-pairs above a threshold
    * — the oracle-checkable baseline; Similarity.annLshTopK is the
    * LSH-bucketed variant that scales past all-pairs. Accumulates in double
    * (bit-compatible with DuckDB's list_cosine_similarity on DOUBLE[]).
    *
    * The all-pairs crossJoin is quadratic BY DESIGN (it is the ground
    * truth the blocked variants are measured against), so as a REGISTERED
    * query it is sample-bounded: above [[BruteForceBound]] vectors, a
    * deterministic id-stride sample (`vec_id % stride = 0`, stride =
    * ⌈n/bound⌉ — pure arithmetic, replayable in any engine's SQL) bounds
    * the crossJoin to ≤ bound² pairs. NOT silent: the stride is a pure
    * function of the corpus count, and at every test SF (≤2000 vectors)
    * stride = 1 — the oracle results are exactly the unbounded ones.
    */
  private val BruteForceBound = 4096L

  def embeddingNearDup(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
    val n = e0.count()
    val stride = ((n + BruteForceBound - 1) / BruteForceBound).max(1L)
    val e = if (stride == 1L) e0 else e0.filter(col("vec_id") % stride === 0)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", GraftFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cos") > tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** #91 Embedding near-dup at scale: multi-table hyperplane-LSH blocking
    * instead of the all-pairs crossJoin above. Each vector lands in
    * `tables` buckets (independent plane sets via the salt); candidate
    * pairs are bucket-equi-joins carrying ONLY ids, deduplicated, then
    * exact cosine verifies just the candidates after joining the vectors
    * back by id. Candidate probability for a pair at angle θ is
    * 1 − (1 − (1 − θ/π)^planes)^tables — near-identical vectors (the dedup
    * target) are caught with ≥95% probability while ~orthogonal pairs
    * survive blocking at ≪1%. This is the production path; the crossJoin
    * variant above remains the oracle baseline.
    */
  /** Hyperplane buckets concentrate under SEMANTIC clustering (a tight
    * angular cluster falls on one side of most origin hyperplanes, so
    * more planes do NOT split it) — the vector-side analog of the
    * boilerplate mega-bucket, observed live in the sf1 sweep (15× wall
    * from bucket-join blowup at the default cap). 512 bounds any bucket's
    * self-join to ≤512² pairs; at the oracle-checked SFs (≤2,125 banded
    * vectors over 256 buckets/table) no bucket comes near it — DedupSpec
    * pins that census, keeping every oracle result cap-invariant.
    */
  private[graft] val EmbBucketCap = 512

  /** The three LSH stages over an arbitrary embeddings frame: (vectors,
    * capped banded rows, distinct candidate id pairs). Shared by the
    * dedup itself and the accounting query so both report the SAME run.
    */
  private[graft] def lshStages(e0: DataFrame, planes: Int,
      tables: Int): (DataFrame, DataFrame, DataFrame) = {
    val e = e0.select(col("vec_id"), col("embedding"))
    val banded = capBuckets(e.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          GraftFunctions.hyperplaneBucket(col("embedding"), planes, t).as("bucket"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket")),
      Seq("tbl", "bucket"), "vec_id", cap = EmbBucketCap)
    val a = banded.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val b = banded.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    val cand = a.join(b, Seq("tbl", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    (e, banded, cand)
  }

  /** Exact-cosine verification of a candidate id-pair frame. */
  private def verifyCosine(e: DataFrame, cand: DataFrame,
      tau: Double): DataFrame = {
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    cand.join(ea, "id_a").join(eb, "id_b")
      .withColumn("cos", GraftFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cos") > tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** The embedding-LSH funnel as a STANDING corpus-snapshot artifact
    * (the [[dedupClusters]] pattern applied to the embedding side): the
    * verified near-dup pair list and the funnel counts are computed once
    * per (corpus snapshot, tau, planes, tables) and persisted; the dedup
    * view and its accounting audit both read the artifact instead of
    * re-running signature → banding → 15M-candidate verification. At
    * 100 TB this IS the operating shape — the pair list is an index
    * maintained per crawl, not a per-query recomputation (the
    * incremental twin is [[buildDedupIndex]]).
    */
  private def lshFunnelArtifacts(spark: SparkSession, dir: String,
      tau: Double, planes: Int, tables: Int): (String, String) = {
    val root = Artifacts.memo(dir, "lsh-funnel", tau, planes, tables) { a =>
      val r = a.root()
      val (e, banded, cand0) = lshStages(
        Tables.embeddings(spark, dir), planes, tables)
      val cand = cand0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      verifyCosine(e, cand, tau)
        .write.mode("overwrite").parquet(s"$r/pairs")
      val nVec = e.count(); val nBanded = banded.count()
      val nCand = cand.count()
      cand.unpersist()
      val nVerified = spark.read.parquet(s"$r/pairs").count()
      import spark.implicits._
      Seq((nVec, nBanded, nCand, nVerified))
        .toDF("n_vectors", "n_banded", "n_candidates", "n_verified")
        .write.mode("overwrite").parquet(s"$r/counts")
      r
    }
    (s"$root/pairs", s"$root/counts")
  }

  /** Growth model (the sf1 8.3×-at-10×-data explanation, MEASURED by
    * [[embeddingLshAccounting]]): the signature/banding stages are LINEAR
    * in corpus size; candidate and verified-pair mass grow with the
    * corpus's NEAR-DUP PAIR density, which is quadratic in family size —
    * the scale sweep ([[graft.ScaleUp]]) shifts each replica k by a fixed
    * direction 0.03·k, so a source vector's 10 replicas form a tight
    * angular line and the planted pair mass grows ~quadratically per
    * family while n grows linearly. The accounting row quantifies it:
    * sf0.1 = 2,000 vectors → 327,856 candidates → 361 verified pairs;
    * sf1 = 20,000 vectors → 15.6M candidates (47×) → 11,506,278 verified
    * pairs (31,873× — the query's own RESULT explodes, precision rises
    * 0.1%→74% because replicas truly are near-dups at tau=0.4). Wall
    * grew 8.3× against a 31,873× output: output-bound work, strongly
    * SUBLINEAR in its own result size — not a plan defect. The
    * mega-bucket cap demonstrably engages at sf1 (n_banded 120,522 vs
    * 160,000 uncapped); DedupSpec pins the accounting identities and the
    * superlinear pair growth under replica planting.
    */
  def embeddingNearDupLsh(spark: SparkSession, dir: String, tau: Double = 0.4,
      planes: Int = 8, tables: Int = 8): DataFrame =
    spark.read.parquet(
      lshFunnelArtifacts(spark, dir, tau, planes, tables)._1)

  /** The UN-memoized funnel plan (signature → banding → candidate join →
    * exact-cosine verify) over a live embeddings frame — what
    * [[embeddingNearDupLsh]] computes once per snapshot. Registered as the
    * PLAN PROBE for `dedup_embedding_lsh` (SparkEntry.planProbes) so the
    * join-safety sweep and PLAN_BASELINE gate the funnel's structure, not
    * the bare parquet read of its artifact. */
  private[graft] def embeddingNearDupLshFrom(e0: DataFrame,
      tau: Double = 0.4, planes: Int = 8, tables: Int = 8): DataFrame = {
    val (e, _, cand) = lshStages(e0, planes, tables)
    verifyCosine(e, cand, tau)
  }

  /** #406 `dedup_lsh_accounting` — the banding twin of `dedup_bucket_skew`:
    * ONE row auditing the LSH dedup's funnel — vectors in, banded rows
    * (after the mega-bucket cap), candidate pairs generated by the bucket
    * joins, pairs surviving exact-cosine verification — plus the two
    * ratios capacity planning reads: candidates per vector (×10⁴) and
    * verify precision (×10⁴). At oracle SFs the cap is a no-op (no bucket
    * near [[EmbBucketCap]]), so the DuckDB replay of the UNCAPPED funnel
    * hash-matches — that equality is itself the cap-invariance proof.
    */
  def embeddingLshAccounting(spark: SparkSession, dir: String,
      tau: Double = 0.4, planes: Int = 8, tables: Int = 8): DataFrame =
    // same ratio expression text as the live path (hash-oracle-pinned);
    // the counts come from the standing funnel artifact
    spark.read.parquet(
        lshFunnelArtifacts(spark, dir, tau, planes, tables)._2)
      .selectExpr("n_vectors", "n_banded", "n_candidates", "n_verified",
        "CASE WHEN n_vectors > 0 THEN n_candidates * 10000 DIV n_vectors END AS cand_per_vector_e4",
        "CASE WHEN n_candidates > 0 THEN n_verified * 10000 DIV n_candidates END AS precision_e4")

  private[graft] def embeddingLshAccountingFrom(e0: DataFrame,
      tau: Double = 0.4, planes: Int = 8, tables: Int = 8): DataFrame = {
    val (e, banded, cand) = lshStages(e0, planes, tables)
    val verified = verifyCosine(e, cand, tau)
    e.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(banded.agg(count(lit(1)).as("n_banded"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(verified.agg(count(lit(1)).as("n_verified"))))
      .selectExpr("n_vectors", "n_banded", "n_candidates", "n_verified",
        "CASE WHEN n_vectors > 0 THEN n_candidates * 10000 DIV n_vectors END AS cand_per_vector_e4",
        "CASE WHEN n_candidates > 0 THEN n_verified * 10000 DIV n_candidates END AS precision_e4")
  }

  /** #171 Semantic dedup (SemDeDup, Abbas et al. arXiv:2303.09540): k-means
    * partitions the embedding space, then near-duplicate pairs are searched
    * ONLY within a cluster — the O(n²/k) restriction that makes
    * mid-similarity cosine dedup tractable where hyperplane LSH (tuned for
    * near-identical pairs) loses recall. Within a cluster any pair with
    * cosine ≥ tau is a semantic dup; the member CLOSER to the centroid is
    * dropped (the paper keeps the far-from-centroid example — the
    * informative one), ties broken by the larger id.
    *
    * Scale shape: the corpus shuffles ONCE on the cluster id; the
    * quadratic is per-cluster and k grows with the corpus (FAISS-style
    * k ≈ √n keeps expected cluster size √n), so no task ever sees more
    * than a cluster. Centroids broadcast; the keep/drop decision is a
    * distinct + anti-join, never a driver loop.
    *
    * reference: pretraining curation gap (no analog in aurora-cdc-demo);
    * composes with `docCurationFuzzy`'s hash anti-join stage.
    */
  def semanticDedupFrom(e: DataFrame, tau: Double, nClusters: Int = -1): DataFrame = {
    val (assigned, pairs) = semanticPairs(e, tau, nClusters)
    val losers = pairs.select(col("cluster"), col("loser").as("vec_id")).distinct()
    val out = assigned.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      .join(pairs.groupBy("cluster").agg(count(lit(1)).as("n_dup_pairs")), Seq("cluster"), "left")
      .join(losers.groupBy("cluster").agg(count(lit(1)).as("n_dropped")), Seq("cluster"), "left")
      .na.fill(0L, Seq("n_dup_pairs", "n_dropped"))
      .withColumn("n_kept", col("n_members") - col("n_dropped"))
      .select(col("cluster").cast("int").as("cluster"), col("n_members"),
        col("n_dup_pairs"), col("n_dropped"), col("n_kept"))
      // k rows — checkpoint eagerly so the big intermediate cache can go
      .localCheckpoint(true)
    assigned.unpersist()
    out
  }

  /** Ids dropped by the keep rule — the set a curation pipeline anti-joins
    * against (spec-verified invariants). */
  private[graft] def semanticLosers(e: DataFrame, tau: Double,
      nClusters: Int = -1): DataFrame = {
    val (assigned, pairs) = semanticPairs(e, tau, nClusters)
    val out = pairs.select(col("cluster"), col("loser").as("vec_id")).distinct()
      .localCheckpoint(true)
    assigned.unpersist()
    out
  }

  /** Default cluster count: k ≈ √n (the SemDeDup/FAISS rule — expected
    * cluster size √n keeps the per-cluster quadratic at O(n) total work),
    * floored for tiny corpora and capped so the centroid broadcast stays
    * bounded. */
  private[graft] def autoClusters(n: Long): Int =
    math.max(8, math.min(65536, math.round(math.sqrt(n.toDouble)).toInt))

  /** Shared core: cluster-assign every vector (centroid cosine attached),
    * emit within-cluster dup pairs with the drop decision per pair. */
  private def semanticPairs(e: DataFrame, tau: Double,
      nClusters: Int): (DataFrame, DataFrame) = {
    val spark = e.sparkSession
    val vecs = e.select(col("vec_id"), col("embedding"))
    val k = if (nClusters > 0) nClusters else autoClusters(vecs.count())
    // centroids train on a seeded SAMPLE — Lloyd cost is O(n·k·d·iter) and
    // cluster geometry converges long before the full corpus is seen; the
    // full corpus only pays the one-pass assignment (standard at 100 TB)
    val centroids = Train.kmeans(
      vecs.sample(withReplacement = false, 0.25, 42L), 1, k, 5)
    val dim = centroids.length / k
    val cdf = spark.createDataFrame(centroids.grouped(dim).toSeq.zipWithIndex.map(_.swap))
      .toDF("cluster", "centroid")
    val assigned = vecs
      .withColumn("cluster",
        GraftFunctions.pqCodes(col("embedding"), centroids, 1, k, dim).getItem(0))
      .join(broadcast(cdf), "cluster")
      .withColumn("c_sim", GraftFunctions.cosineSim(col("embedding"), col("centroid")))
      .select("cluster", "vec_id", "embedding", "c_sim")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("c_sim").as("csim_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("c_sim").as("csim_b"))
    val pairs = a.join(b, "cluster").filter(col("id_a") < col("id_b"))
      .withColumn("cos", GraftFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= tau)
      .withColumn("loser",
        when(col("csim_a") > col("csim_b"), col("id_a"))
          .when(col("csim_b") > col("csim_a"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))))
    (assigned, pairs)
  }

  /** Driver entry for #171: embeddings ∪ planted jittered copies of every
    * 16th vector (the corpus has no natural semantic dups), per-cluster
    * keep/drop accounting. Jitter is `x*0.98f + 0.01f` — NOT pure scaling
    * (cosine is scale-invariant), so planted cosine is high but < 1. */
  def semanticDedup(spark: SparkSession, dir: String, tau: Double = 0.9,
      nClusters: Int = -1): DataFrame =
    semanticDedupFrom(embeddingsWithPlants(spark, dir), tau, nClusters)

  /** Embeddings ∪ deterministic near-dup plants (id + 1,000,000). */
  private[graft] def embeddingsWithPlants(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val planted = e.filter(col("vec_id") % 16 === 0)
      .select((col("vec_id") + PerturbOffset).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 0.98 + 0.01 AS FLOAT))").as("embedding"))
    e.unionByName(planted)
  }

  // ------------------------------------------------------------------
  // Incremental (delta-vs-index) dedup — the 100 TB LIFECYCLE variant.
  // A production corpus is not re-deduplicated from scratch per crawl:
  // the standing corpus keeps a persisted index (exact digests + MinHash
  // band keys), and each incoming delta batch computes signatures for
  // ITS OWN rows only, then joins the (small) delta against the index.
  // Work per batch is O(delta) signature compute + one band equi-join
  // where the delta side is broadcast-size — never O(corpus) recompute.
  // ------------------------------------------------------------------

  /** Shared MinHash banding (the exact expression [[minhashLsh]] uses —
    * index rows and fresh-delta rows MUST band identically or the join
    * misses).
    */
  private[graft] def minhashBands(docs: DataFrame, k: Int = 16,
      bands: Int = 4): DataFrame = {
    val rows = k / bands
    docs.withColumn("sig", GraftFunctions.minhashSig(col("text"), k))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, ${bands - 1})," +
            s" b -> struct(b AS band, xxhash64(array_join(slice(sig, b * $rows + 1, $rows), ','), b) AS bh))"))
          .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** #190 Persist the dedup index for a corpus snapshot: exact content
    * digests plus MinHash band keys, both plain parquet keyed by doc_id.
    * Built ONCE per snapshot (one corpus scan each), then every delta
    * batch reads the index instead of touching corpus text. DedupSpec
    * proves build → load → [[incrementalNear]] equals the index-free run.
    */
  def buildDedupIndex(corpus: DataFrame, path: String, k: Int = 16,
      bands: Int = 4): Unit = {
    corpus.select(col("doc_id"), md5(col("text")).as("digest"))
      .write.mode("overwrite").parquet(s"$path/digests")
    minhashBands(corpus, k, bands).write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Delta docs that near-duplicate an indexed corpus doc: band equi-join
    * of the delta's fresh signatures against the index's band keys (the
    * delta side is the small side — AQE broadcasts it; the index side
    * streams), then exact shingle-Jaccard verification on candidate pairs
    * only, joining text for candidate-involved docs. `corpusText` supplies
    * verify text by doc_id (at scale: the corpus store, read by id).
    */
  def incrementalNear(indexBands: DataFrame, corpusText: DataFrame,
      delta: DataFrame, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // both sides bucket-capped: a hot band key on the INDEX side is the
    // one that would otherwise fan every matching delta row out by the
    // full corpus-bucket size (see capBuckets)
    val dBands = capBuckets(minhashBands(delta, k, bands), Seq("band", "bh"), "doc_id")
    val iBands = capBuckets(indexBands, Seq("band", "bh"), "doc_id")
    val candidates = dBands.select(col("band"), col("bh"), col("doc_id").as("delta_doc"))
      .join(iBands.select(col("band"), col("bh"), col("doc_id").as("corpus_doc")),
        Seq("band", "bh"))
      .select("delta_doc", "corpus_doc").distinct()
    candidates
      .join(delta.select(col("doc_id").as("delta_doc"), col("text").as("t_d")), "delta_doc")
      .join(corpusText.select(col("doc_id").as("corpus_doc"), col("text").as("t_c")), "corpus_doc")
      .withColumn("jaccard", round(GraftFunctions.shingleJaccard(col("t_d"), col("t_c")), 4))
      .filter(col("jaccard") >= threshold)
      .select("delta_doc", "corpus_doc", "jaccard")
  }

  /** #200 Ensemble (multi-signal) near-dup confirmation: the MinHash+LSH
    * text candidates re-scored with embedding cosine — a pair is a
    * confirmed duplicate only when BOTH the lexical and the semantic
    * signal agree (the ensemble that cuts lexical false positives like
    * boilerplate-heavy pages, and semantic false positives like
    * same-topic-different-text). Candidates are already sparse (LSH
    * output), so the embedding join touches candidate ids only — two
    * hash joins against the vector table by id, never a vector scan.
    * Plants mirror [[corpusWithPlants]] on the vector side (same id
    * arithmetic, cosine-jittered) so every planted text pair carries
    * both signals.
    */
  def ensembleDedup(spark: SparkSession, dir: String,
      jaccThreshold: Double = 0.5, cosThreshold: Double = 0.85): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val planted = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + PerturbOffset).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 0.98 + 0.01 AS FLOAT))").as("embedding"))
    val vecs = e.unionByName(planted)
    minhashLsh(spark, dir, jaccThreshold)
      .join(vecs.select(col("vec_id").as("doc_a"), col("embedding").as("e_a")), "doc_a")
      .join(vecs.select(col("vec_id").as("doc_b"), col("embedding").as("e_b")), "doc_b")
      .withColumn("cos", round(GraftFunctions.cosineSim(col("e_a"), col("e_b")), 4))
      .withColumn("both_signals",
        col("jaccard") >= jaccThreshold && col("cos") >= cosThreshold)
      .select("doc_a", "doc_b", "jaccard", "cos", "both_signals")
  }

  /** The deterministic corpus/delta split the driver entries use:
    * corpus = doc_id % 10 ≠ 0; delta = the held-out docs (novel text,
    * new ids +2M) ∪ exact re-crawls of corpus docs with doc_id % 7 = 1
    * (new ids +3M) ∪ near-copies of corpus docs with doc_id % 20 = 5
    * (last token dropped, new ids +4M). Pure arithmetic on doc_id — the
    * same split is expressible in the oracle's SQL.
    */
  private[operators] def incrementalSplit(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val novel = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
    val recrawl = corpus.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"), col("text"))
    val nearCopy = corpus.filter(col("doc_id") % 20 === 5)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("lang"),
        expr("array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 1)), ' ')")
          .as("text"))
    (corpus, novel.unionByName(recrawl).unionByName(nearCopy))
  }

  /** #189 Incremental EXACT dedup accounting (SQL-oracle-checked): per
    * language, how much of the delta batch is an exact copy of an indexed
    * corpus doc vs novel. One digest left-join — the delta side is tiny,
    * the corpus digest index is read not recomputed at scale.
    */
  def incrementalExact(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, delta) = incrementalSplit(spark, dir)
    val idx = corpus.select(md5(col("text")).as("digest")).distinct()
      .withColumn("hit", lit(1))
    delta.select(col("lang"), md5(col("text")).as("digest"))
      .join(idx, Seq("digest"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_delta"), count(col("hit")).as("n_exact_dup"))
      .withColumn("n_novel", (col("n_delta") - col("n_exact_dup")).cast("long"))
  }

  /** #190 driver entry: near-dup pairs of the delta batch against the
    * corpus index (hash-oracle: the corpus/delta split is doc_id
    * arithmetic and the banding replays in SQL like the rest of the
    * MinHash family; DedupSpec additionally pins plant recovery + index
    * round-trip).
    */
  def incrementalNearDemo(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val (corpus, delta) = incrementalSplit(spark, dir)
    incrementalNear(minhashBands(corpus), corpus, delta, threshold = threshold)
  }

  private val ContainOffset = 3000000L

  /** #241 CONTAINMENT dedup — the asymmetric near-dup class symmetric
    * Jaccard misses: a document quoted WHOLE inside a larger one
    * (boilerplate-wrapped articles, forum quotes, concatenated shards)
    * has Jaccard ≈ |A|/|B| → arbitrarily low, but containment
    * |A∩B|/|A| ≈ 1. Candidates come from the same winnowing-fingerprint
    * blocks as the Jaccard path — a substring's window minima survive in
    * its container, so (inner, outer) pairs collide WITHOUT a length
    * prefilter; verification is the codegen'd `shingleContainment`
    * kernel on candidate pairs only. Deterministic container plants
    * (doc % 20 == 5: original text + hex-noise tail) make recovery
    * measurable; the noise halves Jaccard but leaves containment ≈ 1.
    *
    * Growth model (sf10 sweep reads ~19x wall at 100x data): candidate
    * pairs grow with the collision mass of the fingerprint blocks —
    * superlinear in documents but bounded by the capBuckets guard — and
    * each surviving pair pays a shingle-set verify proportional to the
    * two documents' lengths. Expected wall ≈ O(docs · avg_len) scan +
    * O(pairs · len) verify with pairs ∝ docs^(1+α), α small under the
    * cap; the measured ~19x at 100x data (≪ the 150x gate) is that
    * pair-mass term, not a plan defect — the AQE repartition on the
    * verify stage (pricing CPU over bytes) is what keeps the constant
    * down.
    */
  def containment(spark: SparkSession, dir: String,
      threshold: Double = 0.85): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val containers = docs.filter(col("doc_id") % 20 === 5)
      .select((col("doc_id") + ContainOffset).as("doc_id"),
        // the inner text quoted whole + a deterministic hex-noise tail of
        // comparable length: Jaccard drops toward 1/2, containment stays 1
        expr("""concat(text, ' ', regexp_replace(
          |  concat(md5(text), md5(concat(text, 'x')), md5(concat(text, 'y'))),
          |  '(....)', '$1 '))""".stripMargin).as("text"))
    val corpus = docs.unionAll(containers)
    // blocking: per-hash-function MinHash value. A⊆B makes each of B's 16
    // minima a min over a SUPERSET of A's shingles, so min_i(B) == min_i(A)
    // with probability |A|/|B| per function — ANY of 16 colliding blocks
    // the pair (P(miss) ≈ (1-|A|/|B|)^16, vanishing for real containment).
    // A single global winnowing fingerprint misses whenever the container's
    // tail happens to carry the new global min.
    val blocked = capBuckets(
      corpus.select(col("doc_id"), length(col("text")).as("len"),
        posexplode(GraftFunctions.minhashSig(col("text"), 16)))
        .select(col("doc_id"), col("len"), col("pos").as("hf"), col("col").as("mh")),
      Seq("hf", "mh"), "doc_id")
    val a = blocked.select(col("hf"), col("mh"), col("doc_id").as("inner_doc"),
      col("len").as("len_i"))
    val b = blocked.select(col("hf"), col("mh"), col("doc_id").as("outer_doc"),
      col("len").as("len_o"))
    val candidates = a.join(b, Seq("hf", "mh"))
      // strictly-smaller-inside-larger only: containment of equals is
      // plain exact dedup, already covered elsewhere
      .filter(col("len_i") < col("len_o"))
      .select("inner_doc", "outer_doc").distinct()
    val texts = corpus.select(col("doc_id"), col("text"))
    // AQE sizes post-shuffle partitions by BYTES, and the candidate id
    // pairs are ~16 B/row — the distinct's output coalesces to one
    // partition while every row downstream costs ~35 µs of shingle-set
    // kernels, serializing the verify stage (measured 3.4 s → 1.5 s at
    // sf0.1). The explicit spread prices CPU, not bytes; candidate rows
    // are ids only, so the extra exchange is trivial. Jaccard is
    // computed AFTER the containment threshold — it's reported for the
    // survivors, not part of the decision, so ~99.7% of pairs skip it.
    candidates.repartition(spark.sparkContext.defaultParallelism)
      .join(texts.select(col("doc_id").as("inner_doc"), col("text").as("t_i")), "inner_doc")
      .join(texts.select(col("doc_id").as("outer_doc"), col("text").as("t_o")), "outer_doc")
      .withColumn("containment",
        round(GraftFunctions.shingleContainment(col("t_i"), col("t_o")), 4))
      .filter(col("containment") >= threshold)
      .withColumn("jaccard",
        round(GraftFunctions.shingleJaccard(col("t_i"), col("t_o")), 4))
      .select("inner_doc", "outer_doc", "containment", "jaccard")
  }

  /** #266 Cross-table entity resolution (record linkage): fuzzy-join
    * customer and supplier names WITHOUT a cartesian product — block on
    * the discriminative trailing 6 characters (the entity-number suffix
    * in this schema; in general, any high-selectivity derived key), then
    * verify candidates with the exact character-3-gram Jaccard kernel.
    * The classic warehouse linkage shape: blocking keys bound the
    * candidate set, the expensive similarity only ever runs inside a
    * block, and the small side broadcasts. Same machinery as document
    * near-dup (blocking + kernel verify), applied across TABLES.
    */
  def entityResolution(spark: SparkSession, dir: String,
      threshold: Double = 0.25): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
      .withColumn("blk", expr("substr(c_name, -6)"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
      .withColumn("blk", expr("substr(s_name, -6)"))
    c.join(broadcast(s), "blk")
      .withColumn("sim",
        round(GraftFunctions.ngramJaccard(col("c_name"), col("s_name"), 3), 4))
      .filter(col("sim") >= threshold)
      .select("c_custkey", "s_suppkey", "c_name", "s_name", "sim")
  }

  /** #296 LSH quality evaluation — before trusting MinHash banding on
    * 100 TB you measure its candidate precision/recall against exact
    * Jaccard ground truth on a BOUNDED deterministic sample (the
    * all-pairs truth computation is quadratic by nature, so the sample —
    * not the corpus — is the unit of work; ~sampleN docs → ≤ sampleN²/2
    * kernel calls, constant cost at any corpus size). Sampling is
    * md5-ranked (content-addressed, reproducible across runs and
    * engines) and CLOSED over planted near-dup pairs: if either member
    * of a perturbed pair samples, its partner is pulled in too, so
    * recall is measured on real positives, not an accidentally
    * positive-free sample. Predicted pairs are the RAW band-bucket
    * candidates (pre-verification) — exactly the set whose quality the
    * banding parameters (k=16, 4 bands) control. One row: the confusion
    * census + precision/recall in exact ppm.
    */
  def lshEval(spark: SparkSession, dir: String, threshold: Double = 0.5,
      sampleN: Int = 200): DataFrame = {
    val corpus = corpusWithPlants(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = corpus
      .withColumn("rk", md5(concat(lit("lsheval_"), col("doc_id"))))
      .orderBy(col("rk"), col("doc_id")).limit(sampleN)
      .select("doc_id")
    // closure over planted pairs: originals are doc_id % 20 == 0, plants
    // sit at doc_id + PerturbOffset (corpusWithPlants convention)
    val partners = base.filter(col("doc_id") % 20 === 0 &&
        col("doc_id") < PerturbOffset)
      .select((col("doc_id") + PerturbOffset).as("doc_id"))
      .unionAll(base.filter(col("doc_id") >= PerturbOffset)
        .select((col("doc_id") - PerturbOffset).as("doc_id")))
    val sampleIds = base.unionAll(partners).distinct()
    val sample = corpus.join(sampleIds, "doc_id")
      .select("doc_id", "text")
      .localCheckpoint(eager = true)
    corpus.unpersist()
    // ground truth: exact shingle-Jaccard on ALL sample pairs (bounded
    // quadratic by design — this is the eval harness, not the dedup path)
    val a = sample.select(col("doc_id").as("doc_a"), col("text").as("t_a"))
    val b = sample.select(col("doc_id").as("doc_b"), col("text").as("t_b"))
    val truth = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("j", GraftFunctions.shingleJaccard(col("t_a"), col("t_b")))
      .filter(col("j") >= threshold)
      .select("doc_a", "doc_b")
    val banded = minhashBands(sample)
    val pred = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bh"), col("doc_id").as("doc_b")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val joined = truth.withColumn("in_truth", lit(1L))
      .join(pred.withColumn("in_pred", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
    val nSample = sample.count()
    joined.agg(
        sum(when(col("in_truth") === 1L && col("in_pred") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("in_truth").isNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("in_pred").isNull, 1L).otherwise(0L)).as("fn"))
      .select(lit(nSample).as("n_docs"), col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN NULL " +
          "ELSE tp * 1000000 DIV (tp + fp) END").as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN NULL " +
          "ELSE tp * 1000000 DIV (tp + fn) END").as("recall_ppm"))
  }

  /** #339 Split-leakage audit — near-duplicate pairs that STRADDLE the
    * content-hash train/val/test boundary. Exact-hash splitting (Text
    * .docSplitAssign) guarantees a byte-identical document never lands in
    * two splits, but a near-duplicate pair (reworded crawl, truncated
    * re-render) hashes independently, so ~2·p·(1−p) of near-dup pairs
    * leak eval content into training — the contamination mode Lee et al.
    * (ACL'22) measure and exact dedup cannot see. One join of the
    * memoized pair artifact against the split labels of both endpoints
    * (ids travel; the pair list is the standing [[minhashLsh]] parquet,
    * so the corpus-scale work was already paid once per snapshot) →
    * the (split, split) leakage matrix with pair counts and similarity
    * mass. `is_leak` rows are the actionable set: promote those pairs'
    * members to the SAME split (or drop the eval member) before training.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir)
    val splits = corpusWithPlants(spark, dir)
      .select(col("doc_id"), substring(md5(col("text")), 1, 2).as("hh"))
      .selectExpr("doc_id",
        """CASE WHEN hh < 'e0' THEN 'train'
          |     WHEN hh < 'f0' THEN 'val'
          |     ELSE 'test' END AS split""".stripMargin)
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sp_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sp_b")), "doc_b")
      .select(least(col("sp_a"), col("sp_b")).as("split_a"),
        greatest(col("sp_a"), col("sp_b")).as("split_b"),
        col("jaccard"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(round(jaccard * 10000) AS BIGINT)")).cast("long")
          .as("sum_jaccard_e4"),
        max(col("jaccard")).as("max_jaccard"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
      .select("split_a", "split_b", "is_leak", "n_pairs", "sum_jaccard_e4",
        "max_jaccard")
  }

  /** #340 Duplication-inflation accounting — the "what does near-dedup
    * buy" readout: per near-dup family, the token mass the corpus carries
    * vs what the keep-first survivor contributes, i.e. the exact number
    * of training tokens the cluster wastes if shipped undeduplicated.
    * The corpus-scale inputs are both memoized snapshot artifacts (the
    * cluster assignment parquet and a token-count projection); the output
    * is one row per family — thousands, not corpus-sized. `waste_e4` is
    * exact integer fixed-point, safe to threshold in a pipeline gate.
    */
  def dupInflation(spark: SparkSession, dir: String): DataFrame = {
    val toks = corpusWithPlants(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    dedupClusters(spark, dir)
      .join(toks, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).cast("long")
          .as("kept_tokens"))
      .withColumn("wasted_tokens",
        (col("total_tokens") - col("kept_tokens")).cast("long"))
      .withColumn("waste_e4",
        expr("wasted_tokens * 10000 DIV total_tokens"))
      .select("cluster_id", "n_members", "total_tokens", "kept_tokens",
        "wasted_tokens", "waste_e4")
  }

  /** #307 Dedup threshold tuning curve — before picking the Jaccard
    * cutoff you look at the similarity mass you'd be cutting: one decile
    * histogram over ALL scored candidate pairs (the [[ngramJaccard]]
    * blocking with the verify threshold removed), with the cumulative
    * pair count at-or-above each decile — the survivors-vs-threshold
    * curve read straight off the frame, same single candidate-scoring
    * pass the dedup itself runs. The histogram frame is ≤10 rows, so the
    * reverse cumsum is a free window.
    *
    * Growth model (sf10 sweep reads ~17x wall at 100x data): with the
    * verify threshold at 0.0 NO candidate pair is pruned, so the scored
    * mass is the full block-collision pair count — the same
    * pairs ∝ docs^(1+α) term as [[containment]], here with zero
    * post-filter relief by construction (the curve's whole point is to
    * see the sub-threshold mass). The ratio tracks the dedup family's
    * candidate growth and stays far under the 150x gate; it cannot be
    * reduced without sampling the curve, which would change what the
    * row computes.
    */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val scored = ngramJaccard(spark, dir, threshold = 0.0)
    val hist = scored
      .groupBy(expr("CAST(floor(jaccard * 10) AS BIGINT)").as("decile"))
      .agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hist.withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
      .select("decile", "n_pairs", "n_at_or_above")
  }

  /** URL canonicalization: fold the surface variations that make one web
    * page look like many distinct crawl records — scheme/host case, the
    * default :80 port, fragments, `utm_*` tracking parameters, and a
    * trailing path slash — while PRESERVING everything meaningful (real
    * query params, the path itself, a non-default port). The steps are a
    * fixed regexp pipeline in the Java∩RE2 common dialect (anchors +
    * character classes, no lookaround), so the DuckDB oracle replays the
    * identical PATTERN text byte-for-byte (rewrite-group syntax is the
    * one divergence: Java `$1` vs RE2 `\1`).
    */
  def canonicalUrl(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // 1. drop the fragment
    val noFrag = regexp_replace(raw, "#.*$", "")
    // 2. case-fold scheme://host[:port] (the authority is case-insensitive
    //    per RFC 3986; the path/query are NOT and stay untouched)
    val pre = regexp_extract(noFrag, "^([a-zA-Z]+://[^/?]+)", 1)
    val rest = noFrag.substr(length(pre) + lit(1), lit(1 << 20))
    val canonPre = regexp_replace(lower(pre), ":80$", "")
    // 3. strip utm_* params — anchored to a ?/& separator so a param
    //    whose NAME merely ends in "utm_" (?xutm_source=1) or a path
    //    segment containing "utm_...=" is never touched; a run of
    //    consecutive utm params is consumed in one match (the (...)+),
    //    the kept separator may dangle and is swept after. The one
    //    cross-engine divergence is rewrite-group syntax ($1 here,
    //    \1 in the DuckDB oracle) — the PATTERN text is identical.
    val noUtm = regexp_replace(rest, "([?&])(utm_[a-z]+=[^&]*(&|$))+", "$1")
    val sweep = regexp_replace(noUtm, "[?&]$", "")
    // 4. trailing path slash: bare end or immediately before the query
    val noSlash = regexp_replace(regexp_replace(sweep, "/\\?", "?"), "/$", "")
    concat(canonPre, noSlash)
  }

  /** #375 `doc_url_dedup` — crawl-frontier URL dedup: canonicalize, then
    * collapse records that differ only in tracking noise. The testdata
    * documents carry no URL column, so a deterministic URL is synthesized
    * from `doc_id` with the three classic variant axes planted (case +
    * default port, utm params in different positions, fragment + trailing
    * slash) and three doc_ids sharing each canonical page — identically in
    * the oracle, byte-exact cross-engine input, same convention as
    * [[graft.operators.Redact.piiRedact]]'s synthesized contacts. Output:
    * one row per canonical URL with the crawl-dedup decision (keeper =
    * min doc_id) and the variant census.
    *
    * Scale: canonicalization is row-local codegen'd regexp; the collapse
    * is ONE hash aggregate on the canonical key. At 100 TB the canonical
    * URL replaces the raw URL as the dedup/bucketing key everywhere
    * downstream, so this runs as a scan-projection, not a join.
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(spark, dir).selectExpr(
      "doc_id",
      """CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'Http' ELSE 'http' END
        || '://' ||
        CASE doc_id % 2 WHEN 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END
        || CASE doc_id % 3 WHEN 0 THEN ':80' ELSE '' END
        || '/crawl/page-' || CAST(doc_id DIV 3 AS STRING)
        || CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END
        || CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed&ref=rss'
                           WHEN 1 THEN '?ref=rss&utm_campaign=x'
                           ELSE '?ref=rss' END
        || CASE doc_id % 2 WHEN 1 THEN '#sec-2' ELSE '' END AS url""")
    raw
      .withColumn("canonical_url", canonicalUrl(col("url")))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw_variants"),
        min(col("doc_id")).as("keeper_doc_id"))
      .withColumn("n_dropped", (col("n_docs") - 1L).cast("long"))
  }
}
