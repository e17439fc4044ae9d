package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bucketing, Similarity}

/** Scale-path operators: IVF ANN recall, bucketed shuffle-free joins. */
class ScaleSpec extends SparkSpec {

  test("range search returns every neighbor past tau and nothing weaker") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("range").toString
    Seq(
      (0L, Array(1.0f, 0.0f), 0),   // the query (vec_id < 8)
      (10L, Array(1.0f, 0.0f), 0),  // cos 1.0 -> in
      (11L, Array(0.8f, 0.6f), 0),  // cos 0.8 -> in
      (12L, Array(0.0f, 1.0f), 0))  // cos 0.0 -> out
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.annRangeSearch(spark, dir, tau = 0.5).collect()
      .map(r => r.getAs[Long]("nid") ->
        ((r.getAs[Double]("cos"), r.getAs[Long]("n_matches")))).toMap
    assert(out.keySet === Set(10L, 11L), out.toString)
    assert(out(10L) === ((1.0, 2L)))
    assert(out(11L) === ((0.8, 2L)))
  }

  test("IVF index lifecycle: delta add ≡ bulk assignment, recall floor, pruned scan, shuffle-free assign") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // lifecycle index: build on evens, add odds as a delta
    val lifeDir = java.nio.file.Files.createTempDirectory("ivf_life").toString
    Similarity.buildIvfIndex(spark, e.filter(col("vec_id") % 2 === 0), lifeDir)
    Similarity.ivfIndexAdd(spark, e.filter(col("vec_id") % 2 =!= 0), lifeDir)
    // bulk twin: SAME centroids (frozen by the build), whole corpus in one shot
    val bulkDir = java.nio.file.Files.createTempDirectory("ivf_bulk").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$bulkDir"))
    spark.read.parquet(s"$lifeDir/centroids").write
      .parquet(s"$bulkDir/centroids")
    Similarity.ivfIndexAdd(spark, e, bulkDir)
    def postings(d: String) = spark.read.parquet(s"$d/postings")
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(postings(lifeDir) === postings(bulkDir),
      "incremental add diverged from bulk assignment")
    // search through the artifact: recall floor vs brute force
    val queries = e.filter(col("vec_id") < 8)
    val got = Similarity.ivfIndexSearch(spark, lifeDir, queries)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.annCosineTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.5, s"index-search recall $recall too low (4/16 probed)")
    // the postings scan must partition-prune on the probed clusters
    val plan = Similarity.ivfIndexSearch(spark, lifeDir, queries)
      .queryExecution.executedPlan.toString
    // the postings scan (and only it) must carry a non-empty partition
    // predicate — the probed-cluster INSET literal
    assert("PartitionFilters: \\[[^\\]]*INSET".r.findFirstIn(plan).isDefined,
      s"postings scan lost partition pruning:\n$plan")
    // assignment is row-local: zero exchanges of either kind
    val cents = spark.read.parquet(s"$lifeDir/centroids")
      .orderBy("cluster").collect().map(_.getSeq[Float](1).toArray.map(_.toDouble))
    val assignPlan = graft.plans.PlanAudit
      .summarize(Similarity.assignRowLocal(e, cents))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(assignPlan("shuffle_exchanges") == 0 &&
      assignPlan("broadcast_exchanges") == 0,
      s"row-local assignment shuffled: $assignPlan")
  }

  test("int8 quantization bounds reconstruction error; quantized search keeps recall") {
    val qd = Similarity.quantizeEmbeddings(spark, sf)
      .select("vec_id", "scale", "max_err").collect()
    assert(qd.nonEmpty)
    qd.foreach { r =>
      val (scale, err) = (r.getDouble(1), r.getDouble(2))
      assert(err <= scale / 2 + 1e-9,
        s"vec ${r.getLong(0)}: reconstruction error $err exceeds scale/2 ${scale / 2}")
    }
    val brute = Similarity.annCosineTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.annQuantizedTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = quant.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.9, s"quantized-scan recall $recall below 0.9")
  }

  test("binary (sign-bit) ANN: exact word packing, positive recall, exact rerank") {
    import spark.implicits._
    // packing: a known sign pattern maps to known words — bits 0,2 set in
    // word 0 (dims 1,3 positive), bit 1 set in word 1 (dim 34 positive)
    val emb = Array.tabulate(64)(i =>
      if (i == 0 || i == 2 || i == 33) 1.0f else -1.0f)
    val dir = java.nio.file.Files.createTempDirectory("binann").toString
    Seq((0L, emb.toSeq, 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val p = Similarity.annBinaryTopK(spark, dir) // empty result (1 vector)
    assert(p.collect().isEmpty)
    // the packing itself, via the same expression the operator uses
    val words = Tables.embeddings(spark, dir).selectExpr(
      "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc + CASE WHEN element_at(embedding, 0 + j + 1) > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END) AS b0",
      "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc + CASE WHEN element_at(embedding, 32 + j + 1) > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END) AS b1")
      .collect().head
    assert((words.getLong(0), words.getLong(1)) === ((5L, 2L)))
    // on the corpus: coarse Hamming pool + exact rerank recovers most of
    // the brute top-k (sign sketch ≈ angle)
    val brute = Similarity.annCosineTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bin = Similarity.annBinaryTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bin.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.4, s"binary-sketch recall $recall below 0.4 (1-bit/dim coarse)")
  }

  test("two-stage rerank beats-or-matches single-stage quantized recall") {
    val brute = Similarity.annCosineTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerank = Similarity.annRerankTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.annQuantizedTopK(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rRecall = rerank.count(brute.contains).toDouble / brute.size
    val qRecall = quant.count(brute.contains).toDouble / brute.size
    assert(rRecall >= qRecall, s"rerank recall $rRecall < quantized $qRecall")
    assert(rRecall >= 0.9, s"rerank recall $rRecall below 0.9")
    // a true neighbor inside the coarse list must be ranked exactly:
    // rerank's cosine for shared pairs equals the exact scan's
    val bruteCos = Similarity.annCosineTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.annRerankTopK(spark, sf).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c => assert(c == r.getDouble(2),
        s"pair $key: rerank cos ${r.getDouble(2)} != exact $c"))
    }
  }

  test("MinHashAgg signatures estimate set Jaccard within sketch error") {
    val est = Similarity.supplierAssortmentSim(spark, sf, k = 128)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact Jaccard from the (small at this SF) real sets
    val sets = Tables.lineitem(spark, sf).select("l_suppkey", "l_partkey")
      .collect().groupBy(_.getLong(0)).map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
    // banding keeps only likely-similar pairs; every RETURNED estimate must
    // bound the exact Jaccard, and similar suppliers must surface
    assert(est.nonEmpty)
    est.foreach { case ((x, y), e) =>
      val exact = sets(x).intersect(sets(y)).size.toDouble / sets(x).union(sets(y)).size
      assert(math.abs(e - exact) < 0.2, s"pair ($x,$y): est $e vs exact $exact")
    }
  }

  test("PQ-ADC search keeps recall against the exact L2 scan at 32x compression") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val l2 = aggregate(
      zip_with(col("qe"), col("embedding"), (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (a, v) => a + v)
    val w = Window.partitionBy("qid").orderBy(col("d2").asc, col("nid"))
    val exact = e.select(col("vec_id").as("nid"), col("embedding"))
      .crossJoin(broadcast(q)).filter(col("nid") =!= col("qid"))
      .withColumn("d2", l2)
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // overfetch 4x: the standard retrieve-then-rerank budget
    val pq = Similarity.annPqTopK(spark, sf, k = 20)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (qid, ex) =>
      (ex intersect pq.getOrElse(qid, Set.empty)).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // measured ~0.97 at sf0.01 (m=8, k=256); generous margin for corpus drift
    assert(mean >= 0.7, s"PQ recall@20-of-exact5 fell to $mean")
    // the IVF-pruned PQ scan trades recall for a 4/16 scan cut; at this
    // tiny SF clusters are diffuse (500 vectors over 16 cells), so the
    // pin is an absolute floor, not closeness to full PQ (measured 0.65
    // here, higher at larger SF where cells tighten)
    val ivfpq = Similarity.annIvfPqTopK(spark, sf, k = 20)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls2 = exact.map { case (qid, ex) =>
      (ex intersect ivfpq.getOrElse(qid, Set.empty)).size.toDouble / ex.size
    }
    val mean2 = recalls2.sum / recalls2.size
    assert(mean2 >= 0.5, s"IVF-PQ recall collapsed to $mean2 (full PQ: $mean)")
  }

  test("IVF-PQ model trains once and serves repeated query batches identically") {
    val model = Similarity.trainIvfPq(spark, sf)
    def run() = Similarity.annIvfPqServe(spark, sf, model, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    val first = run()
    assert(first.nonEmpty)
    // same model, same answers — and matches the retrain-per-call entry
    assert(run() == first)
    val viaEntry = Similarity.annIvfPqTopK(spark, sf, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(viaEntry == first)
    // the index persists: a loaded model serves the same answers
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_model").toString
    try {
      Similarity.saveIvfPq(spark, model, dir)
      val loaded = Similarity.loadIvfPq(spark, dir)
      assert(loaded.m == model.m && loaded.kCodes == model.kCodes &&
        loaded.codebook.sameElements(model.codebook))
      val viaLoaded = Similarity.annIvfPqServe(spark, sf, loaded, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
      assert(viaLoaded == first)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("embDimStats computes exact fixed-point dimension stats") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dimstats").toString
    Seq((1L, Array(1.0f, -0.5f), "a"), (2L, Array(0.5f, 0.5f), "b"),
      (3L, Array(0.0f, 1.0f), "a"))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = Similarity.embDimStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // dim 0: 1e6, 5e5, 0 → sum 1.5e6, mean|v| 5e5
    assert(rows(0L) == ((3L, 1500000L, 500000L, 0L, 1000000L)), s"dim0 ${rows(0L)}")
    // dim 1: -5e5, 5e5, 1e6 → sum 1e6 (negative member exact), mean|v| 666666
    assert(rows(1L) == ((3L, 1000000L, 666666L, -500000L, 1000000L)), s"dim1 ${rows(1L)}")
  }

  test("hardNegatives: wrong-label only, ranked under the unconstrained top-k") {
    import org.apache.spark.sql.functions._
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hn = Similarity.hardNegatives(spark, sf, k = 5).collect()
    assert(hn.nonEmpty)
    hn.foreach { r =>
      val (qid, nid, negLabel) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(labels(nid) == negLabel && negLabel != labels(qid),
        s"negative $nid shares label with query $qid")
    }
    // a query's best hard negative can never beat its unconstrained best
    val best = Similarity.annCosineTopK(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    hn.filter(_.getInt(4) == 1).foreach { r =>
      assert(r.getDouble(3) <= best(r.getLong(0)) + 1e-9)
    }
  }

  test("embKnnConsistency: bounded scores, full sample accounted, corpus-independent cap") {
    import org.apache.spark.sql.functions._
    val out = Similarity.embKnnConsistency(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val c = r.getLong(2)
      assert(c >= 0L && c <= 10000L, s"consistency out of range: $r")
    }
    val n = Tables.embeddings(spark, sf).count()
    val nSample = math.min(n, Similarity.KnnAuditQueries.toLong)
    assert(out.map(_.getLong(1)).sum == nSample, "sample rows lost")
    // the scale contract: the query count is min(n, cap) — a corpus 10x
    // bigger runs the SAME number of queries (work = cap x n, linear),
    // unlike the old vec_id % 10 sample (n^2/10). Doubling the corpus by
    // id-shifted self-union must leave the sample size at the cap.
    val e = Tables.embeddings(spark, sf)
    val twox = e.unionByName(e.withColumn("vec_id", col("vec_id") + lit(1000000L)))
    val q2 = twox
      .withColumn("rk", md5(concat(lit("knnq:"), col("vec_id"))))
      .orderBy(col("rk"), col("vec_id")).limit(Similarity.KnnAuditQueries)
      .count()
    assert(q2 == math.min(2 * n, Similarity.KnnAuditQueries.toLong),
      s"sample must cap at ${Similarity.KnnAuditQueries}, got $q2")
  }

  test("embPca: projection preserves geometry, whitening equalizes scales") {
    import org.apache.spark.sql.functions._
    val k = 4
    val out = Similarity.embPca(spark, sf, k)
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() == n)
    val first = out.select(size(col("pc")), size(col("white"))).head()
    assert(first.getInt(0) == k && first.getInt(1) == k)
    // component variances come out ORDERED (PC1 explains most) and the
    // whitened components all land near unit variance
    val stats = out.select(posexplode(col("pc")).as(Seq("j", "v")))
      .groupBy("j").agg(var_samp(col("v")).as("pv")).orderBy("j")
      .collect().map(_.getDouble(1))
    assert(stats.zip(stats.tail).forall { case (a, b) => a >= b - 1e-6 },
      s"explained variance not monotone: ${stats.mkString(",")}")
    val wstats = out.select(posexplode(col("white")).as(Seq("j", "v")))
      .groupBy("j").agg(var_samp(col("v")).as("wv"))
      .collect().map(_.getDouble(1))
    assert(wstats.forall(v => math.abs(v - 1.0) < 0.05),
      s"whitened variance off unit: ${wstats.mkString(",")}")
    // distinct components are decorrelated in the projected basis
    val c01 = out.select(
      corr(element_at(col("pc"), 1), element_at(col("pc"), 2)).as("c")).head().getDouble(0)
    assert(math.abs(c01) < 0.05, s"PC1/PC2 correlated: $c01")
  }

  test("knnGraph: bucket-local pruning is lossless vs scoring all candidate pairs") {
    // the production path prunes to k edges per member INSIDE each
    // (table, bucket) group before the global top-k; this re-derives the
    // same candidate set the old join shape saw (band → pair join →
    // exact cosine on EVERY pair → mirror → global top-k) and requires
    // bit-identical output — a global top-k edge is local top-k in every
    // bucket containing both ends, so pruning must never change results
    import graft.operators.{Dedup, Similarity}
    import graft.functions.GraftFunctions
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val got = Similarity.knnGraphFrom(e, k = 5)
    val banded = Dedup.capBuckets(e.select(col("vec_id"),
      explode(array((0 until 8).map(t => struct(lit(t).as("tbl"),
        GraftFunctions.hyperplaneBucket(col("embedding"), 4, t).as("bucket"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket")),
      Seq("tbl", "bucket"), "vec_id", cap = 4000)
    val a = banded.select(col("tbl"), col("bucket"), col("vec_id").as("src"))
    val b = banded.select(col("tbl"), col("bucket"), col("vec_id").as("dst"))
    val cand = a.join(b, Seq("tbl", "bucket")).filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("src"), col("embedding").as("es")), "src")
      .join(e.select(col("vec_id").as("dst"), col("embedding").as("ed")), "dst")
      .withColumn("cos", GraftFunctions.cosineSim(col("es"), col("ed")))
      .select("src", "dst", "cos")
    val mirrored = scored.unionByName(
      scored.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
    val ref = graft.plans.TopK.topKPerGroup(mirrored, Seq("src"),
      Seq(("cos", true), ("dst", false)), 5)
      .select(col("src"), col("dst"), round(col("cos"), 4).as("cos"), col("rnk"))
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
      "bucket-local pruning changed the graph")
  }

  test("knnGraphAccounting: funnel invariants tie out against the graph") {
    import graft.operators.Similarity
    val r = Similarity.knnGraphAccounting(spark, sf).head()
    def l(c: String): Long = r.getLong(r.fieldIndex(c))
    // cap not binding at test SFs: every vector lands in all 8 tables
    assert(l("n_banded") == l("n_vectors") * 8)
    assert(l("max_bucket") <= 4000)
    // each (bucket, member) emits at most k local edges; the funnel only
    // narrows from there (dedup across shared buckets, then global top-k)
    assert(l("n_local_edges") <= l("n_banded") * 5)
    assert(l("n_local_edges") <= 2 * l("n_pair_slots"))
    assert(l("n_candidate_edges") <= l("n_local_edges"))
    assert(l("n_final_edges") <= l("n_candidate_edges"))
    assert(l("n_final_edges") == Similarity.knnGraph(spark, sf, k = 5).count())
  }

  test("knnGraph: valid adjacency, recall@1 against the brute-force graph") {
    import graft.operators.Similarity
    val g = Similarity.knnGraph(spark, sf, k = 5).cache()
    // adjacency invariants: no self-loops, ≤k ranked edges per node,
    // scores in [-1, 1] and non-increasing with rank
    assert(g.filter(col("src") === col("dst")).count() == 0)
    assert(g.groupBy("src").count().filter(col("count") > 5).count() == 0)
    assert(g.filter(col("cos") < -1.0001 || col("cos") > 1.0001).count() == 0)
    val order = g.groupBy("src").agg(
      min(when(col("rnk") === 1, col("cos"))).as("first"),
      max(when(col("rnk") > 1, col("cos"))).as("rest"))
    assert(order.filter(col("rest") > col("first")).count() == 0)
    // recall@1: each node's TRUE nearest neighbour (brute force) should
    // appear in its approximate top-5 list for most nodes
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val brute = e.crossJoin(e.select(col("vec_id").as("nid"), col("embedding").as("ne")))
      .filter(col("vec_id") =!= col("nid"))
      .withColumn("cos", graft.functions.GraftFunctions.cosineSim(col("embedding"), col("ne")))
    val top1 = graft.plans.TopK.topKPerGroup(
        brute.select(col("vec_id").as("src"), col("nid"), col("cos")),
        Seq("src"), Seq(("cos", true), ("nid", false)), 1)
      .select(col("src"), col("nid"))
    val hits = top1.join(g.select(col("src"), col("dst").as("nid")), Seq("src", "nid"))
      .count().toDouble
    val total = top1.count().toDouble
    assert(hits / total >= 0.6,
      s"knnGraph recall@1 = ${hits / total} ($hits/$total)")
  }

  test("lofFrom flags a planted off-manifold point as the top outlier") {
    import spark.implicits._
    import graft.operators.Similarity
    // a tight cluster near e1 (unit-ish vectors, small jitter) + one
    // far-off point; LOF works on RELATIVE density so the outlier must
    // dominate even though cluster members are mutually similar
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val pts = (0 until 12).map { i =>
      (i.toLong, v(1.0, 0.01 * i, 0.02 * (i % 3), 0.0))
    } :+ (99L, v(-0.2, -1.0, 0.4, 0.8))
    val e = pts.toDF("vec_id", "embedding")
    // brute-force graph so the spec tests LOF itself, not the blocking
    val pairs = e.crossJoin(e.select(col("vec_id").as("nid"), col("embedding").as("ne")))
      .filter(col("vec_id") =!= col("nid"))
      .withColumn("cos", graft.functions.GraftFunctions.cosineSim(col("embedding"), col("ne")))
    val graph = graft.plans.TopK.topKPerGroup(
        pairs.select(col("vec_id").as("src"), col("nid").as("dst"), col("cos")),
        Seq("src"), Seq(("cos", true), ("dst", false)), 3)
      .select("src", "dst", "cos", "rnk")
    val lof = Similarity.lofFrom(graph).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val outlier = lof(99L)
    val clusterMax = lof.filter(_._1 != 99L).values.max
    assert(outlier > clusterMax,
      s"outlier LOF $outlier should exceed cluster max $clusterMax")
    assert(outlier > 1.2, s"outlier LOF $outlier too close to inlier density")
  }

  test("bucketed join plans without exchanges") {
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 8, Some(s"$wh/b_orders"))
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "b_lineitem", "o_orderkey", 8, Some(s"$wh/b_lineitem"))
    val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(exchanges == 0, s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == Tables.lineitem(spark, sf).count())
  }

  test("as-of merge exec over pre-bucketed sides: ZERO exchanges") {
    // the scenario the custom exec exists for: both sides bucket-stored on
    // the key, so the per-side ClusteredDistribution is already satisfied
    // and the plan reads files -> sorts in place -> merges. The union+window
    // path can never do this (its one frame is the union of both tables).
    val wh = java.nio.file.Files.createTempDirectory("asofwh").toString
    val lg = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_type"), col("value"))
    Bucketing.writeBucketed(
      lg.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "value"),
      "b_asof_l", "user_id", 8, Some(s"$wh/l"))
    Bucketing.writeBucketed(
      lg.filter(col("event_type") =!= "purchase")
        .select(col("event_id").as("r_event_id"), col("user_id"),
          col("ts_us").as("r_ts_us"), col("value").as("r_value")),
      "b_asof_r", "user_id", 8, Some(s"$wh/r"))
    val out = graft.plans.AsOfJoinOp.asofJoinExec(
      spark.table("b_asof_l"), spark.table("b_asof_r"), Seq("user_id"),
      "ts_us", "r_ts_us", Seq("r_event_id", "r_ts_us", "r_value"),
      tiebreak = Seq("r_event_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinMerge"), s"exec missing:\n$plan")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
    assert(exchanges == 0, s"bucketed as-of still shuffles:\n$plan")
    // and it still computes the right thing: parity with the window path
    val viaWindow = graft.operators.AsOf.asofJoin(
      spark.table("b_asof_l"), spark.table("b_asof_r"), Seq("user_id"),
      "ts_us", "r_ts_us", Seq("r_event_id", "r_ts_us", "r_value"),
      tiebreak = Seq("event_id", "r_event_id"))
      .select("event_id", "asof_r_event_id")
    assert(out.select("event_id", "asof_r_event_id").collect().map(_.toString).sorted
      .sameElements(viaWindow.collect().map(_.toString).sorted))
  }

  test("matryoshka eval: full-dim recall is exactly 1, narrower prefixes bounded") {
    val r = Similarity.matryoshkaEval(spark, sf).collect()
      .map(x => x.getInt(0) -> x.getLong(3)).toMap
    assert(r.keySet === Set(1, 2, 4, 8))
    assert(r(1) === 10000L, s"full-dim recall must be exact: ${r(1)}")
    r.values.foreach(v => assert(v >= 0L && v <= 10000L))
    // determinism: identical rerun
    val r2 = Similarity.matryoshkaEval(spark, sf).collect()
      .map(x => x.getInt(0) -> x.getLong(3)).toMap
    assert(r === r2)
  }

  test("MMR rerank suppresses redundant candidates in favor of diverse ones") {
    import spark.implicits._
    // candidates: A (rel .95), A' (exact duplicate), B (rel .90 but far
    // from A: cos(A,B) ≈ 0.719). Pure relevance orders A, A', B; MMR at
    // λ=0.7 must take A, then B — the duplicate pays the full redundancy
    // price (0.7·.95 − 0.3·1.0 = .365 < 0.7·.90 − 0.3·.719 ≈ .414)
    val a = Array(0.95f, 0.312f)
    val b = Array(0.9f, -0.436f)
    val sel = Similarity.mmrSelect(
      Seq((10L, 0.95, a), (11L, 0.95, a), (20L, 0.90, b)), k = 3, lambda = 0.7)
    assert(sel.map(_._1) === Seq(10L, 20L, 11L),
      s"MMR should pick the diverse candidate second: $sel")
    // the duplicate's selection score is exactly λ·rel − (1−λ)·1
    assert(math.abs(sel.last._3 - (0.7 * 0.95 - 0.3)) < 1e-9)
    // corpus path: k rows per query, ranks 1..k, deterministic
    val out = Similarity.annMmrTopK(spark, sf).cache()
    val perQ = out.groupBy("qid").agg(count(lit(1)).as("n"),
      max(col("mmr_rank")).as("mx")).collect()
    assert(perQ.nonEmpty && perQ.forall(r =>
      r.getAs[Long]("n") === Similarity.DefaultK &&
        r.getAs[Long]("mx") === Similarity.DefaultK))
    val again = Similarity.annMmrTopK(spark, sf).collect().map(_.toString).sorted
    assert(again.sameElements(out.collect().map(_.toString).sorted))
    out.unpersist()
  }

  test("filtered ANN equals brute post-filter and honors the predicate") {
    import org.apache.spark.sql.expressions.Window
    val out = Similarity.annFilteredTopK(spark, sf).cache()
    val e = Tables.embeddings(spark, sf)
    // every neighbour satisfies the predicate
    val labelOf = e.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    out.collect().foreach { r =>
      assert(labelOf(r.getAs[Long]("nid")) === r.getAs[Int]("want_label"), s"$r")
    }
    // n_candidates is exactly the per-label corpus census
    val census = e.groupBy("label").count().collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("count")).toMap
    out.collect().foreach { r =>
      assert(r.getAs[Long]("n_candidates") === census(r.getAs[Int]("want_label")))
    }
    // parity with brute-force post-filtering: same top-k set per query
    val q = e.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        ((col("label") + 1) % 10).as("want_label"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val brute = e.select(col("vec_id").as("nid"), col("embedding"), col("label"))
      .crossJoin(broadcast(q))
      .filter(col("label") === col("want_label") && col("nid") =!= col("qid"))
      .withColumn("cos", graft.functions.GraftFunctions.cosineSim(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= Similarity.DefaultK)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Int]("rnk"))).toSet
    val got = out.select("qid", "nid", "rnk").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"), r.getAs[Int]("rnk"))).toSet
    assert(got === brute)
    out.unpersist()
  }

  test("IVF tuning curve: recall and scan cost rise monotonically, full probe is exact") {
    val rows = Similarity.annIvfTuning(spark, sf).collect()
      .map(r => r.getAs[Int]("n_probe") ->
        ((r.getAs[Long]("recall_ppm"), r.getAs[Long]("n_scanned"))))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8, 16))
    rows.sliding(2).foreach { case Array((pa, (ra, sa)), (pb, (rb, sb))) =>
      assert(ra <= rb, s"recall dropped from probe $pa to $pb: $ra -> $rb")
      assert(sa <= sb, s"scan cost shrank from probe $pa to $pb")
    }
    // probing every cell IS the brute scan: recall must be exactly 1
    assert(rows.last._2._1 === 1000000L,
      s"full probe not exact: ${rows.last}")
  }

  test("annHybridRrf: RRF arithmetic exact, pool bound held, arms genuinely fuse") {
    val rows = graft.operators.Similarity.annHybridRrf(spark, sf).collect()
    val perQ = rows.groupBy(_.getLong(0))
    perQ.values.foreach { g =>
      assert(g.length == 5 && g.map(_.getInt(5)).sorted.sameElements(1 to 5))
    }
    rows.foreach { r =>
      val (rv, rl) = (r.getLong(3), r.getLong(4))
      assert(rv >= 0 && rv <= 20 && rl >= 0 && rl <= 20 && (rv > 0 || rl > 0))
      val want = (if (rv > 0) 1000000L / (60 + rv) else 0L) +
        (if (rl > 0) 1000000L / (60 + rl) else 0L)
      assert(r.getLong(2) == want, s"rrf_e6 mismatch: $r")
    }
    // fusion is real at this SF: some survivors ranked by BOTH arms, and
    // within each query rrf_e6 is non-increasing in rnk
    assert(rows.count(r => r.getLong(3) > 0 && r.getLong(4) > 0) >= 2)
    perQ.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(5)).map(_.getLong(2))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }
}
