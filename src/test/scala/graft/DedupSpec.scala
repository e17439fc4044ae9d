package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.{GraftFunctions, TextHashes}

/** The near-dup operators must find the deterministically planted
  * perturbed copies (doc_id + 1,000,000 = original with last token dropped).
  */
class DedupSpec extends SparkSpec {

  private val planted = Tables.documents(spark, sf)
    .filter(col("doc_id") % 20 === 0).select("doc_id")
    .collect().map(_.getLong(0)).toSet

  test("minhash+LSH finds planted near-dup pairs") {
    val pairs = Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count(id => pairs.contains((id, id + 1000000L)))
    assert(found >= (planted.size * 0.8).toInt,
      s"minhash found $found of ${planted.size} planted pairs")
  }

  test("incremental dedup: exact accounting, near plant recovery, index round-trip") {
    // exact arm: every re-crawl (corpus doc_id % 7 = 1, text unchanged) is
    // an exact dup; totals conserve per language
    val ex = Dedup.incrementalExact(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val nRecrawl = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 1).count()
    assert(ex.values.map(_._2).sum >= nRecrawl, "a re-crawled exact copy went unflagged")
    assert(ex.values.forall { case (d, dup, nov) => d == dup + nov }, "counts don't conserve")

    // near arm: every near-copy plant (corpus doc_id % 20 = 5, +4M) matches
    // its original above threshold
    val near = Dedup.incrementalNearDemo(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plants = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 20 === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val recovered = plants.count(id => near.contains((id + 4000000L, id)))
    assert(recovered >= (plants.size * 0.8).toInt,
      s"recovered $recovered of ${plants.size} planted near-copies")
    // re-crawls are exact copies → must also surface as near-dups of their original
    val recrawls = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exactNear = recrawls.count(id => near.contains((id + 3000000L, id)))
    assert(exactNear == recrawls.size, "an exact re-crawl missed the band join")

    // index round-trip: build → load from parquet → identical near result
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx").toString
    try {
      Dedup.buildDedupIndex(Tables.documents(spark, sf)
        .filter(col("doc_id") % 10 =!= 0).select("doc_id", "lang", "text"), dir)
      val loaded = spark.read.parquet(s"$dir/bands")
      val corpusText = Tables.documents(spark, sf).filter(col("doc_id") % 10 =!= 0)
      val deltaDocs = Dedup.incrementalNearDemo(spark, sf) // fresh run for parity
      val viaIndex = Dedup.incrementalNear(loaded, corpusText,
        // same delta the demo builds
        {
          val docs2 = Tables.documents(spark, sf).select("doc_id", "lang", "text")
          val corpus2 = docs2.filter(col("doc_id") % 10 =!= 0)
          docs2.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
            .unionByName(corpus2.filter(col("doc_id") % 7 === 1)
              .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"), col("text")))
            .unionByName(corpus2.filter(col("doc_id") % 20 === 5)
              .select((col("doc_id") + 4000000L).as("doc_id"), col("lang"),
                expr("array_join(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 1)), ' ')").as("text")))
        })
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex == deltaDocs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        "persisted index gives a different answer than the index-free run")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ensemble dedup: planted pairs confirmed by both signals") {
    val rows = Dedup.ensembleDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    val confirmed = rows.filter(_.getBoolean(4))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (orig, orig+1M) pair that minhash surfaced must also
    // pass the cosine gate — jittered embeddings keep cosine near 1
    val planted20 = planted.filter(_ % 20 == 0)
    val found = planted20.count(id => confirmed.contains((id, id + 1000000L)))
    assert(found >= (planted20.size * 0.8).toInt,
      s"ensemble confirmed $found of ${planted20.size} planted pairs")
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.5, s"pair below the minhash threshold: $r")
      assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0001)
    }
  }

  test("simhash banding finds planted near-dup pairs") {
    val pairs = Dedup.simhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count(id => pairs.contains((id, id + 1000000L)))
    assert(found >= (planted.size * 0.6).toInt,
      s"simhash found $found of ${planted.size} planted pairs")
  }

  test("ngram jaccard verifies planted pairs above threshold") {
    val rows = Dedup.ngramJaccard(spark, sf).cache()
    assert(rows.filter(col("jaccard") < 0.4).count() == 0)
    val pairs = rows.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = planted.count(id => pairs.contains((id, id + 1000000L)))
    assert(found >= (planted.size * 0.5).toInt)
  }

  test("connected components cluster planted pairs with their originals") {
    val clusters = graft.operators.Dedup.dedupClusters(spark, sf).cache()
    // every planted pair (id, id+1e6) must share a cluster id
    val byDoc = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val paired = planted.filter(id => byDoc.contains(id) && byDoc.contains(id + 1000000L))
    assert(paired.nonEmpty)
    paired.foreach { id =>
      assert(byDoc(id) == byDoc(id + 1000000L), s"pair $id split across clusters")
    }
    // exactly one survivor per cluster
    val survivors = clusters.filter(col("keep")).groupBy("cluster_id").count()
    assert(survivors.filter(col("count") =!= 1).count() == 0)
    // transitivity sanity: a synthetic chain a-b, b-c lands in one cluster
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = graft.operators.Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == cc(3L) && cc(1L) == cc(2L))
    assert(cc(10L) == cc(11L) && cc(10L) != cc(1L))
  }

  test("brute-force ANN matches a locally computed top-k") {
    val embs = Tables.embeddings(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val got = Similarity.annCosineTopK(spark, sf)
      .filter(col("qid") === 0).orderBy("rnk")
      .select("nid").collect().map(_.getLong(0)).toSeq
    val q = embs(0L)
    val expected = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, TextHashes.cosineF(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got == expected)
  }

  test("LSH ANN returns plausible neighbors (subset of bucket, ranked)") {
    val df = Similarity.annLshTopK(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("cos") > 1.0 || col("cos") < -1.0).count() == 0)
    assert(df.filter(col("rnk") > Similarity.DefaultK).count() == 0)
  }

  test("LSH-blocked embedding dedup recovers the exact near-dup pairs") {
    // exact all-pairs baseline at the near-identical threshold
    val exact = graft.operators.Dedup.embeddingNearDup(spark, sf, tau = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.operators.Dedup.embeddingNearDupLsh(spark, sf, tau = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (cosine verify on candidates)
    assert(lsh.subsetOf(exact), s"LSH emitted non-near-dup pairs: ${lsh -- exact}")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"recall $recall below 0.8 (${lsh.size}/${exact.size})")
    }
    // blocking must also prune: candidate pairs ≪ all pairs at tau=0.4
    val n = Tables.embeddings(spark, sf).count()
    val lshAll = graft.operators.Dedup.embeddingNearDupLsh(spark, sf).count()
    assert(lshAll < n * (n - 1) / 2, "blocking did not prune the pair space")
  }

  test("LSH accounting: funnel identities hold and replica planting grows pairs superlinearly") {
    import graft.operators.Dedup
    // identities on the corpus run (same stages the dedup itself runs)
    val acc = Dedup.embeddingLshAccounting(spark, sf).collect()(0)
    val (nVec, nBand, nCand, nVer) =
      (acc.getAs[Long]("n_vectors"), acc.getAs[Long]("n_banded"),
        acc.getAs[Long]("n_candidates"), acc.getAs[Long]("n_verified"))
    assert(nBand === nVec * 8, s"cap fired at test SF: $nBand of ${nVec * 8}")
    assert(nVer <= nCand, "verified pairs exceed candidates")
    assert(nCand < nVec * (nVec - 1) / 2, "blocking generated the full pair space")
    assert(nVer === Dedup.embeddingNearDupLsh(spark, sf).count(),
      "accounting's verified count diverges from the dedup output")
    // growth model: replicate the corpus 2x with the ScaleUp shift
    // (fixed-direction 0.03 per replica) — family pair mass is quadratic
    // in replica count, so candidates must grow faster than the 2x data
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val off = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val twox = base.unionByName(base
      .withColumn("vec_id", col("vec_id") + off)
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> CAST(x + 0.03 * ((i % 5) - 2) AS FLOAT))")))
    val acc2 = Dedup.embeddingLshAccountingFrom(twox).collect()(0)
    val nCand2 = acc2.getAs[Long]("n_candidates")
    assert(acc2.getAs[Long]("n_vectors") === nVec * 2)
    assert(nCand2 > nCand * 2,
      s"candidates grew sublinearly ($nCand -> $nCand2 at 2x data) — " +
        "the sf1 growth model (pairs ∝ family², not n) no longer holds")
  }

  test("hyperplane bucket expression matches its kernel and salts differ") {
    val rows = Tables.embeddings(spark, sf).limit(50)
      .select(col("embedding"),
        GraftFunctions.hyperplaneBucket(col("embedding"), 8).as("b0"),
        GraftFunctions.hyperplaneBucket(col("embedding"), 8, 3).as("b3"))
      .collect()
    rows.foreach { r =>
      val emb = r.getSeq[Float](0).toArray
      assert(r.getInt(1) == TextHashes.hyperplaneBucket(emb, 8, 0))
      assert(r.getInt(2) == TextHashes.hyperplaneBucket(emb, 8, 3))
    }
    // independent plane sets: the two bucketings disagree on some vectors
    assert(rows.exists(r => r.getInt(1) != r.getInt(2)))
  }

  test("custom expressions match their kernels (codegen path)") {
    import org.apache.spark.unsafe.types.UTF8String
    val df = Tables.documents(spark, sf).limit(50)
      .select(col("text"),
        GraftFunctions.simhash64(col("text")).as("sh"),
        GraftFunctions.rollingMinHash(col("text"), 32).as("rh"))
    df.collect().foreach { r =>
      val t = UTF8String.fromString(r.getString(0))
      assert(r.getLong(1) == TextHashes.simhash64(t))
      assert(r.getLong(2) == TextHashes.rollingMinHash(t, 32))
    }
    // extensions-injected minhash_sig length check via the wrapper
    val sig = Tables.documents(spark, sf).limit(5)
      .select(GraftFunctions.minhashSig(col("text"), 16).as("sig"))
    sig.collect().foreach(r => assert(r.getSeq[Long](0).length == 16))
    // the same functions from plain SQL (registered with the session)
    Tables.documents(spark, sf).limit(1).createOrReplaceTempView("t_docs")
    val viaSql = spark.sql(
      "SELECT simhash64(text) AS a, rolling_min_hash(text, 32) AS b, " +
        "cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c FROM t_docs").first()
    assert(math.abs(viaSql.getDouble(2) - 1.0) < 1e-12)
  }

  test("semantic dedup drops planted jittered copies, keep rule is consistent") {
    val e = Dedup.embeddingsWithPlants(spark, sf)
    val tau = 0.9
    val stats = Dedup.semanticDedupFrom(e, tau, nClusters = 16).collect()
    // accounting invariant holds per cluster
    stats.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_dup_pairs"))
    }
    assert(stats.map(_.getAs[Long]("n_members")).sum == e.count())
    // a jittered plant is near-identical to its source -> same cluster with
    // overwhelming probability; most plants must cost one member somewhere
    val totalDropped = stats.map(_.getAs[Long]("n_dropped")).sum
    val nPlants = e.filter(col("vec_id") >= 1000000L).count()
    assert(totalDropped >= (nPlants * 0.8).toLong,
      s"dropped $totalDropped of $nPlants planted near-dups")
    // exactly one of each planted (src, src+1M) pair survives
    val losers = Dedup.semanticLosers(e, tau, nClusters = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val srcIds = e.filter(col("vec_id") % 16 === 0 && col("vec_id") < 1000000L)
      .select("vec_id").collect().map(_.getLong(0))
    // pairwise keep rule: at most one member of a planted pair is dropped
    // BY THAT PAIR; both can only vanish through a third natural near-dup,
    // which the synthetic corpus essentially lacks
    val bothDropped = srcIds.count(id =>
      losers.contains(id) && losers.contains(id + 1000000L))
    assert(bothDropped <= (srcIds.length * 0.1).toInt,
      s"$bothDropped of ${srcIds.length} planted pairs lost BOTH members")
  }

  test("semantic dedup auto-k holds invariants at two corpus sizes") {
    // k ≈ √n rule itself
    assert(Dedup.autoClusters(4L) == 8)       // floor
    assert(Dedup.autoClusters(10000L) == 100) // √n
    assert(Dedup.autoClusters(10_000_000_000L) == 65536) // cap
    val full = Dedup.embeddingsWithPlants(spark, sf)
    for (corpus <- Seq(full, full.filter(col("vec_id") % 4 === 0))) {
      val n = corpus.count()
      val stats = Dedup.semanticDedupFrom(corpus, tau = 0.9).collect()
      // auto-k clustered frame still accounts for every vector exactly once
      assert(stats.map(_.getAs[Long]("n_members")).sum == n)
      stats.foreach { r =>
        assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
          r.getAs[Long]("n_members"))
      }
      // plants are still mostly caught with k derived from the corpus
      val dropped = stats.map(_.getAs[Long]("n_dropped")).sum
      val nPlants = corpus.filter(col("vec_id") >= 1000000L).count()
      assert(dropped >= (nPlants * 0.8).toLong,
        s"auto-k dropped $dropped of $nPlants planted near-dups (n=$n)")
    }
  }

  test("containment catches quoted-whole docs that symmetric Jaccard misses") {
    val out = Dedup.containment(spark, sf).cache()
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 20 === 5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // planted pairs: (inner d, container d + 3000000)
    val recovered = out
      .filter(col("outer_doc") === col("inner_doc") + 3000000L)
      .collect()
    assert(recovered.length >= (planted.size * 0.8).toInt,
      s"recovered ${recovered.length} of ${planted.size} planted containments")
    // the asymmetry is the point: containment ≈ 1 while Jaccard dropped
    recovered.foreach { r =>
      assert(r.getAs[Double]("containment") >= 0.85)
      assert(r.getAs[Double]("jaccard") <= 0.85,
        s"noise tail failed to suppress Jaccard: $r")
    }
    // direction is strict: the container is never reported as contained
    assert(out.filter(col("inner_doc") === col("outer_doc") + 3000000L).count() === 0)
    out.unpersist()
  }

  test("entity resolution links exactly the shared entity numbers across tables") {
    import graft.operators.Dedup
    val out = Dedup.entityResolution(spark, sf).collect()
    assert(out.nonEmpty)
    // in this schema Customer#N ↔ Supplier#N are the true links: blocking
    // on the number suffix + 3-gram verify must recover them all, and
    // ONLY them (different numbers never share a block)
    out.foreach { r =>
      assert(r.getAs[Long]("c_custkey") === r.getAs[Long]("s_suppkey"), s"bad link: $r")
      assert(r.getAs[Double]("sim") >= 0.25)
    }
    val nSupp = Tables.supplier(spark, sf).count()
    val nCust = Tables.customer(spark, sf).count()
    assert(out.length === math.min(nSupp, nCust).toInt,
      s"expected ${math.min(nSupp, nCust)} links, got ${out.length}")
  }

  test("lsh eval: confusion identities hold and planted recall is high") {
    val r = Dedup.lshEval(spark, sf).head()
    val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
    val n = r.getAs[Long]("n_docs")
    assert(n > 0)
    // the plant-closed sample guarantees true positives exist
    assert(tp + fn > 0, "sample carried no true near-dup pairs")
    // one-token-dropped plants have Jaccard ≈ 1 → 4-band/16-hash LSH
    // must recover the bulk of them
    assert(r.getAs[Long]("recall_ppm") >= 600000L,
      s"recall ${r.getAs[Long]("recall_ppm")} (tp=$tp fn=$fn)")
    assert(tp + fp === 0L ||
      r.getAs[Long]("precision_ppm") === tp * 1000000L / (tp + fp))
    // determinism: the md5-ranked sample reproduces exactly
    assert(Dedup.lshEval(spark, sf).head() === r)
  }

  test("memo invalidation: a regenerated corpus rebuilds instead of serving stale artifacts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo_fp").toString
    def writeCorpus(n: Int): Unit =
      (0 until n).map(i => (i.toLong,
          (0 until 10).map(j => s"w${i}x$j").mkString(" ")))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpusWithPlants perturbs every 20th doc (last token dropped) →
    // one near-dup pair per planted doc; pair count tracks corpus size
    def artifactRoot(): java.nio.file.Path = java.nio.file.Paths.get(
      new java.net.URI(Dedup.minhashLsh(spark, dir).inputFiles.head)).getParent
    writeCorpus(40)
    val first = Dedup.minhashLsh(spark, dir).count()
    assert(first === 2L, s"40-doc corpus should plant 2 pairs, got $first")
    val firstRoot = artifactRoot()
    // REGENERATE the corpus in place (the round-4 incident): the memo must
    // rebuild off the new snapshot, not serve the 40-doc artifact
    writeCorpus(100)
    val second = Dedup.minhashLsh(spark, dir).count()
    assert(second === 5L,
      s"stale memo served after in-place regeneration: got $second, want 5")
    // and the superseded artifact is released, not left behind in tmp
    assert(artifactRoot() !== firstRoot)
    assert(!java.nio.file.Files.exists(firstRoot),
      s"superseded artifact root $firstRoot still on disk")
    // and the fingerprint itself moves only when content does
    val fpA = Tables.snapshotFingerprint(dir)
    assert(Tables.snapshotFingerprint(dir) === fpA)
    writeCorpus(100)
    assert(Tables.snapshotFingerprint(dir) !== fpA,
      "rewrite must change the snapshot fingerprint")
  }

  test("hot-bucket cap: planted mega-bucket completes bounded and is accounted") {
    // 10,000 byte-identical docs — a boilerplate mirror family that shares
    // EVERY band key, the web-corpus failure mode: uncapped, the band
    // self-join would materialize ~4 × 10⁸ candidate pairs in one task
    val n = 10000
    val boiler = "the same boilerplate page text repeated across a mirror farm"
    val mega = spark.range(n).select(col("id").as("doc_id"), lit(boiler).as("text"))
    val tail = spark.range(n, n + 50L).select(col("id").as("doc_id"),
      concat(lit("unique tail "), col("id"), lit(" words here and there")).as("text"))
    val docs = mega.unionByName(tail)
    val cap = 100

    // accounting first: the census must surface the hot bucket and its mass
    val skew = Dedup.bucketSkewFrom(docs, cap).collect()
    assert(skew.length === 4)
    skew.foreach { r =>
      assert(r.getAs[Long]("max_bucket") >= n.toLong, s"census missed the mega bucket: $r")
      assert(r.getAs[Long]("n_hot_buckets") >= 1L)
      assert(r.getAs[Long]("dropped_rows") >= (n - cap).toLong)
    }

    // capped candidate generation (the exact join shape minhashLsh runs):
    // bounded output, and sampled members still pair fully within a band
    val banded = Dedup.capBuckets(Dedup.minhashBands(docs), Seq("band", "bh"), "doc_id", cap)
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"))
    val nCand = a.join(b, Seq("band", "bh")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct().count()
    val perBand = cap.toLong * (cap - 1) / 2
    assert(nCand >= perBand, s"a capped bucket must still pair within itself ($nCand)")
    assert(nCand <= 4 * perBand + 10000L,
      s"cap failed to bound the mega-bucket self-join: $nCand pairs")

    // the per-band salt samples DIFFERENT family members per band: distinct
    // candidate coverage must exceed one band's sample alone
    assert(nCand > perBand + 1000L,
      "per-band sampling collapsed to a single repeated subset")

    // corpus sanity: at test scale the default cap must never bind, so all
    // oracle-checked dedup results are provably cap-invariant
    val corpSkew = Dedup.bucketSkew(spark, sf).collect()
    corpSkew.foreach(r => assert(r.getAs[Long]("n_hot_buckets") === 0L,
      s"default cap binds at test scale — oracle parity at risk: $r"))

    // same guarantee for the HYPERPLANE buckets (dedup_embedding_lsh's
    // blocking at its tighter EmbBucketCap): semantic clustering
    // concentrates vector buckets, so pin the census where oracles run
    val maxHp = graft.operators.Dedup.embeddingsWithPlants(spark, sf)
      .select(col("vec_id"), posexplode(array((0 until 8).map(t =>
        graft.functions.GraftFunctions
          .hyperplaneBucket(col("embedding"), 8, t)): _*)))
      .groupBy("pos", "col").agg(count(lit(1)).as("sz"))
      .agg(max(col("sz"))).head.getLong(0)
    assert(maxHp <= graft.operators.Dedup.EmbBucketCap / 2,
      s"hyperplane bucket census too close to the cap at test scale: $maxHp")
  }

  test("threshold curve: survivors monotone, plants fill the top deciles") {
    val rows = Dedup.thresholdCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (d, _) => assert(d >= 0L && d <= 10L, s"decile $d") }
    // ascending deciles → at-or-above counts only shrink
    rows.sliding(2).foreach { case Array((_, (_, ca)), (_, (_, cb))) =>
      assert(ca >= cb, "survivor curve must be non-increasing") }
    // the lowest bucket's cumulative equals the whole candidate mass
    assert(rows.head._2._2 === rows.map(_._2._1).sum)
    // planted one-token-dropped near-dups land at Jaccard ≈ 1
    assert(rows.filter(_._1 >= 9L).map(_._2._1).sum > 0,
      "plants missing from the top deciles")
  }

  test("split leakage: matrix conserves the pair list and leak rows straddle") {
    val rows = Dedup.splitLeakage(spark, sf).collect()
    val nPairs = Dedup.minhashLsh(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === nPairs,
      "leakage matrix must conserve the full pair list")
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("split_a"), r.getAs[String]("split_b"))
      assert(Set("train", "val", "test")(a) && Set("train", "val", "test")(b))
      assert(a <= b, "matrix keys must be canonically ordered")
      assert(r.getAs[Boolean]("is_leak") === (a != b))
      // e4 similarity mass is bounded by pair count at Jaccard = 1
      assert(r.getAs[Long]("sum_jaccard_e4") <= r.getAs[Long]("n_pairs") * 10000L)
      assert(r.getAs[Double]("max_jaccard") >= 0.5 &&
        r.getAs[Double]("max_jaccard") <= 1.0)
    }
    // content-hash splits assign a perturbed plant independently of its
    // original (~2·p·(1−p) of pairs straddle) — the corpus plants enough
    // pairs that SOME leakage must show up; zero leak rows means the join
    // broke, not that the corpus is clean
    assert(rows.exists(_.getAs[Boolean]("is_leak")),
      "near-dup plants must produce at least one cross-split pair")
  }

  test("keep-best: one row per family, argmax beats keep-first, ties break low") {
    val rows = Dedup.keepBest(spark, sf).collect()
    val cl = Dedup.dedupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(rows.length === cl.size, "exactly one representative per family")
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val best = r.getAs[Long]("best_doc")
      assert(cl(cid)(best), "representative must be a member of its family")
      assert(r.getAs[Long]("n_members") === cl(cid).size.toLong)
      assert(r.getAs[Long]("best_q_e4") >= r.getAs[Long]("first_q_e4"),
        "argmax quality can never fall below the keep-first member's")
      assert(r.getAs[Long]("gain_e4") ===
        r.getAs[Long]("best_q_e4") - r.getAs[Long]("first_q_e4"))
      assert(r.getAs[Boolean]("changed") === (best != cid),
        "changed flags exactly the families where the survivor moved")
    }
    // plants truncate the ORIGINAL doc (one token dropped), so in some
    // family the members differ in quality and the argmax must actually
    // migrate off the min-id member — all-unchanged means the quality
    // join broke, not that keep-first was globally optimal
    assert(rows.exists(_.getAs[Boolean]("changed")),
      "at least one family must switch representatives")
  }

  test("dup inflation: per-family token accounting is exact") {
    val rows = Dedup.dupInflation(spark, sf).collect()
    assert(rows.nonEmpty)
    val clusters = Dedup.dedupClusters(spark, sf).count()
    assert(rows.length.toLong ===
      Dedup.dedupClusters(spark, sf).select("cluster_id").distinct().count())
    assert(clusters === rows.map(_.getAs[Long]("n_members")).sum,
      "every clustered doc contributes to exactly one family row")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") >= 2L,
        "a near-dup family has at least two members")
      val total = r.getAs[Long]("total_tokens")
      val kept = r.getAs[Long]("kept_tokens")
      val wasted = r.getAs[Long]("wasted_tokens")
      assert(kept > 0L && kept < total && wasted === total - kept)
      assert(r.getAs[Long]("waste_e4") === wasted * 10000L / total)
    }
  }

  test("pairAuc: tie-averaged rank-sum matches the hand value; perfect split = 1.0") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L))
      .toDF("vec_id", "label")
    // pos pairs score {0.3, 0.2}, neg {0.1, 0.2}: one pos/neg tie at 0.2
    // → AUC = (1 + 0.5 + 1 + 1)/4 = 0.875 (also proves the mirrored-edge
    // distinct: (2,1) duplicates (1,2))
    val edges = Seq((1L, 2L, 0.3), (2L, 1L, 0.3), (3L, 4L, 0.2),
      (1L, 3L, 0.1), (2L, 4L, 0.2)).toDF("src", "dst", "cos")
    val r = Similarity.pairAucFrom(edges, labels).collect()(0)
    assert(r.getAs[Long]("n_pairs") === 4L)
    assert(r.getAs[Long]("n_pos") === 2L)
    assert(r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("auc_ppm") === 875000L)
    assert(r.getAs[Long]("sum_pos_cos_e4") === 5000L)
    assert(r.getAs[Long]("sum_neg_cos_e4") === 3000L)
    // perfect separation reads exactly 1.0
    val sep = Seq((1L, 2L, 0.9), (3L, 4L, 0.8), (1L, 3L, 0.2), (2L, 4L, 0.1))
      .toDF("src", "dst", "cos")
    assert(Similarity.pairAucFrom(sep, labels).collect()(0)
      .getAs[Long]("auc_ppm") === 1000000L)
  }

  test("url canonicalization folds tracking noise and preserves meaning") {
    import spark.implicits._
    val cases = Seq(
      // authority case + default port + utm + trailing slash + fragment
      ("HTTP://WWW.Example.COM:80/a/?utm_source=x&ref=1#frag",
        "http://www.example.com/a?ref=1"),
      // already canonical: fixpoint
      ("http://www.example.com/a?ref=1", "http://www.example.com/a?ref=1"),
      // non-default port and path case SURVIVE canonicalization
      ("https://Example.com:8080/B/c/", "https://example.com:8080/B/c"),
      // utm as the only param: the dangling '?' is swept
      ("http://example.com/p?utm_campaign=x", "http://example.com/p"),
      // utm in the middle: neighbors keep their separators
      ("http://example.com/p?a=1&utm_medium=m&b=2",
        "http://example.com/p?a=1&b=2"),
      // bare root slash
      ("http://example.com/", "http://example.com"),
      // a param NAME merely ending in utm_ is NOT tracking noise
      ("http://example.com/p?xutm_source=1", "http://example.com/p?xutm_source=1"),
      // a path segment containing utm_...= is untouched
      ("http://example.com/utm_source=1/p?a=1", "http://example.com/utm_source=1/p?a=1"),
      // consecutive utm params collapse in one pass
      ("http://example.com/p?utm_a=1&utm_b=2&ref=x", "http://example.com/p?ref=x"),
      ("http://example.com/p?utm_a=1&utm_b=2", "http://example.com/p"))
    val got = cases.toDF("url", "want")
      .withColumn("canon", Dedup.canonicalUrl(col("url"))).collect()
    got.foreach(r =>
      assert(r.getAs[String]("canon") === r.getAs[String]("want"), r.toString))
  }

  test("urlDedup collapses the three planted surface variants per page") {
    val out = Dedup.urlDedup(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    // conservation: every doc lands in exactly one canonical group
    assert(out.map(_.getAs[Long]("n_docs")).sum === nDocs)
    out.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n >= 1 && n <= 3, r.toString)
      // the three variants differ as raw strings whenever present
      assert(r.getAs[Long]("n_raw_variants") === n, r.toString)
      assert(r.getAs[Long]("n_dropped") === n - 1, r.toString)
      val u = r.getAs[String]("canonical_url")
      assert(u.startsWith("http://www.example.com/crawl/page-"), u)
      assert(!u.contains("utm_") && !u.contains("#") && !u.contains(":80"), u)
      assert(u.endsWith("?ref=rss"), u)
    }
    // full groups exist: doc_ids {0,1,2} share page-0
    assert(out.count(_.getAs[Long]("n_docs") === 3L) >= 1)
  }
}
