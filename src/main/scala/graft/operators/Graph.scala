package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the corpus k-NN substrate
  * ([[Similarity.knnGraph]]): centrality on the same edge-list algebra
  * the LOF / connected-components audits use (reference analogue: the
  * demo's notebook ranks "most representative" documents by hand;
  * PageRank over the similarity graph is that query done right).
  *
  * Scale notes (100 TB): every iteration is ONE shuffle (edge⋈rank hash
  * join on src + groupBy dst); the rank frame is NODE-sized, never
  * data-sized, and `localCheckpoint` truncates the lineage each round so
  * iteration 8 plans as one join, not a 24-join tower. Edge list cached
  * once, reused every round.
  */
object Graph {

  /** PageRank over a directed edge list (`src`, `dst` columns).
    * Damping 0.85, fixed `iters` power iterations from the uniform
    * start. Nodes = every id appearing as src or dst; this graph's
    * construction gives every node out-edges, and any genuinely dangling
    * node's mass is redistributed uniformly each round so ranks keep
    * summing to n (the standard dangling-mass correction).
    */
  def pagerankFrom(edges: DataFrame, iters: Int = 8, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    // cache the edge list ALREADY HASH-PARTITIONED on the join key: every
    // iteration's edge⋈rank join reuses this partitioning, so only the
    // (node-sized) rank frame shuffles per round — the data-sized side
    // shuffles exactly once for the whole run
    val e = edges.select("src", "dst").repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
      .distinct()
    // degree travels with the rank row: the per-iteration join needs only edges
    var ranks = nodes.join(outDeg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"), lit(1.0).as("pr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = ranks.count() // also materializes the cache
    // the dangling SET is fixed across iterations — only pay the
    // per-iteration scalar job when it is non-empty
    val nDangling = ranks.filter(col("deg") === 0L).count()
    var i = 0
    while (i < iters) {
      val dangling =
        if (nDangling == 0L) 0.0
        else ranks.filter(col("deg") === 0L)
          .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
          .head().getDouble(0)
      val contribs = e.join(ranks.filter(col("deg") > 0L), e("src") === col("id"))
        .select(col("dst").as("id"), (col("pr") / col("deg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("inflow"))
      val next = ranks.select("id", "deg")
        .join(contribs, Seq("id"), "left")
        .select(col("id"), col("deg"),
          (lit((1.0 - damping) + damping * dangling / n) +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("pr"))
        .localCheckpoint(eager = true)
      ranks.unpersist()
      ranks = next
      i += 1
    }
    e.unpersist()
    ranks.select(col("id").as("vec_id"), round(col("pr"), 4).as("pagerank"))
  }

  /** #221 PageRank over the LSH-blocked embedding k-NN graph: "which
    * vectors sit at the center of the corpus" — the representative-sample
    * picker and the inverse of the LOF outlier audit.
    */
  def pagerank(spark: SparkSession, dir: String, k: Int = 5, iters: Int = 8): DataFrame =
    pagerankFrom(Similarity.knnGraph(spark, dir, k), iters)

  /** Synchronous label propagation (Raghavan et al., 2007) over a
    * directed edge list, symmetrized to undirected: every node starts
    * with its own id as label and each round adopts the most frequent
    * label among its neighbors AND itself. The two departures from
    * vanilla LPA are both for determinism: ties break to the SMALLEST
    * label (vanilla's random tie-break doesn't replay), and the vote is
    * self-inclusive (the standard fix that keeps the synchronous
    * schedule from oscillating forever on bipartite subgraphs — an
    * isolated edge two-colors itself under pure neighbor voting).
    *
    * Scale shape mirrors [[pagerankFrom]]: the edge list is cached
    * hash-partitioned on the join key once; each round is one edge⋈label
    * join plus two node-sized aggregations, with `localCheckpoint`
    * truncating the lineage so round 8 plans as one join, not a tower.
    */
  def labelPropagationFrom(edges: DataFrame, iters: Int = 6): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint(eager = true)
    var i = 0
    while (i < iters) {
      val nbrVotes = e.join(labels, e("src") === labels("id"))
        .select(col("dst").as("nid"), col("lbl"))
      val selfVotes = labels.select(col("id").as("nid"), col("lbl"))
      // most frequent label; the max_by key struct(cnt, -lbl) is unique
      // per candidate label → deterministic argmax. Every node self-votes,
      // so the result covers all nodes — no keep-alive left join needed.
      // ONE exchange per round, not two: repartitioning the raw votes by
      // nid makes BOTH aggregations partition-local (HashPartitioning(nid)
      // satisfies the clustered distribution of (nid, lbl) and of (nid)),
      // where groupBy(nid, lbl) → groupBy(nid) paid a second node-sized
      // shuffle. Safe on bytes too: votes come from edges partitioned by
      // src, so a dst's votes are scattered and map-side combine on
      // (nid, lbl) collapsed almost nothing. Counts are integers —
      // aggregation order can't change any value.
      val next = nbrVotes.unionByName(selfVotes)
        .repartition(col("nid"))
        .groupBy(col("nid"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("nid").as("id"))
        .agg(max_by(col("lbl"), struct(col("cnt"), -col("lbl"))).as("lbl"))
        .localCheckpoint(eager = true)
      // no convergence early-exit here (unlike kcoreFrom): measured on the
      // corpus kNN graph, labels still move at iteration 6, so a per-round
      // changed-check is pure overhead (+0.4s at sf0.1) with nothing to skip
      labels = next
      i += 1
    }
    e.unpersist()
    labels.select(col("id").as("vec_id"), col("lbl").as("community"))
  }

  /** #285 Triangle counting + local clustering coefficient over an edge
    * list: canonical a<b<c enumeration so each triangle is found exactly
    * once — wedge join (x,y)⋈(y,z) then closure against (x,z), all three
    * legs EQUI-joins on the same deduped undirected edge frame
    * (localCheckpointed once, reused three times; never a cartesian).
    * Per-node output: degree, triangle membership count, and the local
    * clustering coefficient 2T/deg(deg−1) in exact ×10⁴ — the
    * "is this neighborhood a clique or a hub-spoke" geometry audit of a
    * similarity graph (near-dup families show up as dense triangles;
    * crawl spam shows up as high-degree zero-clustering hubs).
    */
  def trianglesFrom(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val wedges = und.select(col("a").as("x"), col("b").as("y"))
      .join(und.select(col("a").as("y"), col("b").as("z")), "y")
    val tri = wedges
      .join(und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("id"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .withColumn("cc_e4", expr("CASE WHEN degree < 2 THEN 0 " +
        "ELSE 2 * n_triangles * 10000 DIV (degree * (degree - 1)) END"))
  }

  /** #285 Registered query: triangle census of the corpus k-NN graph. */
  def triangles(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    trianglesFrom(Similarity.knnGraph(spark, dir, k))

  /** #250 Community detection over the LSH-blocked embedding k-NN graph:
    * the cluster-census counterpart of [[pagerank]] — which groups of
    * near-duplicate / same-topic vectors form connected neighborhoods,
    * reported as one row per community with its size and centroid-free
    * representative (the min member id).
    */
  def labelProp(spark: SparkSession, dir: String, k: Int = 5, iters: Int = 6): DataFrame =
    labelPropagationFrom(Similarity.knnGraph(spark, dir, k), iters)
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("rep_vec_id"))

  /** Bounded-round k-core peel over an undirected edge list: each round
    * SIMULTANEOUSLY removes every surviving node whose degree within the
    * surviving subgraph is < k (isolated survivors count degree 0), for a
    * FIXED number of rounds. Output is one row per node with the round it
    * was peeled (1..rounds) or 0 for nodes still standing — the coreness
    * signal dense-community extraction and spam/boilerplate triage key
    * off on near-dup graphs. Bounding the rounds (rather than iterating
    * to fixpoint) is the deliberate at-scale formulation: each round is
    * one degree aggregate + two node-sized semi-joins, the round count is
    * a known cost ceiling, and `peel_round = 0` is then a certificate of
    * "survived R rounds", monotone in R. When a round peels zero nodes
    * the loop exits early (output-identical: every later round would
    * peel zero too) — R stays the ceiling, the fixpoint the usual cost.
    * GraphSpec pins a planted graph where R rounds provably REACH the
    * fixpoint (clique + path tail).
    *
    * Scale notes: edges cached once, hash-partitioned on src; the alive
    * set is node-sized and localCheckpoint truncates its lineage per
    * round, so round 8 plans as one join, not a tower.
    */
  def kcoreFrom(edges: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var alive = und.select(col("src").as("id")).distinct()
      .localCheckpoint(eager = true)
    var peeledRounds = List.empty[DataFrame]
    var r = 1
    var fixpoint = false
    while (r <= rounds && !fixpoint) {
      // degree within the SURVIVING subgraph: both endpoints alive
      val deg = und
        .join(alive.withColumnRenamed("id", "src"), Seq("src"))
        .join(alive.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val marked = alive.join(deg, Seq("id"), "left")
        .select(col("id"), (coalesce(col("deg"), lit(0L)) < k).as("peel"))
        .localCheckpoint(eager = true)
      val peeled = marked.filter(col("peel"))
        .select(col("id"), lit(r).as("peel_round"))
      // fixpoint early-exit is OUTPUT-IDENTICAL to running all R rounds:
      // once a round peels zero nodes every later round peels zero too,
      // and empty per-round frames contribute no rows. The count is one
      // job over the already-checkpointed node-sized frame — far cheaper
      // than the checkpoint+join rounds it skips.
      if (peeled.isEmpty) fixpoint = true
      else {
        peeledRounds ::= peeled
        alive = marked.filter(!col("peel")).select("id")
      }
      r += 1
    }
    val out = (alive.select(col("id"), lit(0).as("peel_round")) :: peeledRounds)
      .reduce(_ unionAll _)
      .select(col("id").as("vec_id"), col("peel_round"),
        (col("peel_round") === 0).as("core_member"))
    und.unpersist()
    out
  }

  /** #352 Registered query: k-core peel (k=3, 8 rounds) of the embedding
    * k-NN graph — per-node coreness round + the survivor flag.
    */
  def kcore(spark: SparkSession, dir: String, k: Int = 3, rounds: Int = 8): DataFrame =
    kcoreFrom(Similarity.knnGraph(spark, dir), k, rounds)

  /** #298 Newman modularity of a node partition — the one-number answer
    * to "did community detection actually find structure?": Q =
    * Σ_c (e_c/m − (d_c/2m)²), where e_c = intra-community edges, d_c =
    * degree mass of community c, m = total undirected edges. Q ≈ 0 means
    * the partition is no better than random wiring; dense near-dup
    * families push it toward 1. EXACT integer arithmetic: q_ppm =
    * Σ_c(4·m·e_c − d_c²) · 10⁶ DIV 4m² with DECIMAL(38,0) sums — no
    * float drift at any graph size. Three node/edge-scale aggregations
    * (dedup, per-community intra-edge count, per-community degree mass) +
    * one broadcast of the m scalar; nothing is corpus-quadratic.
    */
  def modularityFrom(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val la = labels.select(col("vec_id").as("a"), col("community").as("ca"))
    val lb = labels.select(col("vec_id").as("b"), col("community").as("cb"))
    val tagged = und.join(la, "a").join(lb, "b")
    val intra = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
    val degMass = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .join(labels.withColumnRenamed("vec_id", "id"), "id")
      .groupBy("community").agg(count(lit(1)).as("d_c"))
    val m = und.agg(count(lit(1)).as("m"))
    val perComm = degMass.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("e_c"), col("d_c"), col("m"),
        expr("CAST(4 AS DECIMAL(38,0)) * m * e_c - CAST(d_c AS DECIMAL(38,0)) * d_c")
          .as("contrib"))
    perComm.groupBy(col("m"))
      .agg(count(lit(1)).as("n_communities"),
        max(col("d_c")).as("max_degree_mass"),
        sum(col("contrib")).as("num"))
      .select(col("m").as("n_edges"), col("n_communities"), col("max_degree_mass"),
        expr("CAST(num * 1000000 DIV (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)")
          .as("q_ppm"))
  }

  /** #298 Registered query: modularity of the label-propagation partition
    * of the corpus k-NN graph — [[labelProp]]'s census scored by
    * [[modularityFrom]].
    */
  def modularity(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val edges = Similarity.knnGraph(spark, dir, k)
    modularityFrom(edges, labelPropagationFrom(edges))
  }

  /** #320 Incremental connected components: fold a batch of DELTA edges
    * into existing component labels WITHOUT re-running CC on the full
    * graph. Each old component is contracted to its label (supernode);
    * delta edges map their endpoints to those labels (nodes never seen
    * before stand for themselves); CC runs on the CONTRACTED graph —
    * whose size is bounded by the delta edge count + touched components,
    * not the corpus — and the result joins back over the stored labels.
    * Labels are min-ids, and min is associative, so the incremental
    * labels are IDENTICAL to a full recompute over base ∪ delta (the
    * spec pins this on planted merge/extend/new-island cases; the
    * registered query audits it corpus-wide).
    *
    * Scale: the O(log d)-round CC loop runs on the contracted frame
    * only; the full label table is touched by exactly ONE join (the
    * relabel side is delta-sized — broadcastable in the common case).
    */
  def incrementalComponentsFrom(oldLabels: DataFrame, deltaEdges: DataFrame): DataFrame = {
    val lbl = oldLabels.select(col("id"), col("comp"))
    val mapped = deltaEdges
      .join(lbl.select(col("id").as("src"), col("comp").as("scomp")), Seq("src"), "left")
      .join(lbl.select(col("id").as("dst"), col("comp").as("dcomp")), Seq("dst"), "left")
      .select(coalesce(col("scomp"), col("src")).as("doc_a"),
        coalesce(col("dcomp"), col("dst")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val contracted = Dedup.connectedComponents(mapped)
    val relabel = contracted.select(col("doc_id").as("comp"), col("cluster_id").as("newcomp"))
      .localCheckpoint() // read twice: old-label rewrite + new-node labeling
    val updatedOld = lbl.join(relabel, Seq("comp"), "left")
      .select(col("id"), coalesce(col("newcomp"), col("comp")).as("comp"))
    val newNodes = deltaEdges.select(col("src").as("id"))
      .unionAll(deltaEdges.select(col("dst").as("id")))
      .distinct()
      .join(lbl.select("id"), Seq("id"), "left_anti")
    val newLabeled = newNodes
      .join(relabel.withColumnRenamed("comp", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("newcomp"), col("id")).as("comp"))
    updatedOld.unionByName(newLabeled)
  }

  /** #320 Registered query: incremental CC over the corpus k-NN graph
    * with a deterministic base/delta split, audited against the full
    * recompute — mismatch comes from Spark's own two paths and must be
    * 0; the histogram is the component-size census after the delta fold.
    */
  def ccDelta(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // knnGraph is itself an eagerly-checkpointed memo; the projection is
    // free, so a second checkpoint here would only buy another blocking job
    val edges = Similarity.knnGraph(spark, dir, k)
      .select(col("src"), col("dst"))
    // the delta holds EVERY edge touching a node id divisible by 10 —
    // those nodes are "new arrivals", so the fold genuinely adds nodes
    // and merges components (a random edge split on a well-connected kNN
    // graph yields an all-intra-component, no-op delta)
    val base = edges.filter(col("src") % 10 =!= 0 && col("dst") % 10 =!= 0)
    val delta = edges.filter(col("src") % 10 === 0 || col("dst") % 10 === 0)
    // the base labels are the STORED artifact the incremental fold exists
    // to avoid recomputing — memoized per corpus snapshot as a written
    // parquet path, which (unlike a checkpointed frame) survives a session
    // restart; only the fold and its audit run per invocation
    val oldPath = graft.Artifacts.memo(dir, "cc-base", k) { a =>
      val p = a.root()
      Dedup.connectedComponents(
          base.select(col("src").as("doc_a"), col("dst").as("doc_b")))
        .select(col("doc_id").as("id"), col("cluster_id").as("comp"))
        .write.mode("overwrite").parquet(p)
      p
    }
    val old = spark.read.parquet(oldPath)
    // read thrice below (histogram + two audit joins): materialize once
    val inc = incrementalComponentsFrom(old, delta).localCheckpoint(true)
    // BOUNDED audit — the invariants a valid min-label CC labeling must
    // satisfy, checkable with one hash join + one agg each (O(edges), no
    // second CC loop): (a) EDGE-CONSISTENT — both endpoints of every
    // base∪delta edge share a label (catches every missed relabel /
    // stale-label bug the incremental fold could produce); (b)
    // MIN-LABELED — each label equals the min member id of its group.
    // The corpus-wide parity proof against a from-scratch recompute is
    // pinned once by UtilSpec ([[ccDeltaFullMismatch]]); re-running that
    // recompute inside the registered query made the "incremental" path
    // cost O(full) on every invocation — the exact failure the operator
    // exists to avoid.
    val edgeViol = edges
      .join(inc.select(col("id").as("src"), col("comp").as("cs")), "src")
      .join(inc.select(col("id").as("dst"), col("comp").as("cd")), "dst")
      .agg(coalesce(sum(when(col("cs") =!= col("cd"), 1L).otherwise(0L)),
        lit(0L)).as("edge_viol"))
    val minViol = inc.groupBy("comp").agg(min(col("id")).as("mn"))
      .agg(coalesce(sum(when(col("mn") =!= col("comp"), 1L).otherwise(0L)),
        lit(0L)).as("min_viol"))
    val audit = edgeViol.crossJoin(minViol)
      .select((col("edge_viol") + col("min_viol")).as("mismatch"))
    inc.groupBy("comp").agg(count(lit(1)).as("comp_size"))
      .groupBy("comp_size").agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(audit))
      .select(col("comp_size"), col("n_components"), col("mismatch"))
  }

  /** Corpus-wide parity of the incremental fold vs a full recompute over
    * base ∪ delta — the O(full) proof [[ccDelta]]'s registered audit
    * deliberately no longer pays per invocation; UtilSpec pins it to 0
    * once per test run.
    */
  private[graft] def ccDeltaFullMismatch(spark: SparkSession, dir: String,
      k: Int = 5): Long = {
    val edges = Similarity.knnGraph(spark, dir, k)
      .select(col("src"), col("dst")).localCheckpoint()
    val base = edges.filter(col("src") % 10 =!= 0 && col("dst") % 10 =!= 0)
    val delta = edges.filter(col("src") % 10 === 0 || col("dst") % 10 === 0)
    val old = Dedup.connectedComponents(
        base.select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .select(col("doc_id").as("id"), col("cluster_id").as("comp"))
    val inc = incrementalComponentsFrom(old, delta)
    val full = Dedup.connectedComponents(
        edges.select(col("src").as("doc_a"), col("dst").as("doc_b")))
      .select(col("doc_id").as("id"), col("cluster_id").as("fcomp"))
    inc.join(full, Seq("id"), "full_outer")
      .agg(coalesce(sum(when(!(col("comp") <=> col("fcomp")), 1L)
        .otherwise(0L)), lit(0L)))
      .first().getLong(0)
  }

  /** #353 Link prediction over an undirected edge list: score NON-adjacent
    * node pairs reachable in 2 hops by the three classic neighborhood
    * metrics — common-neighbor count, Jaccard overlap of neighborhoods,
    * and Adamic–Adar (Σ_hub 1/ln deg(hub), down-weighting promiscuous
    * hubs) — and keep the global top-N. On the corpus k-NN graph this
    * surfaces "documents that SHOULD be near-dup/related but the kNN cut
    * missed" (candidate mining for the dedup verify stage) and is the
    * standard recommender primitive.
    *
    * Scale: candidates come from ONE self-equi-join of the adjacency list
    * on the hub node — Σ_hub deg(hub)² pairs, bounded because a kNN graph
    * has bounded degree (≈2k after mirroring), so the expansion is linear
    * in nodes at fixed k, never corpus-quadratic. Everything downstream is
    * equi-joins + one aggregate; the global top-N is TakeOrderedAndProject
    * (no single-reducer window over the full candidate set). RANKING keys
    * are exact integers (jaccard_ppm, common_neighbors, ids) so the order
    * replays bit-exactly cross-engine; Adamic–Adar ships as a rounded
    * score column but never decides the order.
    */
  def linkPredFrom(edges: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .unionAll(und.select(col("b").as("x"), col("a").as("y")))
    val deg = adj.groupBy(col("x").as("id")).agg(count(lit(1)).as("deg"))
    val half = adj.select(col("y").as("hub"), col("x").as("u"))
    val wedges = half.join(half.withColumnRenamed("u", "v"), "hub")
      .filter(col("u") < col("v"))
    val aaHub = deg.filter(col("deg") >= 2)
      .select(col("id").as("hub"), (lit(1.0) / log(col("deg"))).as("aa_w"))
    val cand = wedges.join(aaHub, "hub")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("aa_w")).as("aa"))
    val nonEdge = cand.join(und,
      cand("u") === und("a") && cand("v") === und("b"), "left_anti")
    val scored = nonEdge
      .join(deg.select(col("id").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("deg_v")), "v")
      .select(col("u").as("src"), col("v").as("dst"), col("common_neighbors"),
        expr("common_neighbors * 1000000 DIV (deg_u + deg_v - common_neighbors)")
          .as("jaccard_ppm"),
        round(col("aa"), 4).as("aa_r"))
    // global top-N first (distributed TakeOrdered), THEN the rank window
    // over the ≤topN survivors — never a global window over all candidates
    scored
      .orderBy(col("jaccard_ppm").desc, col("common_neighbors").desc,
        col("src"), col("dst"))
      .limit(topN)
      .withColumn("rnk", row_number().over(Window.orderBy(
        col("jaccard_ppm").desc, col("common_neighbors").desc,
        col("src"), col("dst"))))
  }

  /** #353 Registered query: link prediction (top 100) over the embedding
    * k-NN graph. */
  def linkPred(spark: SparkSession, dir: String): DataFrame =
    linkPredFrom(Similarity.knnGraph(spark, dir))

  /** #359 Sparse-anchor label spreading — bounded multi-source BFS: from a
    * small SEED set of labeled nodes, assign every reachable node the
    * label of its nearest seed (hop distance, label id as the
    * deterministic tie-break) within R rounds. The semi-supervised move a
    * labeling pipeline runs when human labels are scarce: anchors are
    * expensive, the similarity graph is free, and "nearest anchor within
    * R hops" is the defensible transfer. Nodes unreached in R rounds stay
    * absent — R is both the cost ceiling and the trust radius.
    *
    * Scale: the [[pagerankFrom]] shape — per round ONE edge⋈state hash
    * join + one node-sized arg-min (min over the (hops, lbl) struct, so
    * ties are deterministic), state localCheckpointed per round. No
    * frontier bookkeeping: full relaxation per round costs the same one
    * join and keeps the plan identical every round.
    */
  def seedDistanceFrom(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 6): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count()
    var best = seeds.select(col("id"), col("lbl"), lit(0).as("hops"))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val prop = und.join(best, und("src") === best("id"))
        .select(und("dst").as("id"), col("lbl"), (col("hops") + 1).as("hops"))
      best = best.unionByName(prop)
        .groupBy("id").agg(min(struct(col("hops"), col("lbl"))).as("m"))
        .select(col("id"), col("m.lbl").as("lbl"), col("m.hops").as("hops"))
        .localCheckpoint(eager = true)
    }
    und.unpersist()
    best
  }

  /** #359 Registered query: spread the sparse anchor labels (every 97th
    * vector keeps its true label) over the embedding k-NN graph, 6 rounds.
    */
  def seedDistance(spark: SparkSession, dir: String): DataFrame = {
    val seeds = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("id"), col("label").cast("long").as("lbl"))
    seedDistanceFrom(Similarity.knnGraph(spark, dir), seeds)
      .select(col("id").as("vec_id"), col("lbl").as("nearest_label"),
        col("hops"))
  }

  /** #371 Degree assortativity (Newman, Phys. Rev. Lett. 89, 2002): the
    * Pearson correlation of endpoint degrees across undirected edges —
    * POSITIVE when hubs attach to hubs (social-network shape), NEGATIVE
    * when hubs fan out to leaves (hub-and-spoke: star graphs score
    * exactly −1). On a near-dup / kNN similarity graph this is the
    * one-scalar structure audit: a strongly negative score means a few
    * template families dominate the neighborhoods (boilerplate hubs), a
    * near-zero score means dup mass is spread evenly.
    *
    * With S1=Σ jk, S2=Σ (j+k), S3=Σ (j²+k²) over edges and M edges,
    * r = (4M·S1 − S2²) / (2M·S3 − S2²) — every sum exact DECIMAL(38,0),
    * ONE double division with identical expression text both engines,
    * floor(x·10⁶+0.5) fixed-point. Degenerate regular graphs (zero
    * degree variance) report 0 by convention. Cost: the [[trianglesFrom]]
    * prefix (degree aggregate + two node-sized joins) and a single global
    * aggregate — no wedge materialization at all.
    */
  def degreeAssortativityFrom(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    und
      .join(deg.select(col("id").as("a"), col("degree").as("ja")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("jb")), "b")
      .agg(count(lit(1)).as("m"),
        sum(expr("CAST(ja AS DECIMAL(38,0)) * jb")).as("s1"),
        sum(expr("CAST(ja AS DECIMAL(38,0)) + jb")).as("s2"),
        sum(expr("CAST(ja AS DECIMAL(38,0)) * ja + CAST(jb AS DECIMAL(38,0)) * jb")).as("s3"))
      .crossJoin(broadcast(nNodes))
      .selectExpr(
        "CAST(m AS BIGINT) AS n_edges",
        "CAST(n_nodes AS BIGINT) AS n_nodes",
        "CAST(s1 AS BIGINT) AS s_jk",
        "CAST(s2 AS BIGINT) AS s_j_plus_k",
        "CAST(s3 AS BIGINT) AS s_j2_plus_k2",
        """CASE WHEN 2 * m * s3 - s2 * s2 = 0 THEN 0
           ELSE CAST(floor(CAST(4 * m * s1 - s2 * s2 AS DOUBLE)
             / CAST(2 * m * s3 - s2 * s2 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           END AS assortativity_e6""")
  }

  /** #371 Registered query: degree-mixing audit of the corpus kNN graph. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    degreeAssortativityFrom(Similarity.knnGraph(spark, dir))

  /** #387 Edge reciprocity of the DIRECTED kNN graph — per node, how many
    * of its k nearest neighbors point back. A mutual (reciprocated) kNN
    * edge is the classic high-precision near-dup signal (mutual-kNN
    * filtering); low reciprocity marks hub vectors that everything is
    * near but that are near nothing in return (the embedding-space
    * analog of crawl boilerplate). One self-join on the edge list keyed
    * by the reversed pair + a node-sized aggregate — no wedges, no
    * degree-squared anything.
    */
  def reciprocityFrom(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    val rev = e.select(col("dst").as("src"), col("src").as("dst"),
      lit(1L).as("rec"))
    e.join(rev, Seq("src", "dst"), "left")
      .groupBy(col("src").as("vec_id"))
      .agg(count(lit(1)).as("out_deg"),
        sum(coalesce(col("rec"), lit(0L))).as("n_reciprocal"))
      .selectExpr("vec_id", "out_deg", "n_reciprocal",
        "n_reciprocal * 1000000 DIV out_deg AS recip_ppm")
  }

  /** #387 Registered query: reciprocity census of the corpus kNN graph. */
  def reciprocity(spark: SparkSession, dir: String): DataFrame =
    reciprocityFrom(Similarity.knnGraph(spark, dir))

  /** #393 Log₂-bucketed degree histogram of the undirected kNN graph —
    * the scale-free-or-not readout (a heavy power-law tail here means hub
    * documents/templates dominating similarity space, the thing the
    * hot-bucket caps and reciprocity audit exist for): per
    * floor(log₂(degree)) bucket via the bit-length trick (integer-exact
    * both engines), node count, exact degree bounds, share ppm. Degree
    * aggregate + a buckets-sized aggregate; nothing edge-squared.
    */
  def degreeHistFrom(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg
      .withColumn("bucket", expr("CAST(length(bin(degree)) - 1 AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))
      .withColumn("total_nodes", sum(col("n_nodes")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .selectExpr("bucket", "n_nodes", "min_degree", "max_degree",
        "n_nodes * 1000000 DIV total_nodes AS share_ppm")
  }

  /** #393 Registered query: degree histogram of the corpus kNN graph. */
  def degreeHist(spark: SparkSession, dir: String): DataFrame =
    degreeHistFrom(Similarity.knnGraph(spark, dir))
}
