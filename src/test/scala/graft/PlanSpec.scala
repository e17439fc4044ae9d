package graft

/** Plan-quality regression tests: the properties that make these operators
  * survive 100 TB — filter pushdown to the parquet scan, column pruning,
  * broadcast joins for dims, minimal shuffle counts — asserted on the
  * executed plan so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q1: shipdate filter reaches the parquet scan; schema pruned") {
    val f = formatted("q1_pricing_summary")
    assert(f.contains("PushedFilters") && f.contains("LessThanOrEqual(l_shipdate"),
      "shipdate predicate not pushed to scan")
    assert(!f.contains("l_orderkey"), "reads columns the query never uses")
  }

  test("q4 via SQL facade: EXISTS decorrelates to a semi equi-join") {
    val p = planOf("q4_order_priority")
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate to semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q4 planned a non-equi join:\n$p")
    // date-window predicate prunes orders at the scan
    val f = formatted("q4_order_priority")
    assert(f.contains("PushedFilters") && f.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date window not pushed to the orders scan")
  }

  test("link prediction: wedge expansion is an equi-join, never cartesian") {
    val p = planOf("graph_linkpred")
    assert(!p.contains("CartesianProduct"),
      s"linkpred planned a cartesian product:\n$p")
    // the global top-N must be TakeOrdered, not a full-candidate window sort
    assert(p.contains("TakeOrderedAndProject"),
      s"linkpred top-N did not plan as TakeOrdered:\n$p")
  }

  test("q3/q5: dimension joins broadcast, no sort-merge join") {
    for (q <- Seq("q3_shipping_priority", "q5_region_revenue")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast joins")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to sort-merge join")
    }
    // q5's region/segment equality predicates also pushed
    val f = formatted("q5_region_revenue")
    assert(f.contains("EqualTo(r_name,ASIA)"))
  }

  test("sessionize: exactly one exchange (both windows + agg share it)") {
    val p = planOf("ev_sessionize")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle, plan has $exchanges:\n$p")
  }

  test("scd1 rank: partial WindowGroupLimit before the shuffle") {
    val p = planOf("cdc_current_scd1")
    assert(p.contains("WindowGroupLimit"), "rank<=1 not group-limited before shuffle")
  }

  test("ann: query set broadcast against linear corpus scan") {
    val p = planOf("ann_cosine_topk")
    assert(p.contains("BroadcastExchange"), "query set should broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("cosine_sim"), "custom expression missing from plan")
  }

  test("quartiles: no low-cardinality ntile window; rank rides the frozen range partitions") {
    val p = planOf("ev_value_quartiles")
    assert(!p.contains("ntile"), s"ntile window is back — 5-reducer scale-killer:\n$p")
    // the range exchange now lives inside exactRank's checkpointed lineage
    // (AQE Pid-freeze); the visible signature is the frozen partition id
    // riding the offsets aggregate + broadcast join (the local rank itself
    // is monotonically_increasing_id arithmetic — no window, no exchange)
    assert(p.contains("__graft_pid"),
      s"expected the distributed rank over frozen range partitions:\n$p")
  }

  test("topk custom: partial stage prunes before the exchange") {
    val p = planOf("q_topk_custom")
    assert(p.contains("TopKPerGroupPartial"), s"map-side top-k missing:\n$p")
  }

  test("debezium parse is a pure map: zero exchanges, single json parse") {
    val p = planOf("cdc_debezium_parse")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 0, s"envelope parse should not shuffle:\n$p")
    assert(p.contains("from_json"), "nested-schema parse missing from plan")
  }

  test("top terms: partial top-k below the exchange, tokens never collect") {
    val p = planOf("doc_top_terms")
    assert(p.contains("TopKPerGroupPartial"), s"map-side top-k missing:\n$p")
    assert(p.contains("Generate"), "token explode should be executor-side Generate")
  }

  test("range join plans as equi-join, never nested loop") {
    val p = planOf("ev_blast_radius")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to nested loop:\n$p")
  }

  test("latency metrics: pruned parse, one agg shuffle, partial aggregation") {
    val p = planOf("cdc_latency_metrics")
    // one AGGREGATION exchange; a second, input-derived exchange is the
    // round-11 spreadScan parallelism floor on the events scan (fires
    // only when the scan has fewer splits than cores — a no-op at scale,
    // and never more than one)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"latency agg should shuffle at most twice " +
      s"(agg + optional spread):\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"latency metrics lack map-side partial aggregation:\n$p")
  }

  test("multi-table merge: one shuffle merges every table in the batch") {
    import spark.implicits._
    val incoming = Seq(("orders", "1", 10L, "INSERT", "{}"))
      .toDF("src_table", "entity_key", "seq", "operation", "payload")
    // the merge plan (before the write): union + one window partitioned by
    // (src_table, entity_key) — a single exchange serves all 500 tables
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("src_table", "entity_key")
      .orderBy(col("seq").desc, col("operation"))
    val merged = incoming.unionByName(incoming)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= "DELETE").drop("rn")
    val p = merged.queryExecution.executedPlan.toString
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"multi-table merge should shuffle once:\n$p")
  }

  test("aggregations are partial (map-side combine) for the monitoring queries") {
    for (q <- Seq("cdc_table_stats", "ev_windowed_counts", "q_brand_revenue")) {
      val p = planOf(q)
      // partial + final pairs: two HashAggregates around the exchange
      val aggs = "HashAggregate".r.findAllIn(p).length
      assert(aggs >= 2, s"$q lacks partial aggregation:\n$p")
    }
  }

  test("decorrelated subqueries broadcast their scalar side, never loop") {
    for (q <- Seq("q15_top_supplier", "q22_prospects", "q17_small_quantity")) {
      val p = planOf(q)
      assert(p.contains("BroadcastExchange"), s"$q lost its broadcast")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product")
      assert(!p.contains("SortMergeJoin") || q == "q17_small_quantity",
        s"$q fell back to sort-merge join")
    }
    // q17's brand prefilter reaches the part scan
    val f = formatted("q17_small_quantity")
    assert(f.contains("EqualTo(p_brand,Brand#2)"), "brand filter not pushed")
  }

  test("row-local curation ops keep zero exchanges and push their filters") {
    for (q <- Seq("pii_redact", "doc_sample_stratified", "emb_norm_stats")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q should be shuffle-free:\n$p")
    }
  }

  test("distributed-rank queries range-partition the corpus, never a global window") {
    // exactRank/exactNtile/exactCumSum consumers: the DATA path must ride
    // a range repartition; the only SinglePartition exchange allowed is the
    // metadata-sized per-partition-offset frame (≈ one row per shuffle
    // partition), never the corpus
    // allowed SinglePartition exchanges per query: the offset frame, plus
    // (ppl_buckets) the corpus-level scalar of the LM-score normalization —
    // all partition-count- or scalar-sized, never corpus rows
    for ((q, allowed) <- Seq("doc_epoch_shuffle" -> 1, "doc_ppl_buckets" -> 2,
        "doc_pack_bins" -> 1)) {
      val p = planOf(q)
      // the range exchange sits inside the checkpointed lineage (AQE
      // Pid-freeze); its visible signature is the __graft_pid column in
      // the offsets aggregate (rank queries) or the local window (cumsum)
      assert(p.contains("__graft_pid"),
        s"$q lost its distributed-rank shape:\n$p")
      val singles = "Exchange SinglePartition".r.findAllIn(p).length
      assert(singles <= allowed, s"$q has $singles SinglePartition exchanges:\n$p")
    }
  }

  test("runtime bloom filter prunes the fact side when the dim can't broadcast") {
    // the 100 TB regime: a selective dim too big to broadcast still prunes
    // the fact scan via Spark's runtime bloom-filter injection — pin that
    // the engine's plans pick it up when broadcast is off the table
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevS = conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val orders = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val p = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$p")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      prevS match {
        case Some(v) => conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", v)
        case None => conf.unset(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      }
    }
  }

  test("incremental dedup joins stay equi (delta-sized, never corpus-quadratic)") {
    for (q <- Seq("dedup_incremental_exact", "dedup_incremental_near")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a non-equi join:\n$p")
    }
  }

  test("materialized dedup prunes survivors map-side before the exchange") {
    val p = planOf("dedup_exact_apply")
    // either Spark's WindowGroupLimit or (with RewriteTopK attached) our
    // TopKPerGroupPartial — both prune non-survivors below the exchange
    assert(p.contains("WindowGroupLimit") || p.contains("TopKPerGroupPartial"),
      s"keep-first rank not group-limited before shuffle:\n$p")
  }

  test("correlated-exists TPC-H shapes never plan nested-loop or cartesian") {
    for (q <- Seq("q21_sole_returner", "q2_min_cost_supplier", "q20_excess_shippers",
        "q16_supplier_part_count", "q8_market_share", "q13_cust_order_dist")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested loop:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian product:\n$p")
    }
    // q16's NOT IN runs as a broadcast anti join, never a full shuffle
    val p16 = planOf("q16_supplier_part_count")
    assert(p16.contains("BroadcastHashJoin") && p16.contains("LeftAnti"),
      "q16 exclusion lost its broadcast anti join")
    // q13's zero-order customers survive: the outer join must stay outer
    assert(planOf("q13_cust_order_dist").contains("LeftOuter"),
      "q13 left outer join rewritten away")
  }

  test("chunking fans out map-side: explode with zero exchanges") {
    val p = planOf("doc_chunk")
    assert(p.contains("Generate explode"), s"chunking lost its explode:\n$p")
    assert(!p.contains("Exchange"), s"doc_chunk should be shuffle-free:\n$p")
    // split assignment is likewise row-local
    assert(!planOf("doc_split_assign").contains("Exchange"),
      "doc_split_assign should be shuffle-free")
  }

  test("ngram-corpus audit rides one digest exchange: window, no join, no cache") {
    val p = planOf("dedup_ngram_corpus")
    assert(!p.contains("Join"), s"digest self-join crept back:\n$p")
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
      s"staging persist crept back:\n$p")
    assert(p.contains("Window"), "per-digest window stats missing")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges (digest + doc), got $exchanges:\n$p")
  }

  test("bitmap retention aggregates masks, never countDistinct per offset") {
    val p = planOf("ev_retention_bitmap")
    // the distinct-user count must come from the bitmap, not an Expand
    // (grouping-set/distinct-agg) over (cohort x offset x user) rows
    assert(!p.contains("Expand"), s"distinct aggregation crept back:\n$p")
    assert(p.contains("bit_or"), "per-user bit_or mask missing")
  }

  test("winnowing is row-local until the profile projection") {
    val p = planOf("doc_winnow")
    assert(!p.contains("Exchange"), s"doc_winnow should be shuffle-free:\n$p")
  }

  test("lm score: vocab join broadcasts at this scale; scalar total broadcast") {
    val p = planOf("doc_lm_score")
    assert(p.contains("BroadcastHashJoin"), s"vocab join lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"lm score fell to sort-merge:\n$p")
  }

  test("avro envelope round-trip is a pure map chain: zero exchanges") {
    val p = planOf("cdc_avro_parse")
    assert(!p.contains("Exchange"),
      s"avro encode→decode→extract must not shuffle:\n$p")
    // one JSON parse (building the envelope struct before encode) only
    assert("from_json".r.findAllIn(p).size <= 1,
      s"envelope JSON parsed more than once:\n$p")
  }

  test("media codec paths: one round-robin spread, then row-local") {
    // every registered media row derives from its shared decoded
    // substrate (PCM round 9; image rasters + video profiles round 10):
    // the registered plan reads the checkpointed RDD with NO exchange at
    // all. The deliberate round-robin spread — fanning codec work across
    // all cores, since single-file scans otherwise pin it on 1-2 tasks —
    // lives inside the one-time substrate build, asserted on the
    // un-memoized builders below.
    Seq("mm_image_decode", "mm_image_resize", "mm_audio_decode").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange"),
        s"substrate-derived $q plan must be exchange-free:\n$p")
      assert(p.contains("ExistingRDD"),
        s"$q should read the checkpointed substrate:\n$p")
    }
    // the keyframe census aggregates per video: one doc-keyed exchange of
    // tiny stat rows on top of the substrate read, nothing else
    val pv = planOf("mm_video_keyframes")
    assert(pv.contains("ExistingRDD"),
      s"mm_video_keyframes should read the checkpointed substrate:\n$pv")
    assert("Exchange".r.findAllIn(pv).size === 1 &&
      pv.contains("hashpartitioning(doc_id"),
      s"keyframe census should carry exactly the doc-keyed agg exchange:\n$pv")
    Seq(
      graft.operators.Multimodal.decodePcm(
        graft.operators.Multimodal.audioPayloads(spark, sf)).queryExecution,
      graft.operators.Multimodal.decodeRasters(
        graft.operators.Multimodal.imagePayloads(spark, sf)).queryExecution,
      graft.operators.Multimodal.videoProfiles(
        graft.operators.Multimodal.videoPayloads(spark, sf)).queryExecution
    ).foreach { qe =>
      val build = qe.executedPlan.toString
      assert("Exchange".r.findAllIn(build).size === 1 &&
        build.contains("RoundRobinPartitioning"),
        s"substrate build should carry the one round-robin spread:\n$build")
    }
  }

  test("peak concurrency: sweep rides range partitions, never a global window over events") {
    // the range exchange sits behind exactCumSum's frozen checkpoint, so
    // the visible plan carries its pid tag; the bulk window must be
    // partitioned by that pid (the only single-partition window allowed
    // is the tiny per-partition offsets frame)
    val p = planOf("ev_peak_concurrency")
    assert(p.contains("__graft_pid"),
      s"exact cumsum machinery missing — global window over events?\n$p")
    assert(p.toLowerCase.contains("windowspecdefinition(__graft_pid"),
      s"bulk running sum is not pid-partitioned:\n$p")
  }

  test("filtered ANN: query set broadcasts, predicate is the join key") {
    val p = planOf("ann_filtered_topk")
    assert(p.contains("BroadcastHashJoin"), s"query side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"filtered ANN must not scan label-mismatched rows:\n$p")
  }

  test("as-of merge exec: two per-side exchanges, no window, no join fallback") {
    val p = planOf("cdc_asof_exec")
    assert(p.contains("AsOfJoinMerge"), s"custom exec not planned:\n$p")
    assert(!p.toLowerCase.contains("window ["),
      s"merge exec must not buffer window frames:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"exec replaced by a generic join:\n$p")
    // each side shuffles on the key independently (the SMJ shape)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 2,
      s"expected one key exchange per side:\n$p")
  }

  test("join-view IVM: every fact-side delta term is a broadcast-hash join") {
    // the nation-level fold joins a 25-row frame to itself (full-outer —
    // not broadcastable by definition); the pin is on the CUSTKEY terms:
    // fact × dim must broadcast, never sort-merge on the join key
    val p = planOf("cdc_ivm_join_delta")
    assert(!"SortMergeJoin \\[o_custkey".r.findFirstIn(p).isDefined,
      s"a delta term sort-merged on the custkey:\n$p")
    assert("BroadcastHashJoin \\[o_custkey".r.findAllIn(p).size >= 5,
      s"all five term joins should broadcast the dim side:\n$p")
  }

  test("minhash verify stays equi-join with no prune detour") {
    val p = planOf("dedup_minhash")
    // candidate verify is plain equi-joins back to text — never cartesian,
    // and no semi-join prune stage (measured 2x slower at sf0.1: it broke
    // the shared text exchange and added a third full-text shuffle)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"minhash verify planned a non-equi join:\n$p")
    assert(!p.contains("LeftSemi"), s"semi-prune crept back in:\n$p")
  }

  test("active users: no sliding window function, fan-out stays map-side") {
    val p = planOf("ev_active_users")
    // the WAU must come from the explode fan-out + aggregation, never a
    // window re-scanning 7 days per day
    assert(!p.contains("Window"), s"activeUsers regressed to a window:\n$p")
    assert(p.contains("Generate"), s"day fan-out explode missing:\n$p")
  }

  test("bm25: query frame broadcasts, top-k prunes partial before exchange") {
    val p = planOf("doc_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), s"query frame not broadcast:\n$p")
    assert(p.contains("TopKPerGroupPartial"),
      s"bm25 lost the map-side partial top-k:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"bm25 planned a cartesian:\n$p")
  }

  test("pit join: equi-join on the entity key, interval check as residual") {
    val p = planOf("cdc_pit_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"PIT join exploded into a non-equi join:\n$p")
  }

  test("mix apply: range partition for the cumsum, no per-lang reducer window") {
    val p = planOf("doc_mix_apply")
    assert(p.contains("__graft_pid"),
      s"groupedCumSum lost its distributed range-sort shape:\n$p")
    // corpus-scale windows partition on (partition id, lang); a window
    // partitioned by lang ALONE and ordered by digest would be the
    // low-cardinality straggler (the tiny offsets window — lang ordered
    // by partition id over per-partition sums — is fine)
    assert(!"windowspecdefinition\\(lang#\\d+, digest".r.findFirstIn(p).isDefined,
      s"a corpus-scale lang-only window crept in:\n$p")
  }

  test("knn graph: candidate edges from equi bucket joins only") {
    // audit the BUILDER's plan: the driver entry memoizes + checkpoints
    // the graph (its plan is a cached-block scan by design), so the pin
    // targets knnGraphFrom — the plan that actually runs the LSH build
    import org.apache.spark.sql.functions.col
    val p = graft.operators.Similarity.knnGraphFrom(
      Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"knn graph planned an all-pairs join:\n$p")
    assert(p.contains("TopKPerGroupPartial"),
      s"per-node top-k lost the map-side prune:\n$p")
  }

  test("interval union: both windows and both aggregates ride ONE user exchange") {
    val p = planOf("ev_interval_union")
    // HashPartitioning(user_id) satisfies the (user_id, island) clustering,
    // so the island aggregate and the final per-user rollup must not
    // re-shuffle what the windows already partitioned
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"interval union re-shuffled ($exchanges exchanges):\n$p")
  }

  test("pareto share: scalar and threshold fan-outs broadcast, never sort-merge") {
    val p = planOf("ev_pareto_share")
    assert(!p.contains("SortMergeJoin"), s"pareto planned a sort-merge join:\n$p")
    assert(p.contains("Broadcast"), s"pareto lost the broadcast fan-out:\n$p")
  }

  test("join cardinality: profiles consumed once, join rides the groupBy partitioning") {
    val p = planOf("q_join_cardinality")
    // two profile shuffles + the single-row final aggregate — a third
    // data exchange would mean the full-outer join re-partitioned a side
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"profile join re-shuffled a side ($exchanges exchanges):\n$p")
    assert(!p.contains("CartesianProduct"), s"profile stats planned a cartesian:\n$p")
  }

  test("drift TV: one fact shuffle, era folded as conditional aggregation") {
    val p = planOf("ev_drift_tv")
    val exchanges = "Exchange".r.findAllIn(p).size
    // (type,bucket) agg + type window/agg + the 1-row mid broadcast —
    // a branch-per-era formulation blows this up to ~19
    assert(exchanges <= 6, s"drift re-scans the facts per era ($exchanges exchanges):\n$p")
    assert(!p.contains("FullOuter"), s"era alignment regressed to a full-outer join:\n$p")
  }

  test("co-purchase: basket arrays, no order-level self-join of the fact table") {
    val p = planOf("q_copurchase_lift")
    assert(!p.contains("SortMergeJoin") ||
      !"SortMergeJoin.*okey".r.findFirstIn(p).isDefined,
      s"pair generation regressed to a fact self-join:\n$p")
    assert(p.contains("Generate"), s"basket explode missing:\n$p")
  }

  test("ewma and gap-fill share one entity-key sort per input") {
    val pe = planOf("ts_ewma")
    assert("Window \\[".r.findAllIn(pe).size == 1,
      s"16 EWMA lags must share one WindowExec:\n$pe")
    val pg = planOf("ts_gap_fill")
    assert(!pg.contains("CartesianProduct"),
      s"spine generation planned a cartesian:\n$pg")
  }

  test("acf/cusum: the corpus is scanned once — branches reuse the checkpointed daily frame") {
    for (q <- Seq("ts_acf", "ts_cusum")) {
      val p = planOf(q)
      assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
        s"$q re-scans events instead of reusing the checkpointed daily frame:\n$p")
    }
  }

  test("new-vs-returning: one user exchange, day frames never re-shuffle users") {
    val p = planOf("ev_new_vs_returning")
    val exchanges = "(?<!Broadcast|Reused)Exchange".r.findAllIn(p).size
    // user collect_set + day rollup + the day-ordered running sum — the
    // distinct/min/join formulation re-shuffles the user frame 3x
    assert(exchanges <= 3, s"growth accounting over-shuffles ($exchanges):\n$p")
    assert(!p.contains("SortMergeJoin"), s"growth accounting planned a join:\n$p")
  }

  test("bot regularity: lag window, both medians, and joins share the user partitioning") {
    val p = planOf("ev_bot_regularity")
    val exchanges = "(?<!Broadcast|Reused)Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"bot regularity re-shuffled the user frame ($exchanges):\n$p")
  }

  test("corr matrix: ONE scan feeds all 15 aggregates, rows stack off one summary row") {
    val p = planOf("q_corr_matrix")
    assert("Scan parquet|FileScan".r.findAllIn(p).size <= 1,
      s"corr matrix re-scans lineitem per pair:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corr matrix planned a join:\n$p")
  }

  test("skyline: equi-joins only, no nested-loop dominance check") {
    val p = planOf("q_skyline_parts")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"skyline planned a non-equi join:\n$p")
  }

  test("session-error overlap: the bucketed join is an equi hash join") {
    val p = planOf("ev_session_errors")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join regressed to a nested loop:\n$p")
  }

  test("tfidf rides the two-phase top-k exec; trigrams share one window sort") {
    val pt = planOf("doc_tfidf_topk")
    assert(pt.contains("TopKPerGroup"), s"tfidf lost the custom exec:\n$pt")
    // after the eager checkpoint of the trigram aggregate, the final plan
    // reads the materialized frame — at most one Window may remain, and
    // the corpus must not be scanned twice for the total probe
    val pg = planOf("ev_path_trigrams")
    assert("Window \\[".r.findAllIn(pg).size <= 1,
      s"trigram lags split across WindowExecs:\n$pg")
    assert("Scan parquet|FileScan".r.findAllIn(pg).isEmpty,
      s"trigram total probe re-scans events:\n$pg")
  }

  test("sliding distinct: offsets broadcast, day branches never sort-merge") {
    val p = planOf("ev_sliding_distinct")
    assert(p.contains("Broadcast"), s"offset fan-out lost the broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastNestedLoop"),
      s"sliding distinct picked a sort-merge shape where hash suffices:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 5, s"sliding distinct re-shuffled ($exchanges exchanges):\n$p")
  }

  test("diff-in-diff: one fact aggregation, broadcast pivot, no join blowup") {
    val p = planOf("ev_diff_in_diff")
    assert(!p.contains("SortMergeJoin"), s"DiD planned a sort-merge join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    // pivot single-row agg + its broadcast + the final single-row agg
    assert(exchanges <= 4, s"DiD re-shuffled the facts ($exchanges exchanges):\n$p")
  }

  test("lww merge: both field registers and the merge ride the user partitioning") {
    val p = planOf("cdc_lww_merge")
    val exchanges = "Exchange".r.findAllIn(p).size
    // one shuffle per register window; the full-outer merge must reuse it
    assert(exchanges <= 2, s"lww merge re-partitioned a side ($exchanges exchanges):\n$p")
  }

  test("backtest/stl: branches reuse the checkpointed daily frame — no corpus re-scan") {
    for (q <- Seq("ts_backtest", "ts_stl_decompose")) {
      val p = planOf(q)
      assert("Scan parquet|FileScan".r.findAllIn(p).isEmpty,
        s"$q re-scans events per branch:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q calendar joins regressed to sort-merge:\n$p")
    }
  }

  test("salted agg: classic two-stage shape — exactly two exchanges") {
    val p = planOf("q_salted_agg")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"salted agg should shuffle per stage exactly once ($exchanges exchanges):\n$p")
  }

  test("salted join: the join really shuffles on (key, salt) — no broadcast shortcut") {
    val p = planOf("q_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      s"salted join lost the shuffled-hash shape:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"build side broadcast — the salted partitioning never happened:\n$p")
  }

  test("net effect: one window, one generate, two exchanges — no union fan-out") {
    val p = planOf("cdc_net_effect")
    assert("Window".r.findAllIn(p).size == 1,
      s"net effect runs the lag window more than once:\n$p")
    assert("Generate".r.findAllIn(p).size == 1,
      s"net effect lost (or duplicated) the contribution explode:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"net effect shuffles more than window + final agg ($exchanges):\n$p")
  }

  test("kafkalog batch read: partition-parallel scan, zero exchanges") {
    import graft.sources.EmbeddedTopicLog
    val root = java.nio.file.Files.createTempDirectory("kafkalog-plan").toString
    EmbeddedTopicLog.produce(root, "t", (1L to 100L).map(i => (i.toString, s"v$i")),
      partitions = 4)
    val df = spark.read.format("kafkalog")
      .option("path", root).option("topic", "t").load()
      .selectExpr("CAST(value AS STRING) AS v", "partition", "offset")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"a plain topic-log projection should not shuffle:\n$p")
    assert(df.count() == 100)
    assert(df.rdd.getNumPartitions == 1, "100 records plan one task")
    // 4 · RecordsPerTask records over 4 topic partitions: one task each on 4 cores
    val n = 4 * graft.sources.KafkaLogPlanner.RecordsPerTask
    EmbeddedTopicLog.produce(root, "big", (1L to n).map(i => (i.toString, s"v$i")),
      partitions = 4)
    val big = spark.read.format("kafkalog")
      .option("path", root).option("topic", "big").load()
    assert(!big.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(big.count() == n)
    assert(big.rdd.getNumPartitions == 4, "one input partition per topic partition")
  }

  test("new session ops: broadcast dims, shared user partitioning, no nested loops") {
    // elasticity: part is broadcast against lineitem, never sort-merged
    val pe = planOf("q_discount_elasticity")
    assert(pe.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$pe")
    assert(!pe.contains("SortMergeJoin"), s"elasticity sort-merged the dim:\n$pe")
    // velocity rules + pit training set: all windows ride ONE user_id
    // exchange each — no per-feature re-shuffle
    Seq("ev_velocity_rules", "ml_pit_training_set").foreach { q =>
      val p = planOf(q)
      val nEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(nEx <= 1, s"$q re-shuffles per window ($nEx exchanges):\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loops:\n$p")
    }
    // url dedup: row-local canonicalization + one hash aggregate — the
    // plan must not contain any join at all
    val pu = planOf("doc_url_dedup")
    assert(!pu.contains("Join"), s"url dedup grew a join:\n$pu")
  }

  test("burn rate and conversion windows: broadcast fan-outs, bounded exchanges") {
    val pb = planOf("ev_burn_rate")
    assert("Scan parquet|FileScan".r.findAllIn(pb).isEmpty,
      s"burn rate re-scans events for the 7d window:\n$pb")
    assert(pb.contains("Broadcast"), s"burn rate lost the offset broadcast:\n$pb")
    val pc = planOf("ev_conversion_windows")
    assert(pc.contains("Broadcast"), s"conversion windows lost the broadcast:\n$pc")
    assert(!pc.contains("SortMergeJoin"),
      s"conversion windows joined the 3-row window table by sort-merge:\n$pc")
  }
}
