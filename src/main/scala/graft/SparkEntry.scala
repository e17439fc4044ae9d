package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.{Cdc, Debezium, TableRegistry}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions keeping the Spark ↔ DuckDB hash-compare stable:
  *  - every aggregate/computed column aliased identically on both sides;
  *  - doubles produced by aggregation are round()ed (2dp money, 4dp ratios)
  *    to absorb FP summation-order differences;
  *  - event timestamps (nanos in parquet) only ever cross as epoch-µs
  *    BIGINTs (`ts DIV 1000` == DuckDB `epoch_us(ts)`);
  *  - integer-typed outputs cast to BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CDC core (SURVEY §2 #1-12)
    "cdc_log" -> ((s, d) => Cdc.log(s, d)),
    "cdc_parse_props" -> ((s, d) => Cdc.parseProps(s, d)),
    "cdc_current_scd1" -> ((s, d) => Cdc.currentScd1(s, d)),
    // same state through the log-structured bucketed gold target: 8-batch
    // replay, mid-way compaction, merge-on-read tail (round-9 latency fix)
    "cdc_bucketed_gold" -> ((s, d) =>
      graft.streaming.BucketedGold.goldStateDemo(s, d)),
    "cdc_scd2_history" -> ((s, d) => Cdc.scd2History(s, d)),
    "cdc_change_summary" -> ((s, d) => Cdc.changeSummary(s, d)),
    "cdc_quality_metrics" -> ((s, d) => Cdc.qualityMetrics(s, d)),
    "cdc_throughput" -> ((s, d) => Cdc.throughput(s, d)),
    "cdc_error_dlq" -> ((s, d) => Cdc.errorDlq(s, d)),
    "cdc_table_stats" -> ((s, d) => Cdc.tableStats(s, d)),
    "cdc_enrich" -> ((s, d) => Cdc.enrich(s, d)),
    "cdc_dedup_once" -> ((s, d) => Cdc.dedupExactlyOnce(s, d)),
    "cdc_snapshot_merge" -> ((s, d) => Cdc.snapshotMerge(s, d)),
    "cdc_time_travel" -> ((s, d) => Cdc.timeTravel(s, d)),
    // facts joined to the SCD2 version valid at the fact's timestamp
    "cdc_pit_join" -> ((s, d) => Cdc.pitJoin(s, d)),
    // pt-table-checksum-style bucketed source/target drift audit
    "cdc_reconcile" -> ((s, d) => Cdc.reconcile(s, d)),
    // per-type staleness vs the newest event anywhere (reproducible anchor)
    "cdc_freshness" -> ((s, d) => Cdc.freshness(s, d)),
    "cdc_asof_join" -> ((s, d) => Cdc.asofJoin(s, d)),
    // identical query through the custom AsOfJoinMerge physical operator
    "cdc_asof_exec" -> ((s, d) => Cdc.asofJoinViaExec(s, d)),
    // same join with a 10-minute staleness guard: older matches null out
    "cdc_asof_tolerance" -> ((s, d) => Cdc.asofJoin(s, d, tolerance = Some(600000000L))),
    "cdc_asof_forward" -> ((s, d) => Cdc.asofForward(s, d)),
    "cdc_before_after" -> ((s, d) => Cdc.beforeAfter(s, d)),
    "cdc_gap_check" -> ((s, d) => Cdc.gapCheck(s, d)),
    "cdc_debezium_parse" -> ((s, d) => Debezium.silverParsed(s, d)),
    // Debezium schema-change topic: DDL envelope parse -> versioned table
    // history (the registry replay lives in SchemaRegistry.registerDdlHistory)
    "cdc_ddl_capture" -> ((s, d) => Debezium.ddlCapture(s, d)),
    // same silver projection via the Avro wire format — round-trip parity
    "cdc_avro_parse" -> ((s, d) => graft.sources.AvroEnvelope.avroSilverParsed(s, d)),
    // Burrow-style consumer-lag monitor over kafkalog segment metadata
    "cdc_consumer_lag" -> ((s, d) => graft.sources.KafkaLag.lagDemo(s, d)),
    "cdc_expect_audit" -> ((s, d) => Debezium.expectationAudit(s, d)),
    // DLQ redrive pre-flight: repair, re-check, recovered-vs-dead counts
    "cdc_dlq_replay" -> ((s, d) => Debezium.dlqReplay(s, d)),
    // SMT topic route + keyed partition assignment with per-partition order
    "cdc_outbox_route" -> ((s, d) => Debezium.outboxRoute(s, d)),
    "cdc_latency_metrics" -> ((s, d) => Debezium.latencyAudit(s, d)),
    "cdc_table_batch" -> ((s, d) => TableRegistry.tableBatch(s, d)),
    "cdc_table_groups" -> ((s, d) => TableRegistry.tableGroups(TableRegistry.discover(s, d))),
    // catalog onboarding: seed Derby, auto-register via DatabaseMetaData
    "src_jdbc_catalog" -> ((s, d) => TableRegistry.jdbcCatalogBatch(s, d)),
    // real PNG codec round-trip (javax.imageio), geometry oracle-checked
    "mm_image_decode" -> ((s, d) => graft.operators.Multimodal.imageDecode(s, d)),
    // REAL bilinear resize of the decoded PNGs (Graphics2D raster path)
    "mm_image_resize" -> ((s, d) => graft.operators.Multimodal.imageResize(s, d)),
    // real WAV codec round-trip (javax.sound.sampled), ditto
    "mm_audio_decode" -> ((s, d) => graft.operators.Multimodal.audioDecode(s, d)),
    "cdc_registry_stats" -> ((s, d) => TableRegistry.registryStats(TableRegistry.discover(s, d))),
    // incremental watermark poll against embedded Derby (rows-only: no
    // JDBC endpoint in the oracle; spec proves non-overlap + idempotence)
    "src_jdbc_incremental" -> ((s, d) => graft.sources.JdbcSnapshot.incrementalStats(s, d)),
    // partitioned JDBC initial load via embedded Derby (rows-only: the
    // oracle has no JDBC endpoint)
    "src_jdbc_snapshot" -> ((s, d) => graft.sources.JdbcSnapshot.snapshotStats(s, d)),
    // exactly-once MERGE apply INTO an RDBMS: ledger skip + seq-guarded
    // upsert (rows-only: no JDBC endpoint in the oracle; JdbcSinkSpec
    // proves SCD1 parity, replay no-ops, stale-batch protection)
    "snk_jdbc_upsert" -> ((s, d) => graft.sources.JdbcCdcSink.upsertStats(s, d)),
    // two different-schema tables through ONE envelope
    "cdc_hetero_union" -> ((s, d) => {
      import graft.streaming.CdcStreams
      CdcStreams.heterogeneousUnion(Seq(
        ("orders", Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
          "o_orderkey", "o_orderkey"),
        ("customer", Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey"),
          "c_custkey", "c_custkey")))
    }),
    // schema-evolution APPLY: the registered DDL gains a column and the
    // decode keeps working on both eras (from_json nulls the new field on
    // pre-evolution payloads) — the apply-side complement of cdc_schema_drift
    "cdc_schema_evolve" -> ((s, d) => {
      import graft.streaming.CdcStreams
      import org.apache.spark.sql.functions._
      val v1 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val v2 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val env = CdcStreams.heterogeneousUnion(Seq(
        ("orders", v1, "o_orderkey", "o_orderkey"),
        ("orders", v2, "o_orderkey", "o_orderkey")))
      CdcStreams.decodePayload(env, "orders",
        "o_custkey BIGINT,o_orderstatus STRING,o_orderpriority STRING")
        .groupBy(expr("seq % 2").as("schema_era"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderpriority")).as("n_with_new_col"),
          countDistinct(col("o_orderstatus")).as("n_statuses"),
          sum(col("o_custkey")).as("sum_custkey"))
    }),
    // one-pass per-column profile (Deequ-style onboarding audit). Shape
    // note (round 11, examined and left): one scan, one aggregation; the
    // CPU is the exact-countDistinct Expand (rows × columns), whose
    // parallelism equals the scan's split count — thousands of splits at
    // 100 TB. A measured spreadScan experiment (repartition when splits
    // < cores) cost more in the full-width row exchange than the cores
    // bought back at sf0.1 (1.25 → 1.6–1.95 s); reverted.
    "q_table_profile" -> ((s, d) =>
      graft.operators.Profile.tableProfile(Tables.orders(s, d))),
    "cdc_net_effect" -> ((s, d) => Cdc.netEffect(s, d)),
    // right-to-be-forgotten: partition-pruned selective rewrite; only
    // partitions containing a doomed key are touched (ForgetSpec pins
    // that untouched partition files stay byte-identical)
    "cdc_forget_keys" -> ((s, d) => graft.operators.Forget.forgetDemo(s, d)),
    // zone-map (row-group min/max) audit: distributed footer reads score
    // data-skipping health; Morton layout vs naive (rows-only: file-layout
    // internals; ZoneMapSpec pins disjointness + conservation)
    "tbl_zonemap_audit" -> ((s, d) => graft.operators.ZoneMap.zoneMapAudit(s, d)),
    // plan-quality introspection productized (rows-only: physical-plan
    // internals; PlanAuditSpec pins the q5 star-query expectations)
    "q_plan_audit" -> ((s, d) => graft.plans.PlanAudit.auditDemo(s, d)),
    // aggregate-to-MV rewrite: the query is WRITTEN against lineitem, the
    // optimizer reroutes it to a registered summary table; the oracle runs
    // the same SQL on the base table, so the hash match proves exactness
    "q_mv_rewrite" -> ((s, d) => graft.plans.Mv.demoQuery(s, d)),
    // incremental MV maintenance: retract/insert delta folded into the
    // summary with delta-sized work; oracle recomputes post-delta state
    // from scratch
    "mv_incremental_refresh" -> ((s, d) => graft.plans.Mv.incrementalDemo(s, d)),
    // workload-driven MV advisor: candidate grain/measures extracted from
    // analyzed plans, sized with one scan per base table
    "q_mv_advisor" -> ((s, d) => graft.plans.Mv.advisorDemo(s, d)),
    // exact view matching: star-join aggregate collapses to the stored
    // nation-cardinality summary via canonicalized sameResult
    "q_mv_star_rewrite" -> ((s, d) => graft.plans.Mv.starDemo(s, d)),
    // ROLLUP lowered to Aggregate-over-Expand, served from the MV: all
    // grouping-set levels priced at group-by cardinality
    "q_mv_rollup_rewrite" -> ((s, d) => graft.plans.Mv.rollupDemo(s, d)),
    // column-level lineage from the analyzed plan — impact analysis /
    // PII propagation as one driver-side traversal
    "q_lineage_audit" -> ((s, d) => graft.plans.Lineage.lineageDemo(s, d)),
    "ev_blast_radius" -> ((s, d) => graft.operators.Ranges.errorBlastRadius(s, d)),
    // sketch estimates not SQL-expressible → rows-only (deterministic seed)
    // gated shape: top-k set + exact counts + the CM bound flag (the
    // estimate VALUE is Spark-sketch-internal; RangeSketchSpec pins it)
    "ev_heavy_hitters" -> ((s, d) => graft.operators.Sketches.heavyHitters(s, d)
      .select("user_id", "exact_cnt", "within_bound")),
    // mergeable HLL rollup (rows-only: sketch estimates; RangeSketchSpec
    // pins union==direct and the error window vs exact)
    // gated shape: exact distincts + lossless-union + error-envelope flags
    "q_hll_rollup" -> ((s, d) => graft.operators.Sketches.hllRollup(s, d)
      .select("l_returnflag", "exact_distinct", "union_within_3pct")),
    "doc_top_terms" -> ((s, d) => Text.docTopTerms(s, d)),
    "doc_decontaminate" -> ((s, d) => Text.decontaminate(s, d)),
    "doc_repetition" -> ((s, d) => Text.docRepetition(s, d)),
    "dedup_ngram_corpus" -> ((s, d) => Text.corpusDupNgrams(s, d)),
    "doc_sample_stratified" -> ((s, d) => Text.stratifiedSample(s, d)),
    "doc_chunk" -> ((s, d) => Text.docChunk(s, d)),
    "doc_chunk_tokens" -> ((s, d) => Text.docChunkTokens(s, d)),
    "doc_split_assign" -> ((s, d) => Text.docSplitAssign(s, d)),
    // per-epoch deterministic global reshuffle (SGD loader schedule);
    // global rank via Distributed.exactRank, no single-reducer window
    "doc_epoch_shuffle" -> ((s, d) => Text.epochShuffle(s, d)),
    "doc_mix_weights" -> ((s, d) => Text.docMixWeights(s, d)),
    // the APPLY of the mixture weights: digest-ordered keep under budget,
    // per-language cumsum via the distributed groupedCumSum (no per-lang
    // single-reducer window)
    "doc_mix_apply" -> ((s, d) => Text.docMixApply(s, d)),
    // DSIR importance weights: hashed-unigram target/raw likelihood ratio
    // in exact integer bit arithmetic
    "doc_dsir_weights" -> ((s, d) => Text.docDsirWeights(s, d)),
    "dedup_exact_apply" -> ((s, d) => Text.dedupExactApply(s, d)),
    // corpus-wide duplicate-SPAN removal + doc reassembly (apply side of
    // the dedup_ngram_corpus audit)
    "doc_span_dedup" -> ((s, d) => Text.spanDedup(s, d)),
    // fixed-point BM25 over an inverted bigram index, two-phase top-k
    "doc_bm25_topk" -> ((s, d) => Text.bm25TopK(s, d)),
    "doc_reservoir_sample" -> ((s, d) => Text.reservoirSample(s, d)),
    "doc_curation_pipeline" -> ((s, d) => Text.curationPipeline(s, d)),
    "pii_redact" -> ((s, d) => Redact.piiRedact(s, d)),
    // PII exposure rate per source: the measurement next to the masking
    "doc_pii_audit" -> ((s, d) => Redact.piiAudit(s, d)),
    // two-level hierarchy shares: nation-within-region, region-of-global
    "q_share_of_parent" -> ((s, d) => Tpch.qShareOfParent(s, d)),
    "doc_len_hist" -> ((s, d) => Text.docLenHist(s, d)),
    "doc_quality_gopher" -> ((s, d) => Text.docQualityGopher(s, d)),
    // fastText-style LR distillation of the Gopher gate (rows-only: float
    // aggregation order moves the last ulp; ClassifierSpec pins accuracy)
    "doc_quality_classifier" -> ((s, d) => Classifier.qualityScores(s, d)),
    // corpus-wide approximate k-NN graph via LSH-blocked candidates
    // (rows-only: hash-seeded blocking; ScaleSpec pins recall vs brute)
    "ann_knn_graph" -> ((s, d) => Similarity.knnGraph(s, d)),
    // k-NN-graph funnel accounting: bucket census + pair slots + local
    // top-k keep rate — the audit row for the bucket-local builder
    "graph_knn_accounting" -> ((s, d) => Similarity.knnGraphAccounting(s, d)),
    // Local Outlier Factor over that graph (rows-only; ScaleSpec plants
    // an off-manifold point and pins its rank)
    "emb_lof" -> ((s, d) => Similarity.embLof(s, d)),
    // domain-level curation: per-source quality/dup mass + document caps
    "doc_source_quality" -> ((s, d) => Text.sourceQuality(s, d)),
    "doc_source_caps" -> ((s, d) => Text.sourceCaps(s, d)),
    "mm_frame_dedup" -> ((s, d) => Multimodal.frameDedup(s, d)),
    // TPC-H analytics (#13-24)
    "q1_pricing_summary" -> ((s, d) => Tpch.q1PricingSummary(s, d)),
    "q3_shipping_priority" -> ((s, d) => Tpch.q3ShippingPriority(s, d)),
    // Q4 runs through the SQL facade (registerViews + spark.sql) — the
    // SQL-first switch-over path, EXISTS decorrelated to a semi join
    "q4_order_priority" -> ((s, d) => Tpch.q4OrderPriority(s, d)),
    "q5_region_revenue" -> ((s, d) => Tpch.q5RegionRevenue(s, d)),
    "q10_returned_revenue" -> ((s, d) => Tpch.q10ReturnedRevenue(s, d)),
    "q_brand_revenue" -> ((s, d) => Tpch.qBrandRevenue(s, d)),
    "q_top_parts_per_brand" -> ((s, d) => Tpch.qTopPartsPerBrand(s, d)),
    // same semantics via the custom TopKPerGroup physical operator
    "q_topk_custom" -> ((s, d) => Tpch.qTopPartsPerBrandCustom(s, d)),
    "q_rollup_revenue" -> ((s, d) => Tpch.qRollupRevenue(s, d)),
    "q_cube_revenue" -> ((s, d) => Tpch.qCubeRevenue(s, d)),
    "q_cust_with_orders_semi" -> ((s, d) => Tpch.qCustWithOrdersSemi(s, d)),
    "q_cust_no_orders_anti" -> ((s, d) => Tpch.qCustNoOrdersAnti(s, d)),
    "q_order_priority" -> ((s, d) => Tpch.qOrderPriority(s, d)),
    "q_distinct_counts" -> ((s, d) => Tpch.qDistinctCounts(s, d)),
    // gated shape: exact distincts + HLL++ error-envelope flags
    "q_approx_distinct" -> ((s, d) => Tpch.qApproxDistinct(s, d)
      .select("l_returnflag", "exact_orders", "exact_parts",
        "orders_within_4pct", "parts_within_4pct")),
    // deterministic-sample approximate aggregation with HT error bars;
    // content-addressed sample makes it SQL-oracle-exact
    "q_approx_agg_sample" -> ((s, d) => Tpch.qApproxAggSample(s, d)),
    "q_percentiles" -> ((s, d) => Tpch.qPercentiles(s, d)),
    // mergeable KLL-style sketch (rows-only: deterministic but approximate;
    // QuantileSketchSpec pins the rank-error bound vs the exact query)
    "q_percentiles_sketch" -> ((s, d) => Tpch.qPercentilesSketch(s, d)),
    "q_stats_corr" -> ((s, d) => Tpch.qStatsCorr(s, d)),
    "q_orders_by_month" -> ((s, d) => Tpch.qOrdersByMonth(s, d)),
    "q6_forecast" -> ((s, d) => Tpch.q6Forecast(s, d)),
    "q14_promo_share" -> ((s, d) => Tpch.q14PromoShare(s, d)),
    "q18_large_orders" -> ((s, d) => Tpch.q18LargeOrders(s, d)),
    "q19_disjunction" -> ((s, d) => Tpch.q19Disjunction(s, d)),
    "q7_nation_volume" -> ((s, d) => Tpch.q7NationVolume(s, d)),
    "q17_small_quantity" -> ((s, d) => Tpch.q17SmallQuantity(s, d)),
    "q15_top_supplier" -> ((s, d) => Tpch.q15TopSupplier(s, d)),
    "q22_prospects" -> ((s, d) => Tpch.q22Prospects(s, d)),
    "q2_min_cost_supplier" -> ((s, d) => Tpch.q2MinCostSupplier(s, d)),
    "q8_market_share" -> ((s, d) => Tpch.q8MarketShare(s, d)),
    "q9_product_profit" -> ((s, d) => Tpch.q9ProductProfit(s, d)),
    "q11_value_concentration" -> ((s, d) => Tpch.q11ValueConcentration(s, d)),
    "q12_late_priority" -> ((s, d) => Tpch.q12LatePriority(s, d)),
    "q13_cust_order_dist" -> ((s, d) => Tpch.q13CustDist(s, d)),
    "q16_supplier_part_count" -> ((s, d) => Tpch.q16SupplierPartCount(s, d)),
    "q20_excess_shippers" -> ((s, d) => Tpch.q20ExcessShippers(s, d)),
    "q21_sole_returner" -> ((s, d) => Tpch.q21SoleReturner(s, d)),
    "q_rank_family" -> ((s, d) => Tpch.qRankFamily(s, d)),
    // Event-stream analytics (#25-28)
    "ev_sessionize" -> ((s, d) => Events.sessionize(s, d)),
    // incremental sessionization: delta folds into stored sessions via
    // per-user bounded state; oracle = the full-recompute sessionize SQL
    "ev_sessionize_delta" -> ((s, d) => Events.sessionizeDelta(s, d)),
    // exact sliding-window distinct: DAU / trailing-7d WAU / stickiness
    "ev_sliding_distinct" -> ((s, d) => Events.slidingDistinct(s, d)),
    "ev_policy_replay" -> ((s, d) => Events.policyReplay(s, d)),
    // gains/lift table: engagement-score deciles vs purchaser capture
    "ev_decile_lift" -> ((s, d) => Events.decileLift(s, d)),
    // leakage-safe point-in-time training-set assembly (feature store)
    "ml_pit_training_set" -> ((s, d) => Events.pitTrainingSet(s, d)),
    // period-over-period spend-quartile transition census
    "ev_segment_migration" -> ((s, d) => Events.segmentMigration(s, d)),
    // trailing-10-minute count/amount velocity flags
    "ev_velocity_rules" -> ((s, d) => Events.velocityRules(s, d)),
    // dwell-time distribution per step: exact-rank P50/P90, capped tail
    "ev_dwell_time" -> ((s, d) => Events.dwellTime(s, d)),
    // ABC/Pareto inventory classes on the distributed exact cumsum
    "q_abc_parts" -> ((s, d) => Tpch.qAbcParts(s, d)),
    // per-brand exact-integer OLS of quantity on discount points
    "q_discount_elasticity" -> ((s, d) => Tpch.qDiscountElasticity(s, d)),
    // monthly revenue momentum: MoM/YoY bp + trailing-12M, month frame
    "q_revenue_momentum" -> ((s, d) => Tpch.qRevenueMomentum(s, d)),
    // repeat-purchase loyalty per brand, exact ppm on the pair frame
    "q_repeat_purchase_rate" -> ((s, d) => Tpch.qRepeatPurchaseRate(s, d)),
    // GDPR erasure plan: FK cascade order + per-table churn cost
    "cdc_forget_cascade" -> ((s, d) => graft.operators.Forget.forgetCascade(s, d)),
    // per-day op-mix TVD vs the corpus mix: the delete-storm alarm
    "cdc_op_mix_drift" -> ((s, d) => Cdc.opMixDrift(s, d)),
    // feed-health gap census: missing days + longest dark stretch
    "ts_gap_audit" -> ((s, d) => TimeSeries.gapAudit(s, d)),
    // multi-master same-second conflicting-write census per entity
    "cdc_conflict_audit" -> ((s, d) => Cdc.conflictAudit(s, d)),
    // stratified ATT: signup effect on spend within activity strata
    "ev_att_stratified" -> ((s, d) => Events.attStratified(s, d)),
    // staggered-rollout DiD readout: 2×2 cells + did_e4, one scan
    "ev_diff_in_diff" -> ((s, d) => Events.diffInDiff(s, d)),
    // SRE error-budget burn: fast (day) + slow (7d) windows, exact e2
    "ev_burn_rate" -> ((s, d) => Events.burnRate(s, d)),
    // exact integer STL: trend / dow-seasonal / residual split
    "ts_stl_decompose" -> ((s, d) => TimeSeries.stlDecompose(s, d)),
    // Hyndman STL features: seasonal/trend strength, exact ×10⁴
    "ts_seasonal_strength" -> ((s, d) => TimeSeries.seasonalStrength(s, d)),
    // A/B guardrail: user-grain sample-ratio-mismatch chi-square
    "ev_srm_check" -> ((s, d) => Events.srmCheck(s, d)),
    // conversion rate by attribution window (1h / 1d / 7d), exact ppm
    "ev_conversion_windows" -> ((s, d) => Events.conversionWindows(s, d)),
    "ev_funnel" -> ((s, d) => Events.funnel(s, d)),
    // DAU / trailing-7-day WAU / stickiness via map-side day fan-out
    "ev_active_users" -> ((s, d) => Events.activeUsers(s, d)),
    // gaps-and-islands longest daily-activity streak per user
    "ev_streaks" -> ((s, d) => Events.streaks(s, d)),
    // cohort × week-offset revenue curves with exact-decimal cumulatives
    "ev_cohort_ltv" -> ((s, d) => Events.cohortLtv(s, d)),
    // out-of-order arrival audit: the watermark-sizing numbers
    "cdc_disorder_audit" -> ((s, d) => Events.disorderAudit(s, d)),
    // exact audience Jaccard between event types, per-user pair fan-out
    "ev_audience_overlap" -> ((s, d) => Events.audienceOverlap(s, d)),
    "ev_funnel_steps" -> ((s, d) => Events.funnelSteps(s, d)),
    "ev_user_stats" -> ((s, d) => Events.userStats(s, d)),
    "ev_windowed_counts" -> ((s, d) => Events.windowedCounts(s, d)),
    "ev_retention_cohorts" -> ((s, d) => Events.retentionCohorts(s, d)),
    "ev_running_totals" -> ((s, d) => Events.runningTotals(s, d)),
    "ev_trailing_window" -> ((s, d) => Events.trailingWindow(s, d)),
    "ev_value_quartiles" -> ((s, d) => Events.valueQuartiles(s, d)),
    "q_setops" -> ((s, d) => Tpch.qSetOps(s, d)),
    "q_integrity_orphans" -> ((s, d) => Tpch.qIntegrityOrphans(s, d)),
    // pre-flight join pricing: output size + hottest key WITHOUT running the join
    "q_join_cardinality" -> ((s, d) => Profile.joinCardinalityOn(
      Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey")),
    // the pricing turned into the broadcast/salt/shuffle decision
    "q_join_advisor" -> ((s, d) => Profile.joinAdvisor(
      Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey")),
    // P1/P99 winsorization audit with exact integer-rank thresholds
    "ev_winsorize" -> ((s, d) => Events.winsorize(s, d)),
    // purgeable tombstone chains beyond the retention horizon
    "cdc_tombstone_gc" -> ((s, d) => Cdc.tombstoneGc(s, d)),
    // time-series regularization: dense calendar + forward-fill; exact fixed-point EWMA
    "ts_gap_fill" -> ((s, d) => TimeSeries.gapFill(s, d)),
    "ts_ewma" -> ((s, d) => TimeSeries.ewma(s, d)),
    // dow-adjusted residual MAD fences (seasonal cycle doesn't trip the alarm)
    "ts_residual_anomaly" -> ((s, d) => TimeSeries.residualAnomaly(s, d)),
    // cross-table fuzzy record linkage: blocked candidates + kernel verify
    // (rows-only: char-3-gram kernel; DedupSpec pins exact-number matches)
    "q_entity_resolution" -> ((s, d) => Dedup.entityResolution(s, d)),
    // centrality over the k-NN substrate (iterative; rows-only oracle)
    "graph_pagerank" -> ((s, d) => Graph.pagerank(s, d)),
    // SCD2 hygiene + point-in-time movement
    "cdc_scd2_compact" -> ((s, d) => Cdc.scd2Compact(s, d)),
    "cdc_snapshot_diff" -> ((s, d) => Cdc.snapshotDiff(s, d)),
    // exact-arithmetic trend + seasonality over the daily series
    "ts_trend" -> ((s, d) => TimeSeries.trend(s, d)),
    // Theil-Sen robust trend: exact median-of-pairwise-slopes per type
    "ts_theil_sen" -> ((s, d) => TimeSeries.theilSen(s, d)),
    // naive-forecast residual P10/P90 band + its own empirical coverage
    "ts_forecast_pi" -> ((s, d) => TimeSeries.forecastPi(s, d)),
    // corpus concentration: HHI + effective group count per dimension
    "doc_source_hhi" -> ((s, d) => Text.sourceHhi(s, d)),
    // dow seasonal adjustment applied as one exact cross-multiplication
    "ts_dow_adjust" -> ((s, d) => TimeSeries.dowAdjust(s, d)),
    // code/markup/prose routing census per source (detectors spec-planted)
    "doc_format_mix" -> ((s, d) => Text.formatMix(s, d)),
    // categorized blocklist gate: license/toxicity/spam policy census
    "doc_policy_filter" -> ((s, d) => Text.policyFilter(s, d)),
    // crawl-over-crawl snapshot diff: digests travel, never text twice
    "doc_corpus_diff" -> ((s, d) => Text.corpusDiff(s, d)),
    // log2 degree histogram of the kNN graph: the scale-free-tail readout
    "graph_degree_hist" -> ((s, d) => graft.operators.Graph.degreeHist(s, d)),
    "ts_seasonality" -> ((s, d) => TimeSeries.seasonality(s, d)),
    // lag-1..7 autocorrelation of the daily series (exact cross-products)
    "ts_acf" -> ((s, d) => TimeSeries.acf(s, d)),
    // CUSUM level-shift alarms via the cumsum-minus-running-min identity
    "ts_cusum" -> ((s, d) => TimeSeries.cusum(s, d)),
    // offline two-level binary-segmentation changepoints (cusum's
    // retrospective twin; exact scaled-integer variance-reduction argmax)
    "ts_changepoint" -> ((s, d) => TimeSeries.changepoints(s, d)),
    // metronome-gap bot detection (one user_id exchange)
    "ev_bot_regularity" -> ((s, d) => Events.botRegularity(s, d)),
    // daily new/returning growth accounting + cumulative users
    "ev_new_vs_returning" -> ((s, d) => Events.newVsReturning(s, d)),
    // duration-weighted mean value per user (state-metric average)
    "ev_time_weighted" -> ((s, d) => Events.timeWeighted(s, d)),
    // 3-step journey mining over one window pass (bigrams can't see order)
    "ev_path_trigrams" -> ((s, d) => Events.pathTrigrams(s, d)),
    // integer TF-IDF keywords via the bit-length idf, two-phase top-k
    "doc_tfidf_topk" -> ((s, d) => Text.tfidfTopK(s, d)),
    // bigram conditional surprise (context-aware perplexity gate)
    "doc_bigram_surprise" -> ((s, d) => Text.bigramSurprise(s, d)),
    // per-candidate watermark cost: dropped events + value mass
    "cdc_watermark_impact" -> ((s, d) => Events.watermarkImpact(s, d)),
    // triangle census of the k-NN graph (rows-only: LSH-built substrate;
    // UtilSpec pins a planted clique + path)
    "graph_triangles" -> ((s, d) => Graph.triangles(s, d)),
    // session x error-burst interval OVERLAP join (bucketized equi-join,
    // exact-once pair emission via the first shared bucket)
    "ev_session_errors" -> ((s, d) => graft.operators.Ranges.sessionErrorOverlap(s, d)),
    // one-number inequality readout via exact global ranks
    "ev_lorenz_gini" -> ((s, d) => Events.lorenzGini(s, d)),
    // Zipf rank-frequency audit over the corpus vocabulary
    "doc_zipf_audit" -> ((s, d) => Text.zipfAudit(s, d)),
    // corpus datasheet: totals + lang/source mix + dup census + length
    // quantiles as one long-form (section, metric, value) data card
    "doc_datasheet" -> ((s, d) => Text.docDatasheet(s, d)),
    // per-source encoding-damage audit: non-printable ratio + U+FFFD scars
    "doc_mojibake_audit" -> ((s, d) => Text.mojibakeAudit(s, d)),
    // count-min sketch term frequencies + top-50 exactness audit
    "doc_countmin_freq" -> ((s, d) => Text.countMinFreq(s, d)),
    // Cohen's kappa between the Gopher gate and the token-stats score
    "doc_quality_agreement" -> ((s, d) => Text.qualityAgreement(s, d)),
    // language-mix chi-square per source vs the corpus mix (zero cells in)
    "doc_lang_drift" -> ((s, d) => Text.langDrift(s, d)),
    // Flesch / Flesch-Kincaid readability in exact fixed-point
    "doc_readability" -> ((s, d) => Text.readability(s, d)),
    // Kneser-Ney bigram surprise (exact-rational whole-bit quantization)
    "doc_kn_score" -> ((s, d) => Text.knScore(s, d)),
    // Heaps-law vocabulary growth by corpus decile
    "doc_vocab_growth" -> ((s, d) => Text.vocabGrowth(s, d)),
    // 2-D Pareto frontier via the distributed exclusive running-min sweep
    "q_skyline_parts" -> ((s, d) => Tpch.qSkylineParts(s, d)),
    // pairwise Pearson matrix over the lineitem measures in one pass
    "q_corr_matrix" -> ((s, d) => Tpch.qCorrMatrix(s, d)),
    // Benford first-digit audit over the two monetary columns
    "q_benford_audit" -> ((s, d) =>
      Profile.benfordAudit(Tables.lineitem(s, d), "l_extendedprice", "l_extendedprice")
        .unionByName(Profile.benfordAudit(Tables.orders(s, d), "o_totalprice", "o_totalprice"))),
    // functional-dependency violation profile over candidate A->B rules
    "q_fd_audit" -> ((s, d) =>
      Profile.fdAudit(Tables.lineitem(s, d), "lineitem",
        Seq("l_orderkey" -> "l_returnflag", "l_partkey" -> "l_suppkey"))
        .unionByName(Profile.fdAudit(Tables.orders(s, d), "orders",
          Seq("o_custkey" -> "o_orderpriority")))
        .unionByName(Profile.fdAudit(Tables.documents(s, d), "documents",
          Seq("source" -> "lang", "text" -> "n_chars")))),
    // persisted mergeable-sketch index; range distinct without a fact rescan
    // gated shape: range accounting + exact distinct + error-envelope flag
    "q_hll_range" -> ((s, d) => Sketches.hllRangeDemo(s, d)
      .select("event_type", "n_days", "n_events", "exact_users",
        "est_within_3pct")),
    // CRM / experimentation battery: RFM quintiles, drift alarms, A/B readout
    "ev_rfm_segments" -> ((s, d) => Events.rfmSegments(s, d)),
    "ev_drift_tv" -> ((s, d) => Events.driftTv(s, d)),
    "ev_drift_ks" -> ((s, d) => Events.driftKs(s, d)),
    // O(1)-per-user forget: per-user-key encryption, registry row deletion
    "cdc_crypto_shred" -> ((s, d) => Forget.cryptoShredDemo(s, d)),
    "ev_ab_test" -> ((s, d) => Events.abTest(s, d)),
    // always-valid sequential monitor over the same experiment: per-day
    // looks, mSPRT llr + running-max p-value, no peeking penalty
    "ev_sequential_ab" -> ((s, d) => Events.sequentialAb(s, d)),
    // power analysis: observed-variance MDE + required n for a 1% lift
    "ev_power_mde" -> ((s, d) => Events.powerMde(s, d)),
    // period-over-period mix-shift: volume vs rate effects per segment
    "ev_revenue_decomp" -> ((s, d) => Events.revenueDecomp(s, d)),
    // the delivery end: size-targeted JSONL shards + data-derived manifest
    "doc_write_shards" -> ((s, d) => Text.writeShardsDemo(s, d)),
    // content-addressed dense surrogate keys (distributed rank, no driver id gen)
    "dim_surrogate_keys" -> ((s, d) => Distributed.surrogateKeys(
      Tables.customer(s, d).select("c_custkey", "c_name"), "c_name")),
    // mixed-hierarchy grouping sets through the SQL facade
    "q_grouping_sets" -> ((s, d) => Tpch.qGroupingSets(s, d)),
    // asymmetric containment dedup (quoted-whole detection; rows-only oracle)
    "dedup_containment" -> ((s, d) => Dedup.containment(s, d)),
    // daily P50/P95 bands from the mergeable quantile sketch (rows-only)
    "ts_percentile_bands" -> ((s, d) => TimeSeries.percentileBands(s, d)),
    // linear multi-touch attribution (exact cents split, bounded interval join)
    "ev_attribution_linear" -> ((s, d) => Events.attributionLinear(s, d)),
    // linear vs first vs last vs U-shaped position, exact cents each
    "ev_attribution_compare" -> ((s, d) => Events.attributionCompare(s, d)),
    // per-file bloom index: point-lookup file skipping (rows-only oracle)
    "tbl_bloom_prune" -> ((s, d) => BloomIndex.pruneDemo(s, d)),
    // gaps-and-islands interval merge: true covered wall-clock per user
    "ev_interval_union" -> ((s, d) => Events.intervalUnion(s, d)),
    // top-spender concentration via the distributed exact cumsum
    "ev_pareto_share" -> ((s, d) => Events.paretoShare(s, d)),
    // exact-rank P50/P95/P99 out-of-order delay -> watermark sizing
    "cdc_watermark_advice" -> ((s, d) => Events.watermarkAdvice(s, d)),
    // hour-of-day load shares vs uniform, exact ppm
    "ev_hour_profile" -> ((s, d) => Events.hourProfile(s, d)),
    // CUPED variance-reduced A/B readout (exact-decimal cross-products)
    "ev_ab_cuped" -> ((s, d) => Events.cupedAb(s, d)),
    // delta-fold vs final-state equivalence proof for maintained views
    "cdc_ivm_audit" -> ((s, d) => Cdc.ivmAudit(s, d)),
    // per-label centroid cosine between corpus halves (exact e6 sums)
    "emb_centroid_drift" -> ((s, d) => Similarity.embCentroidDrift(s, d)),
    // JSON payload key-space discovery + fill/type/range profile
    "cdc_props_profile" -> ((s, d) => Cdc.propsProfile(s, d)),
    // whitespace-segmentation fertility per language
    "doc_token_fertility" -> ((s, d) => Text.tokenFertility(s, d)),
    // deflate-ratio quality gate (rows-only: JVM deflate kernel;
    // TextOpsSpec pins the repetitive/incompressible tails)
    "doc_compression_ratio" -> ((s, d) => Text.compressionRatio(s, d)),
    // exact-decimal central power sums -> skewness/kurtosis
    "ev_moments" -> ((s, d) => Events.moments(s, d)),
    // deterministic modal value bucket per type
    "ev_value_mode" -> ((s, d) => Events.valueMode(s, d)),
    // exact-duplicate family-size census (dedup strategy pre-flight)
    "dedup_family_sizes" -> ((s, d) => Text.dupFamilySizes(s, d)),
    // deterministic integer-arithmetic priority sampling (weight = n_chars)
    "doc_weighted_sample" -> ((s, d) => Text.weightedSample(s, d)),
    // KMV sketch pairwise source-overlap audit (exact integer ppm)
    "corpus_overlap_kmv" -> ((s, d) => Text.corpusOverlapKmv(s, d)),
    // deterministic-tie-break LPA communities over the k-NN graph
    // (iterative; rows-only oracle)
    "graph_label_prop" -> ((s, d) => Graph.labelProp(s, d)),
    // market basket + histogram
    "q_copurchase_lift" -> ((s, d) => Tpch.qCopurchaseLift(s, d)),
    "q_price_histogram" -> ((s, d) => Tpch.qPriceHistogram(s, d)),
    // FS-metadata layout health: one row per table file (rows-only oracle)
    "tbl_file_audit" -> ((s, d) => Seq("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => Tables.fileAudit(s, s"$d/$t.parquet"))
      .reduce(_ unionByName _)),
    "doc_normalize" -> ((s, d) => Text.docNormalize(s, d)),
    "q_status_pivot" -> ((s, d) => Tpch.qStatusPivot(s, d)),
    // Text / LLM-pipeline ops (#29-41)
    "doc_tokens" -> ((s, d) => Text.docTokens(s, d)),
    "doc_quality" -> ((s, d) => Text.docQuality(s, d)),
    "doc_langid" -> ((s, d) => Text.docLangId(s, d)),
    "dedup_exact" -> ((s, d) => Text.dedupExact(s, d)),
    "doc_fingerprint" -> ((s, d) => Text.docFingerprint(s, d)),
    "dedup_minhash" -> ((s, d) => Dedup.minhashLsh(s, d)),
    // hot-bucket accounting for every LSH band join (the capBuckets guard):
    // per band, bucket census + the row mass the cap would sample away
    "dedup_bucket_skew" -> ((s, d) => Dedup.bucketSkew(s, d)),
    // incremental (delta-vs-index) dedup: the 100 TB lifecycle — index the
    // standing corpus once, each crawl batch joins against the index
    "dedup_incremental_exact" -> ((s, d) => Dedup.incrementalExact(s, d)),
    "dedup_incremental_near" -> ((s, d) => Dedup.incrementalNearDemo(s, d)),
    // ensemble dedup: lexical (MinHash) ∧ semantic (cosine) agreement
    "dedup_ensemble" -> ((s, d) => Dedup.ensembleDedup(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_embedding" -> ((s, d) => Dedup.embeddingNearDup(s, d)),
    // production path: LSH-blocked candidates + exact verify (rows-only:
    // bucket fn not expressible in the oracle's SQL)
    "dedup_embedding_lsh" -> ((s, d) => Dedup.embeddingNearDupLsh(s, d)),
    // the banding funnel audit: vectors -> banded -> candidates -> verified
    "dedup_lsh_accounting" -> ((s, d) => Dedup.embeddingLshAccounting(s, d)),
    "ann_cosine_topk" -> ((s, d) => Similarity.annCosineTopK(s, d)),
    // radius retrieval: every neighbor with cosine >= tau, not top-k
    "ann_range_search" -> ((s, d) => Similarity.annRangeSearch(s, d)),
    "ann_lsh_topk" -> ((s, d) => Similarity.annLshTopK(s, d)),
    // int8 quantization audit (rows-only: float-lambda arithmetic has no
    // exact SQL-oracle analog); codes digested for the harness
    // codes ship as the raw CSV rendering, not an xxhash64 digest: same
    // information, and the oracle can regenerate the string (the digest
    // function has no DuckDB analog; the codes themselves do)
    "emb_quantize" -> ((s, d) => Similarity.quantizeEmbeddings(s, d)
      .selectExpr("vec_id", "round(scale, 6) AS scale_r",
        "round(max_err, 6) AS max_err_r",
        "concat_ws(',', transform(q, x -> CAST(x AS STRING))) AS q_csv")),
    "ann_quantized_topk" -> ((s, d) => Similarity.annQuantizedTopK(s, d)),
    // two-stage retrieve-then-rerank (rows-only: coarse stage rides the
    // int8 codes; ScaleSpec pins recall vs the exact scan)
    "ann_rerank_topk" -> ((s, d) => Similarity.annRerankTopK(s, d)),
    // 1-bit sign quantization: Hamming coarse scan + exact cosine rerank
    "ann_binary_topk" -> ((s, d) => Similarity.annBinaryTopK(s, d)),
    // silence profile of the WAV arm (rows-only: codec output; planted
    // runs pinned in ImageDecodeSpec)
    "mm_audio_silence" -> ((s, d) => Multimodal.audioSilence(s, d)),
    // MMR-diversified rerank: bounded per-query greedy over 4k over-fetch
    // (rows-only: greedy argmax not SQL-expressible; ScaleSpec plants
    // redundant candidates and pins the suppression)
    "ann_mmr_topk" -> ((s, d) => Similarity.annMmrTopK(s, d)),
    // reciprocal-rank fusion of the vector (cosine) and lexical
    // (bigram-Jaccard) rankings for the same query ids — hybrid retrieval
    "ann_hybrid_rrf" -> ((s, d) => Similarity.annHybridRrf(s, d)),
    // corpus-order n-gram novelty audit (first-occurrence fraction per doc)
    "doc_ngram_novelty" -> ((s, d) => Text.ngramNovelty(s, d)),
    // crawl-shard seam stitching: tail_w(left) == head_w(right) pairs
    "doc_shard_stitch" -> ((s, d) => Text.shardStitch(s, d)),
    // bounded-round k-core peel of the kNN graph (coreness round per node)
    "graph_kcore" -> ((s, d) => graft.operators.Graph.kcore(s, d)),
    // link prediction: top-100 non-adjacent 2-hop pairs on the kNN graph,
    // ranked by exact integer (jaccard_ppm, cn, ids) keys
    "graph_linkpred" -> ((s, d) => graft.operators.Graph.linkPred(s, d)),
    // sparse-anchor label spreading: bounded multi-source BFS, nearest
    // seed's label within 6 hops, (hops, lbl) arg-min tie-break
    "graph_seed_distance" -> ((s, d) => graft.operators.Graph.seedDistance(s, d)),
    // degree-mixing audit: Newman assortativity of the kNN graph
    "graph_assortativity" -> ((s, d) => graft.operators.Graph.degreeAssortativity(s, d)),
    // mutual-kNN reciprocity census: hub vectors score low by design
    "graph_reciprocity" -> ((s, d) => graft.operators.Graph.reciprocity(s, d)),
    // DCT perceptual-hash near-dup audit over REAL decoded PNGs
    // (rows-only: codec + DCT; ImageDecodeSpec plants near-dup images)
    "mm_phash_dedup" -> ((s, d) => graft.operators.Multimodal.phashDedup(s, d)),
    // band-energy audio fingerprint over REAL decoded WAVs (rows-only:
    // codec + DFT; ImageDecodeSpec plants level-scaled near-dups)
    "mm_audio_fingerprint" -> ((s, d) => graft.operators.Multimodal.audioFpDedup(s, d)),
    // shot-boundary keyframe census over real decoded multi-frame
    // containers (rows-only: codec path; ImageDecodeSpec pins the
    // doc_id-parity scene-change ground truth)
    "mm_video_keyframes" -> ((s, d) => graft.operators.Multimodal.videoKeyframeStats(s, d)),
    // Matryoshka truncation eval: recall@k at 1/2/4/8x narrower prefixes
    // (rows-only: recall of an approximate method; ScaleSpec pins
    // full-dim recall = 1 and bounds)
    "emb_matryoshka_eval" -> ((s, d) => Similarity.matryoshkaEval(s, d)),
    // product-quantized ADC scan (rows-only: k-means codebooks; ScaleSpec
    // pins recall vs the exact L2 scan)
    "ann_pq_topk" -> ((s, d) => Similarity.annPqTopK(s, d)),
    // IVF cell pruning + PQ table-lookup scoring composed (rows-only)
    "ann_ivfpq_topk" -> ((s, d) => Similarity.annIvfPqTopK(s, d)),
    // persisted IVF index lifecycle: build → delta add → partition-pruned
    // search (rows-only: k-means centroids; ScaleSpec pins add≡bulk
    // parity, recall floor, PartitionFilters pruning, zero-shuffle assign)
    "ann_index_lifecycle" -> ((s, d) => Similarity.annIndexLifecycle(s, d)),
    "emb_norm_stats" -> ((s, d) => Similarity.embNormStats(s, d)),
    "emb_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    // sketch aggregate (rows-only: hash-seeded signature)
    "sim_supplier_assortment" -> ((s, d) => Similarity.supplierAssortmentSim(s, d)),
    "dedup_clusters" -> ((s, d) => Dedup.dedupClusters(s, d)),
    "dedup_keep_best" -> ((s, d) => Dedup.keepBest(s, d)),
    "mm_media_meta" -> ((s, d) => Multimodal.mediaMeta(s, d)),
    "mm_frame_sample" -> ((s, d) => Multimodal.frameSample(s, d)),
    // arrays projected to a CSV digest: the driver's rows-only check sorts
    // the frame in pandas, and raw Array[Float] columns are unhashable there
    // gated shape (hash-oracle since r9): the normalized float32 histogram
    // is regated as exact integer COUNTS (x*n recovers the count to <0.001
    // before rounding), so DuckDB replays the whole byte histogram
    "mm_decode_stub" -> ((s, d) => Multimodal.decodeStub(s, d).toDF()
      .selectExpr("doc_id", "n_bytes", "round(mean_byte, 4) AS mean_byte",
        "concat_ws(',', transform(feat, x -> CAST(round(CAST(x AS DOUBLE) * greatest(n_bytes, 1)) AS BIGINT))) AS hist_counts_csv")),
    "mm_resize_stub" -> ((s, d) => Multimodal.resizeStub(s, d).toDF()
      .selectExpr("doc_id", "n_bytes", "out_w", "out_h",
        "concat_ws(',', transform(resized, x -> CAST(x AS STRING))) AS resized_csv")),
    // multi-table unified envelope (rows-only: one side is the synthetic
    // cdcgen source, which DuckDB cannot replay)
    "cdc_multi_table_stats" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val synthetic = s.read.format("cdcgen")
        .option("rows", 5000).option("partitions", 8).load()
      graft.streaming.CdcStreams.multiSourceUnion(
        Seq("events" -> Tables.events(s, d), "synthetic" -> synthetic))
        .groupBy("src_table", "operation")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    }),
    // multi-table gold merge: 2 tables, INSERT then UPDATE+DELETE batches,
    // through ONE partitioned merge job per batch (rows-only: writes a
    // temp target; UtilSpec proves merge semantics + replay idempotence).
    // The census is a local frame, so the temp target is deleted before
    // returning.
    "cdc_multi_table_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.CdcStreams
      val tmp = java.nio.file.Files.createTempDirectory("mtm").toString
      val root = s"$tmp/gold"
      try {
        val orders = Tables.orders(s, d).filter(col("o_orderkey") <= 500)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        val cust = Tables.customer(s, d).filter(col("c_custkey") <= 200)
          .select("c_custkey", "c_name", "c_nationkey")
        val b1 = CdcStreams.heterogeneousUnion(Seq(
          ("orders", orders, "o_orderkey", "o_orderkey"),
          ("customer", cust, "c_custkey", "c_custkey")))
          .withColumn("operation", lit("INSERT"))
        CdcStreams.applyCdcBatchMultiTable(s, b1, root)
        val upd = CdcStreams.heterogeneousUnion(Seq(
          ("orders", orders.filter(col("o_orderkey") <= 100)
            .withColumn("o_orderpriority", lit("9-UPDATED")), "o_orderkey", "o_orderkey")))
          .withColumn("seq", col("seq") + 1000000L)
          .withColumn("operation", lit("UPDATE"))
        val del = CdcStreams.heterogeneousUnion(Seq(
          ("customer", cust.filter(col("c_custkey") <= 50), "c_custkey", "c_custkey")))
          .withColumn("seq", col("seq") + 1000000L)
          .withColumn("operation", lit("DELETE"))
        CdcStreams.applyCdcBatchMultiTable(s, upd.unionByName(del), root)
        val census = s.read.parquet(root).groupBy("src_table")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("payload").contains("9-UPDATED"), 1L).otherwise(0L)).as("n_updated"))
        s.createDataFrame(java.util.Arrays.asList(census.collect(): _*), census.schema)
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),
    // streaming document curation: cross-batch digest dedup + quality gate
    // (rows-only: streaming runtime; StreamingSpec proves the cross-batch
    // and kill/restart dedup-state contract)
    "doc_stream_curate" -> ((s, d) =>
      graft.streaming.DocStream.streamCurateStats(s, d)),
    // streaming NEAR-dup curation: winnowing-fingerprint admission key
    // catches lightly-edited re-crawls the exact digest misses; census is
    // deterministic (gate-before-dedup) so the oracle replays the funnel
    "doc_stream_curate_near" -> ((s, d) =>
      graft.streaming.DocStream.streamNearCurateStats(s, d)),
    // composed bronze→silver→gold pipeline demo (rows-only: streaming
    // runtime with planted corrupt/quarantine rows; MedallionSpec proves
    // the kill/restart exactly-once contract)
    "cdc_medallion_stats" -> ((s, d) =>
      graft.streaming.Medallion.medallionStats(s, d)),
    // per-table streaming lifecycle orchestration (rows-only: streaming
    // runtime behavior, no SQL analog; OrchestratorSpec proves the
    // start/monitor/stop contract)
    "cdc_stream_orchestration" -> ((s, d) =>
      graft.streaming.StreamOrchestrator.orchestrationDemo(s, d)),
    // custom DataSource V2 (rows-only: synthetic, no oracle table)
    "src_cdcgen_stats" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("cdcgen").option("rows", 10000).option("partitions", 8).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    }),
    // FK-consistent multi-table transaction workload (cdcgen mode=txn):
    // per (scenario, table, op) event/txn census + lineitem cents mass —
    // the DuckDB oracle REGENERATES the workload from the same SplitMix64
    // arithmetic (int128 replay), so the correlated generator itself is
    // hash-gated, not just spec-gated
    "cdc_txn_workload" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("cdcgen").option("mode", "txn").option("txns", 2000)
        .option("partitions", 8).load()
        .groupBy("scenario", "src_table", "operation")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("txn_id")).as("n_txns"),
          sum(expr("CAST(get_json_object(payload, '$.l_extendedprice_c') AS BIGINT)"))
            .as("line_cents"))
    }),
    // unigram-LM quality scoring (quantized-log2 surprise)
    "doc_lm_score" -> ((s, d) => Text.docLmScore(s, d)),
    // winnowing (MOSS) fingerprint profile
    "doc_winnow" -> ((s, d) => Text.docWinnow(s, d)),
    // per-dimension embedding hygiene audit
    "emb_dim_stats" -> ((s, d) => Similarity.embDimStats(s, d)),
    // PCA + whitening of the embedding corpus (rows-only: eigenbasis sign
    // is not cross-engine; ScaleSpec pins variance ordering/orthogonality)
    "emb_pca" -> ((s, d) => Similarity.embPcaAudit(s, d)),
    // contrastive hard negatives: top-k most-similar with a different label
    "emb_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    // kNN label-consistency audit (embedding quality score per label)
    "emb_knn_consistency" -> ((s, d) => Similarity.embKnnConsistency(s, d)),
    // label-separability AUC over kNN candidate pairs (exact rank-sum)
    "emb_pair_auc" -> ((s, d) => Similarity.pairAuc(s, d)),
    // transaction reassembly from the Debezium envelope
    "cdc_txn_summary" -> ((s, d) => Debezium.txnAudit(s, d)),
    // retention curve via per-user activity bitmaps
    "ev_retention_bitmap" -> ((s, d) => Events.retentionBitmap(s, d)),
    // median/MAD robust outlier fences per event type
    "ev_anomaly_mad" -> ((s, d) => Events.anomalyMad(s, d)),
    // signup -> first-purchase delay distribution
    "ev_time_to_convert" -> ((s, d) => Events.timeToConvert(s, d)),
    // first-order Markov transition matrix over event types
    "ev_transitions" -> ((s, d) => Events.eventTransitions(s, d)),
    // language-ID confusion matrix (eval view of doc_langid)
    "doc_lang_confusion" -> ((s, d) => Text.langConfusion(s, d)),
    // curation with near-dup removal on top of exact dedup (rows-only:
    // MinHash clusters are hash-seeded; DedupSpec pins cluster semantics)
    "doc_curation_fuzzy" -> ((s, d) => Text.curationFuzzy(s, d)),
    // distributed BPE tokenizer training (rows-only: the iterative argmax
    // has no SQL analog; TextOpsSpec pins hand-computed merges)
    "doc_bpe_train" -> ((s, d) => Text.bpeTrain(s, d)),
    // tokenize the corpus under the learned merges (rows-only: the merge
    // table is bpeTrain's output; TextOpsSpec pins the planted encoding)
    "doc_bpe_encode" -> ((s, d) => Text.bpeEncodeStats(s, d)),
    // CCNet head/middle/tail perplexity terciles per language
    "doc_ppl_buckets" -> ((s, d) => Text.docPplBuckets(s, d)),
    // token-stream context-window packing accounting (global cumsum)
    "doc_pack_bins" -> ((s, d) => Text.docPackBins(s, d)),
    // SemDeDup within-cluster cosine dedup (rows-only: k-means cluster ids
    // are model-seeded; DedupSpec pins plant recovery + keep-rule invariants)
    "dedup_semantic" -> ((s, d) => Dedup.semanticDedup(s, d)),
    // registered-vs-observed payload column reconciliation: the registry
    // deliberately lags the data (o_orderpriority unregistered) and carries
    // a dropped column (o_legacy_flag) to exercise both drift arms
    // the DDL plan the drift census calls for: ADD COLUMN with types
    // inferred from observed payload values; absent columns go to review
    "cdc_schema_migration" -> ((s, d) => {
      import graft.streaming.CdcStreams
      val env = CdcStreams.heterogeneousUnion(Seq(
        ("orders", Tables.orders(s, d).select("o_orderkey", "o_custkey",
          "o_orderstatus", "o_totalprice"), "o_orderkey", "o_orderkey"),
        ("customer", Tables.customer(s, d).select("c_custkey", "c_name"),
          "c_custkey", "c_custkey")))
      CdcStreams.schemaMigration(env, Map(
        "orders" -> Seq("o_custkey", "o_orderstatus", "o_legacy_flag"),
        "customer" -> Seq("c_name", "c_phone")))
    }),
    "cdc_schema_drift" -> ((s, d) => {
      import graft.streaming.CdcStreams
      val env = CdcStreams.heterogeneousUnion(Seq(
        ("orders", Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
          "o_orderkey", "o_orderkey"),
        ("customer", Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey"),
          "c_custkey", "c_custkey")))
      CdcStreams.schemaDrift(env, Map(
        "orders" -> Seq("o_custkey", "o_orderstatus", "o_legacy_flag"),
        "customer" -> Seq("c_name", "c_nationkey")))
    }),
    // sweep-line peak concurrency per day via the distributed exact cumsum
    "ev_peak_concurrency" -> ((s, d) => Events.peakConcurrency(s, d)),
    // discrete-time churn hazard/survival, exact integer ppm
    "ev_churn_hazard" -> ((s, d) => Events.churnHazard(s, d)),
    // right-censored survival: Nelson-Aalen cumulative hazard, exact ppm
    "ev_survival_censored" -> ((s, d) => Events.survivalCensored(s, d)),
    // binlog op-chain grammar audit (create-missing / post-delete / dup-create)
    "cdc_op_sequence_audit" -> ((s, d) => Cdc.opSequenceAudit(s, d)),
    // DBLog chunked snapshot + live log interleave with consistency proof
    "cdc_incremental_snapshot" -> ((s, d) => Cdc.incrementalSnapshot(s, d)),
    // LSH banding precision/recall vs exact Jaccard on a bounded
    // deterministic sample (rows-only: eval harness; DedupSpec pins
    // plant recall + confusion identities)
    "dedup_lsh_eval" -> ((s, d) => Dedup.lshEval(s, d)),
    // Markov removal-effect attribution (rows-only: matrix solve has no
    // SQL analog; UtilSpec pins a hand-solvable chain)
    "ev_markov_attribution" -> ((s, d) => Events.markovAttribution(s, d)),
    // Newman modularity of the LPA partition over the kNN graph
    // (rows-only: LPA is iterative; GraphSpec pins the two-clique Q=0.5)
    "graph_modularity" -> ((s, d) => graft.operators.Graph.modularity(s, d)),
    // GDPR Art.15 data-subject access report across the FK-reachable tables
    "q_dsar_export" -> ((s, d) => Forget.dsarExport(s, d)),
    // debounced threshold alert episodes (gaps-and-islands over breach days)
    "ts_alert_episodes" -> ((s, d) => TimeSeries.alertEpisodes(s, d)),
    // filtered ANN: the predicate is the equi-join key (pre-filter plan,
    // cost ∝ selectivity; exact within the filtered subset)
    "ann_filtered_topk" -> ((s, d) => Similarity.annFilteredTopK(s, d)),
    // join-view IVM: three-term delta algebra, fold proven against the
    // direct join per nation (mismatch must be 0)
    "cdc_ivm_join_delta" -> ((s, d) => Cdc.ivmJoinDelta(s, d)),
    // incremental top-k maintenance: stored head ∪ touched re-rank, with
    // the refill fallback when deletes could promote an untouched user
    "cdc_topk_ivm" -> ((s, d) => Cdc.topkIvm(s, d)),
    // multi-source field-level LWW convergence (replica a outranks b)
    "cdc_lww_merge" -> ((s, d) => Cdc.lwwMerge(s, d)),
    // HLL-sketch distinct-count MV: delta fold == full rebuild, audited
    // (rows-only: sketch estimates aren't DuckDB-reproducible; the
    // est_mismatch column and UtilSpec pin incremental == rebuild)
    "mv_hll_refresh" -> ((s, d) => Sketches.hllMvRefresh(s, d)),
    // incremental connected components on the contracted supernode graph
    // (rows-only: CC needs recursion DuckDB-side; mismatch column pins
    // the incremental fold == full recompute corpus-wide)
    "graph_cc_delta" -> ((s, d) => Graph.ccDelta(s, d)),
    // run-length layout advisor: what each candidate sort order buys each
    // payload column in RLE/zone-map terms (exact adjacent-pair runs),
    // measured on the contiguous key-range BLOCK (see SortAdvisorBlockKeyCap)
    "tbl_sort_advisor" -> ((s, d) => Profile.sortRunsAdvisor(
      Tables.lineitem(s, d)
        .filter(org.apache.spark.sql.functions.col("l_orderkey") < SortAdvisorBlockKeyCap),
      SortAdvisorCandidates, SortAdvisorPayloads, SortAdvisorTiebreak)),
    // ANALYZE-style per-column stats: one stack-unpivot shuffle, exact NDV
    "tbl_column_stats" -> ((s, d) => Profile.tableColumnStats(s, d)),
    // measured per-operator cardinalities off the FINAL adaptive plan
    // (rows-only: runtime metrics; spec pins determinism + scan counts)
    "q_exec_metrics_audit" -> ((s, d) =>
      graft.plans.PlanAudit.executionAuditDemo(s, d)),
    // FFD dry-run bin pack of data files into target-size rewrite groups
    // (rows-only: file metadata; spec pins the packing on planted sizes)
    "tbl_compaction_plan" -> ((s, d) => Tables.compactionPlanDemo(s, d)),
    // Brown's double-exponential level+trend forecast, exact fixed-point
    "ts_brown_forecast" -> ((s, d) => TimeSeries.brownForecast(s, d)),
    // additive Holt-Winters with dow seasonality (rows-only: seeded
    // recursive fold; TimeSeriesSpec pins flat/ramp/weekly series)
    "ts_holt_winters" -> ((s, d) => TimeSeries.holtWinters(s, d)),
    // near-dup families named by cluster-grain tf-idf keywords
    // (rows-only: hash-seeded clustering; planted-family spec)
    "doc_cluster_keywords" -> ((s, d) => Text.clusterKeywords(s, d)),
    // SentencePiece-style unigram-LM tokenizer: substring seed + EM
    // Viterbi rounds + top-V prune (rows-only: FP recursion; spec pins
    // a planted corpus where the optimal piece must survive)
    "doc_unigram_train" -> ((s, d) => Text.unigramTrain(s, d)),
    // encode pass under the trained unigram vocab: per-doc fertility
    "doc_unigram_encode" -> ((s, d) => Text.unigramEncodeStats(s, d)),
    // whitespace vs BPE vs unigram on one corpus: fertility + compression
    "doc_tokenizer_compare" -> ((s, d) => Text.tokenizerCompare(s, d)),
    // skew-salted shuffle join must be row-identical to the plain join
    "q_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val o = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      Skew.saltedJoin(o, c, "c_custkey", salts = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(12, 2))), 2)
            .cast("double").as("revenue"))
    }),
    // skew-salted two-stage aggregation must equal the plain group-by —
    // proven against the DuckDB oracle, not just the spec
    "q_salted_agg" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Skew.saltedSumCount(
        Tables.lineitem(s, d), Seq("l_returnflag"), "l_quantity", salts = 8)
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).cast("double").as("sum_qty"),
          col("cnt").as("n_rows"))
    }),
    // rolling-origin backtest of naive / seasonal-naive / MA-7 forecasters
    // (exact integer MAE + sMAPE; the model-selection readout)
    "ts_backtest" -> ((s, d) => TimeSeries.backtest(s, d)),
    // Jaccard decile histogram + survivors curve over scored candidates
    // (rows-only: the winnowing blocking key is hash-seeded; DedupSpec
    // pins conservation + monotonicity + the planted high bucket)
    "dedup_threshold_curve" -> ((s, d) => Dedup.thresholdCurve(s, d)),
    // crawl-frontier URL dedup: canonicalize (case/port/fragment/utm/
    // trailing slash) then collapse per canonical page
    "doc_url_dedup" -> ((s, d) => Dedup.urlDedup(s, d)),
    "doc_split_leakage" -> ((s, d) => Dedup.splitLeakage(s, d)),
    "doc_dup_inflation" -> ((s, d) => Dedup.dupInflation(s, d)),
    // per-table backlog catch-up ETA against the measured drain rate
    "cdc_backlog_eta" -> ((s, d) => graft.cdc.TableRegistry.backlogEta(s, d)),
    // IVF recall-vs-nProbe tuning curve (rows-only: k-means model;
    // ScaleSpec pins monotone recall + full-probe exactness)
    "ann_ivf_tuning" -> ((s, d) => Similarity.annIvfTuning(s, d))
  )

  /** Shared sort-advisor configuration — the Spark entry and the oracle
    * generator must see the SAME candidates/payloads.
    *
    * BLOCK SAMPLE: the advisor measures run-length stats on the contiguous
    * key-range block `l_orderkey < SortAdvisorBlockKeyCap` instead of the
    * whole table — the 100 TB arm the scaladoc always prescribed. The cap
    * admits ~60K rows REGARDLESS of scale (orderkeys are dense from 0, and
    * ScaleUp offsets replica keys upward), so advisor cost is fixed while
    * the table grows; the predicate is min/max-prunable, so at 100 TB the
    * scan touches only the block's leading files. Run-length RATIOS are
    * locality statistics — a contiguous block estimates them without bias
    * for stationary layouts (UtilSpec pins block-vs-exact ranking
    * agreement). At the correctness SFs (0.001/0.01, max orderkey <15000)
    * the filter admits the WHOLE table, so the hash gate still checks the
    * exact computation; the DuckDB oracle applies the same WHERE, keeping
    * every SF hash-identical.
    */
  private[graft] val SortAdvisorBlockKeyCap = 15000L
  private val SortAdvisorCandidates: Seq[Seq[String]] =
    Seq(Seq("l_shipdate"), Seq("l_suppkey"), Seq("l_returnflag", "l_linestatus"))
  private val SortAdvisorPayloads: Seq[String] =
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey")
  // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem —
  // appending the payloads makes the adjacency deterministic on both engines
  private val SortAdvisorTiebreak: Seq[String] =
    Seq("l_orderkey", "l_linenumber") ++ SortAdvisorPayloads

  /** Shared DuckDB fragment: exact-DECIMAL discounted revenue over a
    * lineitem aliased `l` (mirror of Tpch.revenue).
    */
  private val revSql =
    "CAST(l.l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))"

  /** Shared DuckDB CTE: the normalized CDC log (mirror of Cdc.log). */
  private val logCte =
    """WITH log AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_type = 'signup' THEN 'INSERT'
      |         WHEN event_type = 'error' THEN 'DELETE'
      |         ELSE 'UPDATE' END AS operation,
      |    epoch_us(ts) AS seq_us, event_type, value, props
      |  FROM events)""".stripMargin

  /** Shared DuckDB CTE: the table-registry metadata (mirror of
    * TableRegistry.discover + the data_size_mb derivation) — reused by the
    * batch/groups/stats oracles.
    */
  private val registryCte =
    """WITH c AS (
      |  SELECT 'region' AS name, count(*) AS row_count FROM region
      |  UNION ALL SELECT 'nation', count(*) FROM nation
      |  UNION ALL SELECT 'customer', count(*) FROM customer
      |  UNION ALL SELECT 'supplier', count(*) FROM supplier
      |  UNION ALL SELECT 'part', count(*) FROM part
      |  UNION ALL SELECT 'orders', count(*) FROM orders
      |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      |  UNION ALL SELECT 'events', count(*) FROM events
      |  UNION ALL SELECT 'documents', count(*) FROM documents
      |  UNION ALL SELECT 'embeddings', count(*) FROM embeddings),
      |m AS (
      |  SELECT name, row_count,
      |    CASE name
      |      WHEN 'lineitem' THEN 120.0 WHEN 'orders' THEN 100.0
      |      WHEN 'customer' THEN 180.0 WHEN 'part' THEN 140.0
      |      WHEN 'supplier' THEN 160.0 WHEN 'events' THEN 80.0
      |      WHEN 'documents' THEN 900.0 WHEN 'embeddings' THEN 600.0
      |      ELSE 90.0 END AS avg_row_size,
      |    CASE WHEN name IN ('lineitem', 'orders', 'events') THEN 100.0
      |      WHEN name IN ('customer', 'part', 'supplier') THEN 10.0
      |      WHEN name IN ('documents', 'embeddings') THEN 1.0
      |      ELSE 0.1 END AS update_frequency,
      |    CASE name
      |      WHEN 'events' THEN CAST(NULL AS DOUBLE) WHEN 'lineitem' THEN 1.0
      |      WHEN 'orders' THEN 0.5 WHEN 'customer' THEN 5.0
      |      WHEN 'supplier' THEN 40.0 WHEN 'part' THEN 12.0
      |      WHEN 'nation' THEN 200.0 WHEN 'region' THEN 300.0
      |      WHEN 'documents' THEN 8.0 ELSE 16.0 END AS last_processed_hours,
      |    CASE name WHEN 'supplier' THEN 3 WHEN 'part' THEN 1
      |      WHEN 'embeddings' THEN 6 ELSE 0 END AS error_count,
      |    name != 'region' AS cdc_enabled
      |  FROM c),
      |p AS (SELECT *, row_count * avg_row_size / (1024.0 * 1024.0) AS data_size_mb FROM m)""".stripMargin

  // ---- splitmix64 replay in portable SQL --------------------------------
  // The cdcgen DataSource synthesizes rows from the SplitMix64 finalizer
  // (graft.functions.TextHashes.splitMix64). DuckDB has no wrapping 64-bit arithmetic,
  // but HUGEINT (int128) + explicit `% 2^64` reductions replay it exactly:
  // the one overflow-prone step — 64×64-bit wrapping multiply — decomposes
  // into 32-bit halves (a·b mod 2^64 = (al·bl + ((al·bh + ah·bl) mod 2^32)
  // ·2^32) mod 2^64), every intermediate ≤ 2^65 and comfortably inside
  // int128. That turns the "synthetic source, no oracle" rows into real
  // hash-checked rows: the oracle independently regenerates the stream.
  private val W64 = "18446744073709551616" // 2^64
  private def mul64Sql(a: String, c: BigInt): String = {
    val h = BigInt(2).pow(32)
    val (cl, ch) = (c % h, c / h)
    s"(($a) % 4294967296 * $cl + ((($a) % 4294967296 * $ch + " +
      s"($a) // 4294967296 * $cl) % 4294967296) * 4294967296) % $W64"
  }

  /** SELECT-list stages computing `mix(in)` into lateral alias `pfx`. */
  private def mixStagesSql(pfx: String, in: String): String = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    Seq(
      s"(($in) + $c1) % $W64 AS ${pfx}z0",
      s"xor(${pfx}z0, ${pfx}z0 >> 30) AS ${pfx}x1",
      s"${mul64Sql(s"${pfx}x1", c2)} AS ${pfx}z1",
      s"xor(${pfx}z1, ${pfx}z1 >> 27) AS ${pfx}x2",
      s"${mul64Sql(s"${pfx}x2", c3)} AS ${pfx}z2",
      s"xor(${pfx}z2, ${pfx}z2 >> 31) AS $pfx"
    ).mkString(",\n    ")
  }

  /** Java `Math.floorMod(signedView(e), m)` over an unsigned-64 value. */
  private def floorMod64Sql(e: String, m: Long): String =
    s"((((($e) - CASE WHEN ($e) >= 9223372036854775808 " +
      s"THEN CAST($W64 AS HUGEINT) ELSE 0 END) % $m) + $m) % $m)"

  /** CTE chain ending in `gen(event_id, user_id, event_type)` — the exact
    * cdcgen batch output for (rows=n, seed=42, users=150).
    */
  private def cdcgenCte(rows: Long): String =
    s"""ids AS (SELECT CAST(range AS HUGEINT) AS id FROM range(0, $rows)),
       |gm AS (SELECT id,
       |    ${mixStagesSql("mid", "id")}
       |  FROM ids),
       |gh AS (SELECT id,
       |    ${mixStagesSql("gh", "xor(CAST(42 AS HUGEINT), mid)")}
       |  FROM gm),
       |gd AS (SELECT id,
       |    ${mixStagesSql("gmu", s"xor(gh, ${0x5f5f5f5fL})")},
       |    ${mixStagesSql("gme", s"xor(gh, ${0xa5a5a5a5L})")}
       |  FROM gh),
       |gen AS (SELECT id AS event_id,
       |    CAST(${floorMod64Sql("gmu", 150)} AS BIGINT) AS user_id,
       |    ['signup','click','view','purchase','error']
       |      [CAST(${floorMod64Sql("gme", 5)} AS INT) + 1] AS event_type
       |  FROM gd)""".stripMargin

  /** CTE chain replaying the cdcgen `mode=txn` workload plans (seed=42,
    * parts=200): `tscen(t, scenario, n_lines, n_parts)` per txn and
    * `tlines(t, l, price)` per new-order lineitem — enough to regenerate
    * every count and cents mass the workload census aggregates.
    */
  private def cdcTxnCte(txns: Long): String =
    s"""txids AS (SELECT CAST(range AS HUGEINT) AS t FROM range(0, $txns)),
       |txm AS (SELECT t,
       |    ${mixStagesSql("txmid", "t")}
       |  FROM txids),
       |txh AS (SELECT t,
       |    ${mixStagesSql("txhh", "xor(CAST(42 AS HUGEINT), txmid)")}
       |  FROM txm),
       |txd AS (SELECT t, txhh,
       |    ${mixStagesSql("txnl", s"xor(txhh, ${0x22222222L})")},
       |    ${mixStagesSql("txnp", s"xor(txhh, ${0x44444444L})")}
       |  FROM txh),
       |tscen AS (SELECT t, txhh,
       |    CASE WHEN t % 5 <= 2 THEN 'new_customer_order'
       |         WHEN t % 5 = 3 THEN 'process_return'
       |         ELSE 'update_prices' END AS scenario,
       |    CAST(1 + ${floorMod64Sql("txnl", 5)} AS BIGINT) AS n_lines,
       |    CAST(1 + ${floorMod64Sql("txnp", 3)} AS BIGINT) AS n_parts
       |  FROM txd),
       |tlraw AS (SELECT s.t, CAST(lr.range + 1 AS HUGEINT) AS l, s.txhh
       |  FROM tscen s, range(0, 5) lr
       |  WHERE s.scenario = 'new_customer_order' AND lr.range + 1 <= s.n_lines),
       |tlmix AS (SELECT t, l,
       |    ${mixStagesSql("tlpk", "xor(txhh, 256 + l)")},
       |    ${mixStagesSql("tlq", "xor(txhh, 512 + l)")}
       |  FROM tlraw),
       |tlines AS (SELECT t, l,
       |    (CAST(1 + ${floorMod64Sql("tlq", 10)} AS BIGINT)) *
       |      (10000 + CAST(${floorMod64Sql("tlpk", 200)} AS BIGINT) % 90000) AS price
       |  FROM tlmix)""".stripMargin

  // ---- LSH / MinHash kernel replay in portable SQL ----------------------
  // The hyperplane-LSH bucket (functions/TextHashes.hyperplaneBucket) and
  // the MinHash aggregate (functions/MinHashAgg, via TextHashes.splitMix64)
  // are pure integer/float arithmetic — an LCG-derived weight table and
  // SplitMix64 — so the "hash-seeded, no SQL analog" family is in fact
  // replayable: the oracle regenerates the weight tables / signatures with
  // the same int128 machinery as the cdcgen replay, and the ordered list folds
  // (list_sum∘list_transform∘list_zip) reproduce the kernels' left-to-right
  // float accumulation bit-for-bit. MATERIALIZED pins each CTE to one
  // evaluation — the iterative chains reference predecessors twice, and
  // inlining would re-expand the whole subtree per reference.

  /** Weight-table stages for hyperplaneBucket's LCG (expects `p`, `j`,
    * `salt` columns in scope). */
  private def lcgWeightSql: String = {
    val m = BigInt("6364136223846793005")
    val a = BigInt("1442695040888963407")
    s"""(${mul64Sql("CAST(p * 1048573 + j * 31 + 42 + salt * 7919 AS HUGEINT)", m)} + $a) % $W64 AS s0,
       |         xor(s0, s0 >> 33) AS s1,
       |         CAST(s1 % 65536 AS DOUBLE) / 65536.0 - 0.5 AS wtv""".stripMargin
  }

  /** CTE chain ending in `cand(src, dst)` — the multi-table hyperplane-LSH
    * candidate pairs over `embeddings`, plus `e(vec_id, emb)`.
    */
  private def lshCandCte(tables: Int, planes: Int): String =
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |pjs AS (SELECT CAST(s.range AS INT) AS salt, CAST(p.range AS INT) AS p, CAST(u.j AS INT) AS j
       |       FROM range(0, $tables) s, range(0, $planes) p
       |       CROSS JOIN (SELECT unnest(range(0, len(emb))) AS j
       |                   FROM (SELECT emb FROM e ORDER BY vec_id LIMIT 1)) u),
       |wt AS (SELECT salt, p, j,
       |         $lcgWeightSql
       |       FROM pjs),
       |wl AS (SELECT salt, p, list(wtv ORDER BY j) AS wv FROM wt GROUP BY 1, 2),
       |dots AS (SELECT e.vec_id, wl.salt, wl.p,
       |           list_sum(list_transform(list_zip(e.emb, wl.wv), x -> x[1] * x[2])) AS dot
       |         FROM e, wl),
       |bkt AS (SELECT vec_id, salt, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
       |        FROM dots GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |         FROM bkt a JOIN bkt b ON a.salt = b.salt AND a.bucket = b.bucket
       |           AND a.vec_id < b.vec_id)""".stripMargin

  /** CTE chain ending in `g(src, dst, cos, rnk)` — the corpus k-NN graph
    * (Similarity.knnGraph defaults: k=5, planes=4, tables=8).
    */
  private def knnGraphCte: String =
    s"""${lshCandCte(8, 4)},
       |kbkt AS MATERIALIZED (SELECT vec_id, salt, bucket FROM (
       |  SELECT vec_id, salt, bucket, row_number() OVER (PARTITION BY salt, bucket
       |      ORDER BY md5(concat_ws(':', CAST(vec_id AS VARCHAR), CAST(salt AS VARCHAR), CAST(bucket AS VARCHAR))), vec_id) AS crn
       |  FROM bkt) WHERE crn <= 4000),
       |kcand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |        FROM kbkt a JOIN kbkt b ON a.salt = b.salt AND a.bucket = b.bucket
       |          AND a.vec_id < b.vec_id),
       |knsc AS (SELECT c.src, c.dst, list_cosine_similarity(es.emb, ed.emb) AS cosr
       |       FROM kcand c JOIN e es ON es.vec_id = c.src JOIN e ed ON ed.vec_id = c.dst),
       |mir AS (SELECT src, dst, cosr FROM knsc UNION ALL SELECT dst, src, cosr FROM knsc),
       |knrk AS (SELECT src, dst, cosr,
       |        row_number() OVER (PARTITION BY src ORDER BY cosr DESC, dst) AS rnk
       |      FROM mir),
       |g AS MATERIALIZED (SELECT src, dst, round(cosr, 4) AS cos, rnk FROM knrk WHERE rnk <= 5)""".stripMargin

  /** CTE chain ending in `l<iters>(id, lbl)` — synchronous min-tie-break
    * self-inclusive label propagation over `g`. */
  private def lpaCte(iters: Int = 6): String = {
    val sb = new StringBuilder(
      """und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g)),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM und)""".stripMargin)
    for (i <- 1 to iters) sb.append(
      s""",
         |v$i AS (SELECT nid, lbl, count(*) AS cnt FROM (
         |    SELECT u.dst AS nid, l.lbl FROM und u JOIN l${i - 1} l ON l.id = u.src
         |    UNION ALL SELECT id AS nid, lbl FROM l${i - 1}) GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT nid AS id, lbl FROM (
         |    SELECT nid, lbl, row_number() OVER (PARTITION BY nid ORDER BY cnt DESC, lbl ASC) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** CTE chain ending in `p1..p<rounds>(id)` (nodes peeled per round) and
    * `a<rounds>(id)` (survivors) — the bounded-round k-core peel over `g`
    * (Graph.kcoreFrom semantics: simultaneous removal of surviving nodes
    * with surviving-subgraph degree < k, isolated survivors peel at 0).
    */
  private def kcoreCte(k: Int = 3, rounds: Int = 8): String = {
    val sb = new StringBuilder(
      """kund AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g)),
        |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM kund)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |d$i AS (SELECT u.src AS id, count(*) AS deg FROM kund u
         |        JOIN a${i - 1} x ON x.id = u.src
         |        JOIN a${i - 1} y ON y.id = u.dst GROUP BY 1),
         |p$i AS MATERIALIZED (SELECT a.id FROM a${i - 1} a
         |        LEFT JOIN d$i d ON d.id = a.id WHERE coalesce(d.deg, 0) < $k),
         |a$i AS MATERIALIZED (SELECT a.id FROM a${i - 1} a
         |        LEFT JOIN p$i p ON p.id = a.id WHERE p.id IS NULL)""".stripMargin)
    sb.toString
  }

  /** CTE chain ending in `r<iters>(id, deg, pr)` — damped power iteration
    * over `g`. The dangling-mass term is omitted: the k-NN construction
    * gives every node out-edges (a future corpus violating that goes RED
    * here, which is the safe direction). */
  private def prCte(iters: Int = 8): String = {
    val sb = new StringBuilder(
      """prdeg AS (SELECT src AS id, count(*) AS deg FROM g GROUP BY 1),
        |prnodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM g UNION ALL SELECT dst FROM g)),
        |r0 AS MATERIALIZED (SELECT n2.id, coalesce(p2.deg, 0) AS deg, 1.0 AS pr
        |  FROM prnodes n2 LEFT JOIN prdeg p2 USING (id))""".stripMargin)
    for (i <- 1 to iters) sb.append(
      s""",
         |c$i AS (SELECT g.dst AS id, sum(r.pr / r.deg) AS inflow
         |         FROM g JOIN r${i - 1} r ON r.id = g.src AND r.deg > 0 GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT r.id, r.deg, 0.15 + 0.85 * coalesce(c.inflow, 0.0) AS pr
         |         FROM r${i - 1} r LEFT JOIN c$i c USING (id))""".stripMargin)
    sb.toString
  }

  /** CTE `qz(vec_id, emb, scale, q)` — the int8 per-vector quantization
    * (Similarity.quantizeEmbeddings) replayed with list lambdas. */
  private def quantizeCte: String =
    """qz AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-12) / 127.0 AS scale,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x / (greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))), 1e-12) / 127.0)) AS TINYINT)) AS q
      |  FROM embeddings)""".stripMargin

  /** CTE chain ending in `rr(qid, nid, cosr, rnk)` — the de-scaled int8
    * corpus scan of Similarity.annQuantizedTopK, unranked cut. */
  private def quantTopkCte: String =
    s"""$quantizeCte,
       |nbr AS (SELECT vec_id AS nid, q, scale,
       |    sqrt(list_sum(list_transform(q, qi -> CAST(qi AS DOUBLE) * qi * scale * scale))) AS nq
       |  FROM qz),
       |qvs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nqe
       |  FROM embeddings WHERE vec_id < 8),
       |qpr AS (SELECT qvs.qid, nbr.nid,
       |    list_sum(list_transform(list_zip(qvs.qe, nbr.q), z -> z[1] * z[2] * nbr.scale)) AS dot,
       |    nbr.nq, qvs.nqe
       |  FROM nbr, qvs WHERE nbr.nid <> qvs.qid),
       |rr AS (SELECT qid, nid,
       |    CASE WHEN nq = 0.0 OR nqe = 0.0 THEN 0.0 ELSE dot / (nq * nqe) END AS cosr,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      CASE WHEN nq = 0.0 OR nqe = 0.0 THEN 0.0 ELSE dot / (nq * nqe) END DESC, nid) AS rnk
       |  FROM qpr)""".stripMargin

  /** CTE chain ending in `sel<k>` — the greedy MMR selection
    * (λ = 0.7, 4k over-fetch) as k chained argmax rounds. */
  private def mmrCte(k: Int = 5): String = {
    val sb = new StringBuilder(
      """mem AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |mqs AS (SELECT vec_id AS qid, emb AS qe FROM mem WHERE vec_id < 8),
        |mscored AS (SELECT mqs.qid, c.vec_id AS nid,
        |    list_cosine_similarity(mqs.qe, c.emb) AS rel, c.emb AS ne
        |  FROM mem c, mqs WHERE c.vec_id <> mqs.qid),
        |mcand AS MATERIALIZED (SELECT qid, nid, rel, ne FROM (
        |  SELECT qid, nid, rel, ne,
        |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rnk
        |  FROM mscored) WHERE rnk <= 20),
        |sel1 AS MATERIALIZED (SELECT qid, nid, rel, ne, 0.7 * rel AS score, 1 AS rk FROM (
        |  SELECT qid, nid, rel, ne,
        |    row_number() OVER (PARTITION BY qid ORDER BY 0.7 * rel DESC, nid) AS rn
        |  FROM mcand) WHERE rn = 1)""".stripMargin)
    for (r <- 2 to k) sb.append(
      s""",
         |ms$r AS (SELECT c.qid, c.nid, c.rel, c.ne,
         |    greatest(0.0, max(list_cosine_similarity(c.ne, s.ne))) AS msim
         |  FROM mcand c JOIN sel${r - 1} s ON s.qid = c.qid
         |  WHERE c.nid NOT IN (SELECT nid FROM sel${r - 1} p WHERE p.qid = c.qid)
         |  GROUP BY c.qid, c.nid, c.rel, c.ne),
         |pick$r AS (SELECT qid, nid, rel, ne, score, $r AS rk FROM (
         |  SELECT qid, nid, rel, ne, 0.7 * rel - 0.3 * msim AS score,
         |    row_number() OVER (PARTITION BY qid ORDER BY 0.7 * rel - 0.3 * msim DESC, nid) AS rn
         |  FROM ms$r) WHERE rn = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin)
    sb.toString
  }

  /** MinHashAgg's `TextHashes.splitMix64(key, j + 1)` replay; expects
    * `l_partkey` and `j` in scope, yields signed `h`. */
  private def minhashMixSql: String = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    s"""(CAST(l_partkey AS HUGEINT) + ((j + 1) * $c1) % $W64) % $W64 AS z0,
       |  xor(z0, z0 >> 30) AS x1,
       |  ${mul64Sql("x1", c2)} AS z1,
       |  xor(z1, z1 >> 27) AS x2,
       |  ${mul64Sql("x2", c3)} AS z2,
       |  xor(z2, z2 >> 31) AS u,
       |  CAST(u - CASE WHEN u >= 9223372036854775808 THEN CAST($W64 AS HUGEINT) ELSE 0 END AS BIGINT) AS h""".stripMargin
  }

  // ---- text-kernel replay (FNV-1a / shingle MinHash / rolling hash) ----
  // The near-dup text kernels (functions/TextHashes) are FNV-1a 64 over
  // UTF-8 bytes, a SplitMix64 per-slot mix, and a Rabin-Karp rolling hash —
  // all wrapping 64-bit integer arithmetic, so the same HUGEINT machinery
  // that replays cdcgen/LSH replays them too: the oracle re-derives
  // signatures, band keys, candidate pairs and exact verify scores from the
  // raw text. The synthetic corpus is single-spaced ASCII (no multi-byte
  // code points, no leading/trailing/double spaces), so string_split +
  // ascii() reproduce the kernels' byte-level tokenization exactly.

  private val FnvPrime = BigInt("100000001b3", 16)
  private val FnvBasis = BigInt("cbf29ce484222325", 16)

  /** FNV-1a 64 fold over the bytes of string column `in` (unsigned HUGEINT
    * out). `in` must be a bare column reference — it is referenced twice. */
  private def fnvFoldSql(in: String): String =
    s"""list_reduce(list_prepend(CAST($FnvBasis AS HUGEINT),
       |      list_transform(range(1, length($in) + 1), p -> CAST(ascii(($in)[p]) AS HUGEINT))),
       |    (h, b) -> ${mul64Sql("xor(h, b)", FnvPrime)})""".stripMargin

  /** Signed-BIGINT view of an unsigned (< 2^64) HUGEINT expression. */
  private def signed64Sql(e: String): String =
    s"CAST(($e) - CASE WHEN ($e) >= 9223372036854775808 " +
      s"THEN CAST($W64 AS HUGEINT) ELSE 0 END AS BIGINT)"

  /** CTE block replaying TextHashes.minhashSig (k=16, 3-token shingles) and
    * the shingle-set verify kernel over a relation `docs(doc_id, text)`:
    * `{p}sets` (distinct shingle hashes), `{p}sz` (set sizes), `{p}slot`
    * (the 16 signature slots, signed) and `{p}bands` (4-slot band keys —
    * RAW joined slices, the same collision semantics as the Spark side's
    * xxhash64 of the slice minus the 2^-64 hash-collision tail). */
  private def minhashCtes(p: String, docs: String): String = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    s"""${p}sg AS (SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $docs) ${p}tk,
       |       LATERAL unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)),
       |${p}fnv AS MATERIALIZED (SELECT doc_id, ${fnvFoldSql("s")} AS h FROM ${p}sg),
       |${p}sets AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM ${p}fnv),
       |${p}sz AS (SELECT doc_id, count(*) AS n FROM ${p}sets GROUP BY 1),
       |${p}mx AS (SELECT doc_id, j,
       |    (h + CAST(j + 1 AS HUGEINT) * $c1) % $W64 AS z0,
       |    xor(z0, z0 >> 30) AS x1, ${mul64Sql("x1", c2)} AS z1,
       |    xor(z1, z1 >> 27) AS x2, ${mul64Sql("x2", c3)} AS z2,
       |    xor(z2, z2 >> 31) AS z
       |  FROM ${p}fnv, LATERAL unnest(range(0, 16)) AS u(j)),
       |${p}slot AS MATERIALIZED (SELECT doc_id, j, min(${signed64Sql("z")}) AS sv
       |  FROM ${p}mx GROUP BY doc_id, j),
       |${p}bands AS (SELECT doc_id, j // 4 AS band,
       |    string_agg(CAST(sv AS VARCHAR), ',' ORDER BY j) AS bh
       |  FROM ${p}slot GROUP BY doc_id, j // 4)""".stripMargin
  }

  /** `mhdocs` = documents ∪ last-token-dropped plants of every 20th doc
    * (Dedup.corpusWithPlants). */
  private def mhDocsCte: String =
    """mhbase AS (SELECT doc_id, text FROM documents),
      |mhdocs AS (SELECT doc_id, text FROM mhbase
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      greatest(len(string_split(text, ' ')) - 1, 1)), ' ')
      |  FROM mhbase WHERE doc_id % 20 = 0)""".stripMargin

  /** Band-bucket candidates + exact shingle-Jaccard verify over the `mh*`
    * CTEs → `mhpairs(doc_a, doc_b, jaccard)` at `threshold`. */
  private def mhPairsCte(threshold: Double): String =
    s"""mhcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM mhbands a JOIN mhbands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |mhint AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
       |  FROM mhcand c JOIN mhsets x ON x.doc_id = c.doc_a
       |  JOIN mhsets y ON y.doc_id = c.doc_b AND y.h = x.h
       |  GROUP BY 1, 2),
       |mhpairs AS MATERIALIZED (SELECT * FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
       |      (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
       |  FROM mhcand c
       |  LEFT JOIN mhint i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN mhsz sa ON sa.doc_id = c.doc_a
       |  JOIN mhsz sb ON sb.doc_id = c.doc_b) WHERE jaccard >= $threshold)""".stripMargin

  /** Min-label connected components over `mhpairs` as a recursive closure
    * (the graph is tiny — verified-pair clusters of ≤ ~6 docs — so the
    * transitive closure is bounded; Dedup.connectedComponents' iterative
    * min-propagation provably converges to the same min-member labels).
    * Yields `cc(doc_id, cluster_id)`. Requires WITH RECURSIVE. */
  private def ccClosureCte: String =
    """ccn AS (SELECT doc_a AS id FROM mhpairs UNION SELECT doc_b FROM mhpairs),
      |ccu AS (SELECT doc_a AS src, doc_b AS dst FROM mhpairs
      |  UNION SELECT doc_b, doc_a FROM mhpairs),
      |reach(id, r) AS (SELECT id, id FROM ccn
      |  UNION SELECT u.src, reach.r FROM ccu u JOIN reach ON reach.id = u.dst),
      |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)""".stripMargin

  /** TextHashes.rollingMinHash (window `w`) over `docs(doc_id, text)` →
    * `{p}rfp(doc_id, len, rfp)` with rfp the unsigned min window hash.
    * Assumes every text is ≥ `w` bytes (the synthetic corpus floor is ~19). */
  private def rollingCtes(p: String, docs: String, w: Int): String = {
    val base = BigInt(1099511628211L)
    val m = BigInt(2).pow(64)
    val pow = base.modPow(BigInt(w - 1), m)
    val step = s"(${mul64Sql(s"(s[1] + $m - ${mul64Sql("zz[2]", pow)}) % $W64", base)} + zz[1]) % $W64"
    s"""${p}bl AS (SELECT doc_id, length(text) AS len,
       |    list_transform(range(1, length(text) + 1), q -> CAST(ascii(text[q]) AS HUGEINT)) AS bs
       |  FROM $docs),
       |${p}pre AS (SELECT doc_id, len, bs,
       |    list_reduce(list_prepend(CAST(0 AS HUGEINT), bs[1:$w]),
       |      (h, b) -> (${mul64Sql("h", base)} + b) % $W64) AS h0
       |  FROM ${p}bl),
       |${p}rfp AS MATERIALIZED (SELECT doc_id, len,
       |    list_reduce(
       |      list_prepend([h0, h0],
       |        list_transform(list_zip(bs[${w + 1}:], bs[1:len(bs) - $w]),
       |          zz -> [zz[1], zz[2]])),
       |      (s, zz) -> [$step, least(s[2], $step)])[2] AS rfp
       |  FROM ${p}pre)""".stripMargin
  }

  /** Distinct char-`n`-gram FNV hash sets over `docs(doc_id, text)` →
    * `{p}sets(doc_id, h)`, `{p}sz(doc_id, n)` (TextHashes.gramSet). */
  private def gramCtes(p: String, docs: String, n: Int): String =
    s"""${p}g AS (SELECT doc_id, text[i:i + ${n - 1}] AS gs
       |  FROM $docs, LATERAL unnest(range(1, greatest(length(text) - ${n - 1}, 1) + 1)) AS u(i)),
       |${p}sets AS MATERIALIZED (SELECT DISTINCT doc_id, ${fnvFoldSql("gs")} AS h FROM ${p}g),
       |${p}sz AS (SELECT doc_id, count(*) AS n FROM ${p}sets GROUP BY 1)""".stripMargin

  /** The rolling-fingerprint blocking + length prefilter of Dedup
    * .ngramJaccard → `ngcand(doc_a, doc_b)` over `mhdocs` (needs
    * rollingCtes("ng", "mhdocs", 16)). */
  private def ngCandCte: String =
    """ngcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ngrfp a JOIN ngrfp b ON a.rfp = b.rfp AND a.doc_id < b.doc_id
      |    AND abs(a.len - b.len) <= 12)""".stripMargin

  /** Char-4-gram Jaccard scores on `ngcand` → `ngsc(doc_a, doc_b, jaccard)`
    * (needs gramCtes("g4", "mhdocs", 4)). */
  private def ngScoreCte: String =
    """ngint AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
      |  FROM ngcand c JOIN g4sets x ON x.doc_id = c.doc_a
      |  JOIN g4sets y ON y.doc_id = c.doc_b AND y.h = x.h
      |  GROUP BY 1, 2),
      |ngsc AS (SELECT c.doc_a, c.doc_b,
      |    round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
      |      (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
      |  FROM ngcand c
      |  LEFT JOIN ngint i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      |  JOIN g4sz sa ON sa.doc_id = c.doc_a
      |  JOIN g4sz sb ON sb.doc_id = c.doc_b)""".stripMargin

  /** CTE chain replaying sequential BPE training (Text.bpeTrain, whose
    * batched selection is spec-proven byte-identical to the sequential
    * run): `bw0(w, cnt, syms)` is the distinct-word frame with char
    * symbols; each round `k` recounts adjacent pairs (`bp{k}`), picks the
    * (occ DESC, l, r) top-1 rule (`br{k}`) and rewrites every word with
    * the same left-to-right non-overlapping fusion as TextHashes.bpeMerge
    * — a replace-last list fold is equivalent: a fused token `l||r` can
    * never re-match `l` (that would need an empty `r`). Ends at `bw{n}`
    * (encoded words) with `br1..br{n}` the rule table. */
  private def bpeRoundsCte(merges: Int): String = {
    val fuse = (prev: String) =>
      s"""list_reduce(
         |      list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = rl AND x[1] = rr
         |        THEN list_append(acc[1:len(acc) - 1], rl || rr)
         |        ELSE list_append(acc, x[1]) END)""".stripMargin
    val sb = new StringBuilder(
      """bw0 AS MATERIALIZED (SELECT w, cnt,
        |    list_transform(range(1, length(w) + 1), i -> w[i:i]) AS syms
        |  FROM (SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |    GROUP BY 1))""".stripMargin)
    for (k <- 1 to merges) sb.append(
      s""",
         |bp$k AS (SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS occ
         |  FROM bw${k - 1}, LATERAL unnest(range(1, len(syms))) AS u(i)
         |  WHERE len(syms) >= 2 GROUP BY 1, 2),
         |br$k AS MATERIALIZED (SELECT l, r, occ FROM bp$k ORDER BY occ DESC, l, r LIMIT 1),
         |bw$k AS MATERIALIZED (SELECT w, cnt, ${fuse(s"bw${k - 1}")} AS syms
         |  FROM (SELECT bw.w, bw.cnt, bw.syms, br.l AS rl, br.r AS rr
         |        FROM bw${k - 1} bw, br$k br))""".stripMargin)
    sb.toString
  }

  /** PLAN PROBES — un-memoized builders for the queries whose registered
    * binding reads a per-snapshot parquet artifact (`Dedup`'s memoized
    * pair/funnel indexes). The artifact read is the right EXECUTION shape
    * (build once per snapshot, every consumer scans the index), but as a
    * PLAN it is a bare parquet scan — gating it would leave the actual
    * signature → banding → verify-join funnel structurally unaudited. The
    * join-safety sweep (PlanAuditSpec) and the PLAN_BASELINE snapshot
    * audit THESE frames for the keys below, and the registered binding
    * everywhere else. `dedup_clusters`/`dedup_keep_best` stay on their
    * registered plans: their upstream funnel is gated here via
    * `dedup_minhash`, and the CC loop between is iterative (actions +
    * localCheckpoint), not one auditable plan.
    */
  def planProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash" -> ((s, d) => Dedup.minhashLshCompute(s, d, 0.5)),
    "dedup_embedding_lsh" ->
      ((s, d) => Dedup.embeddingNearDupLshFrom(Tables.embeddings(s, d))),
    "dedup_lsh_accounting" ->
      ((s, d) => Dedup.embeddingLshAccountingFrom(Tables.embeddings(s, d)))
  )

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted keys (approx/LSH/hash-seeded ops) get the
    * driver's rows-only check.
    */
  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "ann_hybrid_rrf" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |vp AS (SELECT qid, nid, list_cosine_similarity(qe, ce) AS cosr FROM q, c WHERE nid <> qid),
        |vr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS rv FROM vp),
        |vtop AS (SELECT qid, nid, rv FROM vr WHERE rv <= 20),
        |dg AS (SELECT DISTINCT doc_id, g FROM (
        |         SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |         FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |           UNNEST(range(1, len(toks))) AS t(i))),
        |dn AS (SELECT doc_id, count(*) AS n_g FROM dg GROUP BY 1),
        |qg AS (SELECT doc_id AS qid, g FROM dg WHERE doc_id < 8),
        |inter AS (SELECT qg.qid, dg.doc_id AS nid, count(*) AS inter
        |          FROM qg JOIN dg ON qg.g = dg.g AND dg.doc_id <> qg.qid GROUP BY 1, 2),
        |jac AS (SELECT i.qid, i.nid, (i.inter * 10000) // (a.n_g + b.n_g - i.inter) AS jac_e4
        |        FROM inter i JOIN dn a ON a.doc_id = i.qid JOIN dn b ON b.doc_id = i.nid),
        |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY jac_e4 DESC, nid) AS rl FROM jac),
        |ltop AS (SELECT qid, nid, rl FROM lr WHERE rl <= 20),
        |fused AS (SELECT coalesce(v.qid, l.qid) AS qid, coalesce(v.nid, l.nid) AS nid,
        |            coalesce(1000000 // (60 + v.rv), 0) + coalesce(1000000 // (60 + l.rl), 0) AS rrf_e6,
        |            coalesce(v.rv, 0) AS vec_rank, coalesce(l.rl, 0) AS lex_rank
        |          FROM vtop v FULL OUTER JOIN ltop l ON v.qid = l.qid AND v.nid = l.nid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_e6 DESC, nid) AS rn FROM fused)
        |SELECT qid, nid, CAST(rrf_e6 AS BIGINT) AS rrf_e6, CAST(vec_rank AS BIGINT) AS vec_rank,
        |  CAST(lex_rank AS BIGINT) AS lex_rank, CAST(rn AS INT) AS rnk
        |FROM r WHERE rn <= 5""".stripMargin,
    "doc_shard_stitch" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |plantsrc AS (SELECT doc_id, toks, len(toks) AS n FROM tok
        |             WHERE doc_id % 20 = 7 AND len(toks) >= 48),
        |frags AS (
        |  SELECT doc_id + 4000000 AS doc_id, toks[1 : (2*n)//3] AS toks FROM plantsrc
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, toks[(2*n)//3 - 15 : n] AS toks FROM plantsrc),
        |corpus AS (
        |  SELECT doc_id, toks FROM tok WHERE len(toks) >= 32
        |  UNION ALL SELECT doc_id, toks FROM frags),
        |sig AS (SELECT doc_id, len(toks) AS n_tok,
        |          array_to_string(toks[1:16], ' ') AS head_s,
        |          array_to_string(toks[len(toks)-15 : len(toks)], ' ') AS tail_s,
        |          md5(array_to_string(toks, ' ')) AS full_d
        |        FROM corpus)
        |SELECT a.doc_id AS left_doc, b.doc_id AS right_doc,
        |  CAST(a.n_tok AS BIGINT) AS left_tokens,
        |  CAST(b.n_tok AS BIGINT) AS right_tokens,
        |  (a.full_d = b.full_d) AS exact_dup
        |FROM sig a JOIN sig b ON a.tail_s = b.head_s AND a.doc_id <> b.doc_id""".stripMargin,
    "doc_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g8 AS (SELECT DISTINCT doc_id, md5(list_aggregate(toks[i:i+7], 'string_agg', ' ')) AS gd
        |       FROM tok, UNNEST(range(1, len(toks) - 6)) AS t(i) WHERE len(toks) >= 8),
        |firstd AS (SELECT gd, min(doc_id) AS first_doc FROM g8 GROUP BY 1),
        |per AS (SELECT g8.doc_id, count(*) AS n_grams,
        |          sum(CASE WHEN f.first_doc = g8.doc_id THEN 1 ELSE 0 END) AS n_novel
        |        FROM g8 JOIN firstd f ON g8.gd = f.gd GROUP BY 1)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_novel AS BIGINT) AS n_novel,
        |  CAST((n_novel * 10000) // n_grams AS BIGINT) AS novelty_bp
        |FROM per""".stripMargin,
    "doc_bpe_train" ->
      s"""WITH ${bpeRoundsCte(10)}
         |${(1 to 10).map(k =>
             s"""SELECT CAST($k AS INT) AS rank, l AS "left", r AS "right", occ AS n_occ FROM br$k""")
            .mkString("\nUNION ALL\n")}""".stripMargin,
    "doc_bpe_encode" ->
      s"""WITH ${bpeRoundsCte(10)},
         |betok AS (SELECT w, CAST(len(syms) AS INT) AS n_toks_w FROM bw10),
         |bedoc AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |beagg AS (SELECT d.doc_id, d.lang,
         |    CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
         |    CAST(sum(t.n_toks_w) AS BIGINT) AS n_bpe_tokens
         |  FROM bedoc d JOIN betok t USING (w) GROUP BY 1, 2)
         |SELECT doc_id, lang, n_chars, n_bpe_tokens,
         |  CAST(n_chars * 10000 // n_bpe_tokens AS BIGINT) AS chars_per_token_e4
         |FROM beagg""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)}
         |SELECT doc_a, doc_b, jaccard FROM mhpairs""".stripMargin,
    // band-bucket census over the same banding the pair join shuffles on;
    // bucket sizes are identical under raw-slice vs xxhash64 band keys
    "dedup_bucket_skew" ->
      s"""WITH $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |bsz AS (SELECT band, bh, count(*) AS sz FROM mhbands GROUP BY 1, 2)
         |SELECT CAST(band AS INT) AS band, CAST(1000 AS BIGINT) AS cap,
         |  count(*) AS n_buckets, CAST(max(sz) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN sz > 1000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hot_buckets,
         |  CAST(sum(CASE WHEN sz > 1000 THEN sz - 1000 ELSE 0 END) AS BIGINT)
         |    AS dropped_rows
         |FROM bsz GROUP BY band""".stripMargin,
    "doc_split_leakage" ->
      s"""WITH $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |slsp AS (SELECT doc_id,
         |    CASE WHEN substr(md5(text), 1, 2) < 'e0' THEN 'train'
         |         WHEN substr(md5(text), 1, 2) < 'f0' THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM mhdocs),
         |slp AS (SELECT least(sa.split, sb.split) AS split_a,
         |    greatest(sa.split, sb.split) AS split_b, p.jaccard
         |  FROM mhpairs p JOIN slsp sa ON sa.doc_id = p.doc_a
         |  JOIN slsp sb ON sb.doc_id = p.doc_b)
         |SELECT split_a, split_b, split_a <> split_b AS is_leak,
         |  count(*) AS n_pairs,
         |  CAST(sum(CAST(round(jaccard * 10000) AS BIGINT)) AS BIGINT)
         |    AS sum_jaccard_e4,
         |  max(jaccard) AS max_jaccard
         |FROM slp GROUP BY 1, 2""".stripMargin,
    "doc_dup_inflation" ->
      s"""WITH RECURSIVE $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |$ccClosureCte,
         |ditok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM mhdocs),
         |diagg AS (SELECT cc.cluster_id, count(*) AS n_members,
         |    CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN cc.doc_id = cc.cluster_id THEN t.n_tokens
         |        ELSE 0 END) AS BIGINT) AS kept_tokens
         |  FROM cc JOIN ditok t USING (doc_id) GROUP BY 1)
         |SELECT cluster_id, n_members, total_tokens, kept_tokens,
         |  CAST(total_tokens - kept_tokens AS BIGINT) AS wasted_tokens,
         |  CAST((total_tokens - kept_tokens) * 10000 // total_tokens AS BIGINT)
         |    AS waste_e4
         |FROM diagg""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |$ccClosureCte
         |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM cc""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |$ccClosureCte,
         |kbq AS (SELECT doc_id,
         |    CAST(least(100, n_tokens) * greatest(0, n_tokens - the_cnt) * 100
         |      // n_tokens AS BIGINT) AS q_e4
         |  FROM (SELECT doc_id,
         |      CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
         |        AS n_tokens,
         |      CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT)
         |        // 3 AS the_cnt
         |    FROM mhdocs)),
         |kbm AS (SELECT cc.doc_id, cc.cluster_id, q.q_e4,
         |    row_number() OVER (PARTITION BY cc.cluster_id
         |      ORDER BY q.q_e4 DESC, cc.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cc.cluster_id) AS n_members,
         |    max(CASE WHEN cc.doc_id = cc.cluster_id THEN q.q_e4 END)
         |      OVER (PARTITION BY cc.cluster_id) AS first_q_e4
         |  FROM cc JOIN kbq q USING (doc_id))
         |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
         |  CAST(first_q_e4 AS BIGINT) AS first_q_e4, doc_id AS best_doc,
         |  CAST(q_e4 AS BIGINT) AS best_q_e4,
         |  CAST(q_e4 - first_q_e4 AS BIGINT) AS gain_e4,
         |  doc_id <> cluster_id AS changed
         |FROM kbm WHERE rn = 1""".stripMargin,
    "dedup_ensemble" ->
      s"""WITH $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |env AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(CAST(x * 0.98 + 0.01 AS FLOAT) AS DOUBLE))
         |  FROM embeddings WHERE vec_id % 20 = 0)
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  round(list_cosine_similarity(ea.emb, eb.emb), 4) AS cos,
         |  p.jaccard >= 0.5 AND round(list_cosine_similarity(ea.emb, eb.emb), 4) >= 0.85
         |    AS both_signals
         |FROM mhpairs p JOIN env ea ON ea.vec_id = p.doc_a
         |JOIN env eb ON eb.vec_id = p.doc_b""".stripMargin,
    "dedup_incremental_near" ->
      s"""WITH icdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
         |iddocs AS (
         |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 3000000, text FROM icdocs WHERE doc_id % 7 = 1
         |  UNION ALL
         |  SELECT doc_id + 4000000,
         |    array_to_string(list_slice(string_split(text, ' '), 1,
         |      greatest(len(string_split(text, ' ')) - 1, 1)), ' ')
         |  FROM icdocs WHERE doc_id % 20 = 5),
         |${minhashCtes("ic", "icdocs")},
         |${minhashCtes("id", "iddocs")},
         |incand AS (SELECT DISTINCT d.doc_id AS delta_doc, c.doc_id AS corpus_doc
         |  FROM idbands d JOIN icbands c ON c.band = d.band AND c.bh = d.bh),
         |inint AS (SELECT c.delta_doc, c.corpus_doc, count(*) AS ni
         |  FROM incand c JOIN idsets x ON x.doc_id = c.delta_doc
         |  JOIN icsets y ON y.doc_id = c.corpus_doc AND y.h = x.h GROUP BY 1, 2)
         |SELECT delta_doc, corpus_doc, jaccard FROM (
         |  SELECT c.delta_doc, c.corpus_doc,
         |    round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
         |      (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
         |  FROM incand c
         |  LEFT JOIN inint i ON i.delta_doc = c.delta_doc AND i.corpus_doc = c.corpus_doc
         |  JOIN idsz sa ON sa.doc_id = c.delta_doc
         |  JOIN icsz sb ON sb.doc_id = c.corpus_doc)
         |WHERE jaccard >= 0.5""".stripMargin,
    "dedup_lsh_eval" ->
      s"""WITH $mhDocsCte,
         |lsbase AS (SELECT doc_id FROM mhdocs
         |  ORDER BY md5('lsheval_' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 200),
         |lsids AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_id FROM lsbase
         |  UNION ALL
         |  SELECT doc_id + 1000000 FROM lsbase WHERE doc_id % 20 = 0 AND doc_id < 1000000
         |  UNION ALL
         |  SELECT doc_id - 1000000 FROM lsbase WHERE doc_id >= 1000000)),
         |lsdocs AS (SELECT d.doc_id, d.text FROM mhdocs d JOIN lsids USING (doc_id)),
         |${minhashCtes("ls", "lsdocs")},
         |lsallp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb
         |  FROM lssz a JOIN lssz b ON a.doc_id < b.doc_id),
         |lsin AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS ni
         |  FROM lssets x JOIN lssets y ON y.h = x.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |lstruth AS (SELECT p.doc_a, p.doc_b
         |  FROM lsallp p LEFT JOIN lsin i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  WHERE CAST(coalesce(i.ni, 0) AS DOUBLE)
         |    / (p.na + p.nb - coalesce(i.ni, 0)) >= 0.5),
         |lspred AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM lsbands a JOIN lsbands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |lsj AS (SELECT t.doc_a IS NOT NULL AS in_t, p2.doc_a IS NOT NULL AS in_p
         |  FROM lstruth t FULL OUTER JOIN lspred p2
         |    ON p2.doc_a = t.doc_a AND p2.doc_b = t.doc_b),
         |lsagg AS (SELECT
         |    CAST(sum(CASE WHEN in_t AND in_p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT in_p THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM lsj)
         |SELECT (SELECT count(*) FROM lsdocs) AS n_docs, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |    ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS precision_ppm,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |    ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT) END AS recall_ppm
         |FROM lsagg""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $mhDocsCte,
         |${rollingCtes("ng", "mhdocs", 16)},
         |${gramCtes("g4", "mhdocs", 4)},
         |$ngCandCte,
         |$ngScoreCte
         |SELECT doc_a, doc_b, jaccard FROM ngsc WHERE jaccard >= 0.4""".stripMargin,
    "dedup_threshold_curve" ->
      s"""WITH $mhDocsCte,
         |${rollingCtes("ng", "mhdocs", 16)},
         |${gramCtes("g4", "mhdocs", 4)},
         |$ngCandCte,
         |$ngScoreCte,
         |tch AS (SELECT CAST(floor(jaccard * 10) AS BIGINT) AS decile,
         |    count(*) AS n_pairs
         |  FROM ngsc WHERE jaccard >= 0.0 GROUP BY 1)
         |SELECT decile, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY decile DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_or_above
         |FROM tch""".stripMargin,
    "doc_url_dedup" ->
      """WITH uraw AS (SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'Http' ELSE 'http' END
        |     || '://' ||
        |     CASE doc_id % 2 WHEN 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END
        |     || CASE doc_id % 3 WHEN 0 THEN ':80' ELSE '' END
        |     || '/crawl/page-' || CAST(doc_id // 3 AS VARCHAR)
        |     || CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END
        |     || CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed&ref=rss'
        |                        WHEN 1 THEN '?ref=rss&utm_campaign=x'
        |                        ELSE '?ref=rss' END
        |     || CASE doc_id % 2 WHEN 1 THEN '#sec-2' ELSE '' END) AS url
        |  FROM documents),
        |uc1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '', 'g') AS nofrag FROM uraw),
        |uc2 AS (SELECT doc_id, url,
        |    regexp_extract(nofrag, '^([a-zA-Z]+://[^/?]+)', 1) AS pre,
        |    substr(nofrag, length(regexp_extract(nofrag, '^([a-zA-Z]+://[^/?]+)', 1)) + 1) AS rest
        |  FROM uc1),
        |uc3 AS (SELECT doc_id, url,
        |    regexp_replace(lower(pre), ':80$', '', 'g')
        |    || regexp_replace(regexp_replace(regexp_replace(regexp_replace(rest,
        |         '([?&])(utm_[a-z]+=[^&]*(&|$))+', '\1', 'g'), '[?&]$', '', 'g'),
        |         '/\?', '?', 'g'), '/$', '', 'g')
        |    AS canonical_url
        |  FROM uc2)
        |SELECT canonical_url, count(*) AS n_docs,
        |  count(DISTINCT url) AS n_raw_variants,
        |  min(doc_id) AS keeper_doc_id,
        |  count(*) - 1 AS n_dropped
        |FROM uc3 GROUP BY 1""".stripMargin,
    "dedup_containment" ->
      s"""WITH ctbase AS (SELECT doc_id, text FROM documents),
         |ctdocs AS (SELECT doc_id, text FROM ctbase
         |  UNION ALL
         |  SELECT doc_id + 3000000,
         |    text || ' ' || regexp_replace(md5(text) || md5(text || 'x') || md5(text || 'y'),
         |      '(....)', '\\1 ', 'g')
         |  FROM ctbase WHERE doc_id % 20 = 5),
         |${minhashCtes("ct", "ctdocs")},
         |ctlen AS (SELECT doc_id, length(text) AS len FROM ctdocs),
         |ctcand AS (SELECT DISTINCT a.doc_id AS inner_doc, b.doc_id AS outer_doc
         |  FROM ctslot a JOIN ctslot b ON a.j = b.j AND a.sv = b.sv
         |  JOIN ctlen la ON la.doc_id = a.doc_id
         |  JOIN ctlen lb ON lb.doc_id = b.doc_id
         |  WHERE la.len < lb.len),
         |ctint AS (SELECT c.inner_doc, c.outer_doc, count(*) AS ni
         |  FROM ctcand c JOIN ctsets x ON x.doc_id = c.inner_doc
         |  JOIN ctsets y ON y.doc_id = c.outer_doc AND y.h = x.h GROUP BY 1, 2)
         |SELECT inner_doc, outer_doc, containment, jaccard FROM (
         |  SELECT c.inner_doc, c.outer_doc,
         |    round(CAST(coalesce(i.ni, 0) AS DOUBLE) / sa.n, 4) AS containment,
         |    round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
         |      (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
         |  FROM ctcand c
         |  LEFT JOIN ctint i ON i.inner_doc = c.inner_doc AND i.outer_doc = c.outer_doc
         |  JOIN ctsz sa ON sa.doc_id = c.inner_doc
         |  JOIN ctsz sb ON sb.doc_id = c.outer_doc)
         |WHERE containment >= 0.85""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $mhDocsCte,
         |${rollingCtes("sr", "mhdocs", 32)},
         |shtok AS (SELECT doc_id, t[i] AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM mhdocs) shtk,
         |  LATERAL unnest(range(1, len(t) + 1)) AS u(i)),
         |shh AS MATERIALIZED (SELECT doc_id, ${fnvFoldSql("w")} AS h FROM shtok),
         |shv AS (SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM shh, LATERAL unnest(range(0, 64)) AS u(b) GROUP BY 1, 2),
         |shsig AS MATERIALIZED (SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << b
         |        ELSE CAST(0 AS HUGEINT) END) AS sigu
         |  FROM shv GROUP BY 1),
         |shband AS (SELECT doc_id, b AS band, (sigu >> (b * 16)) % 65536 AS bh
         |  FROM shsig, LATERAL unnest(range(0, 4)) AS u(b)),
         |shcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shband a JOIN shband b ON a.band = b.band AND a.bh = b.bh
         |    AND a.doc_id < b.doc_id),
         |shx AS (SELECT c.doc_a, c.doc_b, xor(sa.sigu, sb.sigu) AS xr,
         |    ra.rfp = rb.rfp AS same_rolling_fp
         |  FROM shcand c JOIN shsig sa ON sa.doc_id = c.doc_a
         |  JOIN shsig sb ON sb.doc_id = c.doc_b
         |  JOIN srrfp ra ON ra.doc_id = c.doc_a
         |  JOIN srrfp rb ON rb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(CAST(xr % 4294967296 AS BIGINT)) +
         |       bit_count(CAST(xr // 4294967296 AS BIGINT)) AS INT) AS hamming,
         |  same_rolling_fp
         |FROM shx
         |WHERE bit_count(CAST(xr % 4294967296 AS BIGINT)) +
         |      bit_count(CAST(xr // 4294967296 AS BIGINT)) <= 6""".stripMargin,
    "doc_curation_fuzzy" ->
      s"""WITH RECURSIVE $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |$ccClosureCte,
         |losers AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
         |kept AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT doc_id, lang,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |q AS (
         |  SELECT doc_id, n_tokens AS n_words FROM (
         |    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |      CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
         |      CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
         |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
         |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4
         |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4
         |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' in ', ''))) // 4
         |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4
         |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' for ', ''))) // 5
         |        AS BIGINT) AS stop_hits
         |    FROM documents)
         |  WHERE n_tokens >= 40 AND n_tokens <= 100000
         |    AND (n_chars - n_tokens + 1) * 10000 // n_tokens BETWEEN 30000 AND 100000
         |    AND stop_hits * 10000 // n_tokens >= 200)
         |SELECT k.lang, count(*) AS n_docs, CAST(sum(q.n_words) AS BIGINT) AS n_tokens
         |FROM kept k
         |JOIN q USING (doc_id)
         |WHERE k.doc_id NOT IN (SELECT doc_id FROM losers)
         |GROUP BY 1""".stripMargin,
    "doc_cluster_keywords" ->
      s"""WITH RECURSIVE $mhDocsCte,
         |${minhashCtes("mh", "mhdocs")},
         |${mhPairsCte(0.5)},
         |$ccClosureCte,
         |cktf AS (SELECT cc.cluster_id, term, count(*) AS tf
         |  FROM cc JOIN mhdocs d USING (doc_id),
         |       LATERAL unnest(string_split(d.text, ' ')) AS t(term)
         |  WHERE term <> '' GROUP BY 1, 2),
         |ckdf AS (SELECT term, count(*) AS cdf FROM cktf GROUP BY 1),
         |ckn AS (SELECT count(DISTINCT cluster_id) AS n_clusters FROM cc),
         |cks AS (SELECT cluster_id, term, tf, cdf,
         |    CAST(length(bin(n_clusters // cdf)) - 1 AS BIGINT) AS idf_bits,
         |    CAST(tf * (length(bin(n_clusters // cdf)) - 1) AS BIGINT) AS score
         |  FROM cktf JOIN ckdf USING (term), ckn),
         |ckr AS (SELECT *, CAST(row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY score DESC, term) AS INT) AS rnk FROM cks)
         |SELECT cluster_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(cdf AS BIGINT) AS cdf, idf_bits, score, rnk
         |FROM ckr WHERE rnk <= 3""".stripMargin,
    "sim_supplier_assortment" ->
      s"""WITH pk AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
         |jj AS (SELECT CAST(range AS HUGEINT) AS j FROM range(0, 64)),
         |hh AS (SELECT l_suppkey, j,
         |  $minhashMixSql
         |  FROM pk, jj),
         |sig AS MATERIALIZED (SELECT l_suppkey, j, min(h) AS mh FROM hh GROUP BY 1, 2),
         |bk AS (SELECT l_suppkey, CAST(j // 2 AS INT) AS band,
         |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS bh
         |       FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b
         |         FROM bk a JOIN bk b ON a.band = b.band AND a.bh = b.bh
         |           AND a.l_suppkey < b.l_suppkey),
         |m AS (SELECT c.supp_a, c.supp_b,
         |        sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS eq
         |      FROM cand c
         |      JOIN sig sa ON sa.l_suppkey = c.supp_a
         |      JOIN sig sb ON sb.l_suppkey = c.supp_b AND sb.j = sa.j
         |      GROUP BY 1, 2)
         |SELECT supp_a, supp_b, round(CAST(eq AS DOUBLE) / 64, 4) AS est_jaccard
         |FROM m""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH ${lshCandCte(1, 8)},
         |eb AS (SELECT e.vec_id, e.emb, b.bucket FROM e
         |       JOIN (SELECT vec_id, bucket FROM bkt WHERE salt = 0) b USING (vec_id)),
         |q AS (SELECT vec_id AS qid, emb AS qe, bucket FROM eb WHERE vec_id < 8),
         |pr AS (SELECT q.qid, c.vec_id AS nid,
         |        list_cosine_similarity(q.qe, c.emb) AS cosr
         |      FROM q JOIN eb c USING (bucket) WHERE c.vec_id <> q.qid),
         |r AS (SELECT qid, nid, cosr,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS INT) AS rnk
         |      FROM pr)
         |SELECT qid, nid, round(cosr, 4) AS cos, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "ann_knn_graph" ->
      s"""WITH $knnGraphCte
         |SELECT src, dst, cos, CAST(rnk AS INT) AS rnk FROM g""".stripMargin,
    // knn funnel replay: same hyperplane weight table, same md5-rank
    // bucket cap (kbkt — so the census stays faithful even when the 4000
    // cap BINDS at a larger SF; a no-op at oracle SFs, max_bucket in the
    // row IS the proof), per-bucket census + per-(bucket, src) top-k by
    // (cos desc, dst)
    "graph_knn_accounting" ->
      s"""WITH $knnGraphCte,
         |kcen AS (SELECT salt, bucket, count(*) AS m FROM kbkt GROUP BY 1, 2),
         |kprs AS MATERIALIZED (SELECT a.salt, a.bucket, a.vec_id AS src, b.vec_id AS dst,
         |    list_cosine_similarity(ea.emb, eb.emb) AS cosr
         |  FROM kbkt a JOIN kbkt b ON a.salt = b.salt AND a.bucket = b.bucket
         |    AND a.vec_id <> b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id),
         |kloc AS (SELECT salt, bucket, src, dst,
         |    row_number() OVER (PARTITION BY salt, bucket, src ORDER BY cosr DESC, dst ASC) AS rn
         |  FROM kprs),
         |klk AS MATERIALIZED (SELECT src, dst FROM kloc WHERE rn <= 5),
         |kacc AS (SELECT
         |    (SELECT count(*) FROM e) AS n_vectors,
         |    (SELECT CAST(sum(m) AS BIGINT) FROM kcen) AS n_banded,
         |    (SELECT count(*) FROM kcen) AS n_buckets,
         |    (SELECT CAST(max(m) AS BIGINT) FROM kcen) AS max_bucket,
         |    (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) FROM kcen) AS n_pair_slots,
         |    (SELECT count(*) FROM klk) AS n_local_edges,
         |    (SELECT count(*) FROM (SELECT DISTINCT src, dst FROM klk)) AS n_candidate_edges,
         |    (SELECT count(*) FROM g) AS n_final_edges)
         |SELECT n_vectors, n_banded, n_buckets, max_bucket, n_pair_slots,
         |  n_local_edges, n_candidate_edges, n_final_edges,
         |  CASE WHEN n_vectors > 0
         |    THEN n_pair_slots * 10000 // n_vectors END AS slots_per_vector_e4,
         |  CASE WHEN n_pair_slots > 0
         |    THEN n_local_edges * 10000 // n_pair_slots END AS local_keep_e4
         |FROM kacc""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH ${lshCandCte(8, 8)},
         |sc AS (SELECT c.src AS id_a, c.dst AS id_b,
         |         list_cosine_similarity(es.emb, ed.emb) AS cosr
         |       FROM cand c JOIN e es ON es.vec_id = c.src
         |       JOIN e ed ON ed.vec_id = c.dst)
         |SELECT id_a, id_b, round(cosr, 4) AS cos FROM sc WHERE cosr > 0.4""".stripMargin,
    // uncapped funnel replay — equality with the capped Spark run IS the
    // cap-invariance proof at oracle SFs (no bucket near EmbBucketCap)
    "dedup_lsh_accounting" ->
      s"""WITH ${lshCandCte(8, 8)},
         |lav AS (SELECT c.src, c.dst,
         |         list_cosine_similarity(es.emb, ed.emb) AS cosr
         |       FROM cand c JOIN e es ON es.vec_id = c.src
         |       JOIN e ed ON ed.vec_id = c.dst),
         |lac AS (SELECT
         |    (SELECT count(*) FROM e) AS n_vectors,
         |    (SELECT count(*) FROM bkt) AS n_banded,
         |    (SELECT count(*) FROM cand) AS n_candidates,
         |    (SELECT count(*) FROM lav WHERE cosr > 0.4) AS n_verified)
         |SELECT n_vectors, n_banded, n_candidates, n_verified,
         |  CASE WHEN n_vectors > 0
         |    THEN n_candidates * 10000 // n_vectors END AS cand_per_vector_e4,
         |  CASE WHEN n_candidates > 0
         |    THEN n_verified * 10000 // n_candidates END AS precision_e4
         |FROM lac""".stripMargin,
    // seed-distance replay: six unrolled BFS relaxations, each one
    // edge-join + per-node (hops, lbl) arg-min — deterministic integers
    "graph_seed_distance" ->
      (s"""WITH $knnGraphCte,
          |sund AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          |  SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g)),
          |sd0 AS MATERIALIZED (SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl, 0 AS hops
          |       FROM embeddings WHERE vec_id % 97 = 0),
          |""".stripMargin +
        (1 to 6).map(i =>
          s"""su$i AS (SELECT id, lbl, hops FROM sd${i - 1}
             |  UNION ALL SELECT u.dst, d.lbl, d.hops + 1
             |  FROM sund u JOIN sd${i - 1} d ON d.id = u.src),
             |sd$i AS MATERIALIZED (SELECT id, lbl, hops FROM (
             |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY hops, lbl) AS rn
             |  FROM su$i) WHERE rn = 1),""".stripMargin).mkString("\n")
          .stripSuffix(",") +
        """
          |SELECT id AS vec_id, lbl AS nearest_label, CAST(hops AS INT) AS hops
          |FROM sd6""".stripMargin),
    // link prediction replay: ranking keys are exact integers; Adamic–Adar
    // is a rounded score column and never decides the order
    "graph_linkpred" ->
      s"""WITH $knnGraphCte,
         |lund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM g WHERE src <> dst),
         |ladj AS MATERIALIZED (SELECT a AS x, b AS y FROM lund UNION ALL SELECT b, a FROM lund),
         |ldeg AS MATERIALIZED (SELECT x AS id, count(*) AS deg FROM ladj GROUP BY 1),
         |lw AS (SELECT l1.y AS hub, l1.x AS u, l2.x AS v
         |       FROM ladj l1 JOIN ladj l2 ON l1.y = l2.y AND l1.x < l2.x),
         |lcand AS (SELECT u, v, count(*) AS cn, sum(1.0 / ln(d.deg)) AS aa
         |          FROM lw JOIN ldeg d ON d.id = lw.hub GROUP BY 1, 2),
         |lne AS (SELECT c.* FROM lcand c LEFT JOIN lund e ON e.a = c.u AND e.b = c.v
         |        WHERE e.a IS NULL),
         |lsc AS (SELECT lne.u AS src, lne.v AS dst, cn,
         |         cn * 1000000 // (du.deg + dv.deg - cn) AS jaccard_ppm,
         |         round(aa, 4) AS aa_r
         |       FROM lne JOIN ldeg du ON du.id = lne.u JOIN ldeg dv ON dv.id = lne.v),
         |lrk AS (SELECT *, row_number() OVER (ORDER BY jaccard_ppm DESC, cn DESC, src, dst) AS rnk
         |        FROM lsc)
         |SELECT src, dst, CAST(cn AS BIGINT) AS common_neighbors,
         |  CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm, aa_r, CAST(rnk AS INT) AS rnk
         |FROM lrk WHERE rnk <= 100""".stripMargin,
    "graph_kcore" ->
      s"""WITH $knnGraphCte,
         |${kcoreCte(3, 8)}
         |SELECT id AS vec_id, CAST(r AS INT) AS peel_round,
         |  (r = 0) AS core_member FROM (
         |  SELECT id, 0 AS r FROM a8
         |${(1 to 8).map(i => s"  UNION ALL SELECT id, $i FROM p$i").mkString("\n")})""".stripMargin,
    // assortativity replay: exact HUGEINT edge sums, one double division
    // with identical text, floor(x*1e6+0.5) both engines
    "graph_reciprocity" ->
      s"""WITH $knnGraphCte,
         |rce AS MATERIALIZED (SELECT DISTINCT src, dst FROM g WHERE src <> dst),
         |rcj AS (SELECT e1.src,
         |    CASE WHEN e2.src IS NOT NULL THEN 1 ELSE 0 END AS rec
         |  FROM rce e1 LEFT JOIN rce e2
         |    ON e2.src = e1.dst AND e2.dst = e1.src)
         |SELECT src AS vec_id, count(*) AS out_deg,
         |  CAST(sum(rec) AS BIGINT) AS n_reciprocal,
         |  CAST(sum(rec) * 1000000 // count(*) AS BIGINT) AS recip_ppm
         |FROM rcj GROUP BY 1""".stripMargin,
    "graph_assortativity" ->
      s"""WITH $knnGraphCte,
         |aund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM g WHERE src <> dst),
         |adeg AS (SELECT id, count(*) AS degree FROM (
         |          SELECT a AS id FROM aund UNION ALL SELECT b FROM aund) GROUP BY 1),
         |asum AS (SELECT count(*) AS m,
         |    sum(CAST(da.degree AS HUGEINT) * db.degree) AS s1,
         |    sum(CAST(da.degree AS HUGEINT) + db.degree) AS s2,
         |    sum(CAST(da.degree AS HUGEINT) * da.degree
         |      + CAST(db.degree AS HUGEINT) * db.degree) AS s3
         |  FROM aund JOIN adeg da ON da.id = aund.a JOIN adeg db ON db.id = aund.b),
         |ann AS (SELECT count(*) AS n_nodes FROM adeg)
         |SELECT CAST(m AS BIGINT) AS n_edges, CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(s1 AS BIGINT) AS s_jk, CAST(s2 AS BIGINT) AS s_j_plus_k,
         |  CAST(s3 AS BIGINT) AS s_j2_plus_k2,
         |  CASE WHEN 2 * m * s3 - s2 * s2 = 0 THEN 0
         |    ELSE CAST(floor(CAST(4 * m * s1 - s2 * s2 AS DOUBLE)
         |      / CAST(2 * m * s3 - s2 * s2 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
         |    END AS assortativity_e6
         |FROM asum, ann""".stripMargin,
    "graph_triangles" ->
      s"""WITH $knnGraphCte,
         |tund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM g WHERE src <> dst),
         |tdeg AS (SELECT id, count(*) AS degree FROM (
         |          SELECT a AS id FROM tund UNION ALL SELECT b FROM tund) GROUP BY 1),
         |wedges AS (SELECT w1.a AS x, w1.b AS y, w2.b AS z
         |           FROM tund w1 JOIN tund w2 ON w1.b = w2.a),
         |tri AS (SELECT x, y, z FROM wedges
         |        JOIN tund ON tund.a = wedges.x AND tund.b = wedges.z),
         |pn AS (SELECT id, count(*) AS n_triangles FROM (
         |         SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
         |         UNION ALL SELECT z FROM tri) GROUP BY 1)
         |SELECT tdeg.id, tdeg.degree, coalesce(pn.n_triangles, 0) AS n_triangles,
         |  CASE WHEN degree < 2 THEN 0
         |    ELSE CAST(2 * coalesce(pn.n_triangles, 0) * 10000 // (degree * (degree - 1)) AS BIGINT)
         |    END AS cc_e4
         |FROM tdeg LEFT JOIN pn ON pn.id = tdeg.id""".stripMargin,
    "emb_lof" ->
      s"""WITH $knnGraphCte,
         |edges AS MATERIALIZED (SELECT src, dst, 1.0 - cos AS d FROM g),
         |kdist AS (SELECT src AS dst, max(d) AS kd FROM edges GROUP BY 1),
         |reach AS (SELECT e2.src, e2.dst, greatest(coalesce(k.kd, e2.d), e2.d) AS reach_d
         |          FROM edges e2 LEFT JOIN kdist k USING (dst)),
         |lrd AS MATERIALIZED (SELECT src, 1.0 / avg(reach_d) AS lrd FROM reach GROUP BY 1),
         |mn AS (SELECT e3.src, avg(l2.lrd) AS mean_lrd_n, count(*) AS n_neighbors
         |       FROM (SELECT src, dst FROM edges) e3
         |       JOIN lrd l2 ON l2.src = e3.dst GROUP BY 1)
         |SELECT mn.src AS vec_id, round(mn.mean_lrd_n / l.lrd, 4) AS lof, mn.n_neighbors
         |FROM mn JOIN lrd l ON l.src = mn.src""".stripMargin,
    "graph_label_prop" ->
      s"""WITH $knnGraphCte,
         |${lpaCte(6)}
         |SELECT lbl AS community, count(*) AS n_members, min(id) AS rep_vec_id
         |FROM l6 GROUP BY 1""".stripMargin,
    "graph_modularity" ->
      s"""WITH $knnGraphCte,
         |${lpaCte(6)},
         |lab AS MATERIALIZED (SELECT id AS vec_id, lbl AS community FROM l6),
         |undm AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |         FROM g WHERE src <> dst),
         |tagged AS (SELECT u.a, u.b, la.community AS ca, lb.community AS cb
         |           FROM undm u JOIN lab la ON la.vec_id = u.a
         |           JOIN lab lb ON lb.vec_id = u.b),
         |intra AS (SELECT ca AS community, count(*) AS e_c FROM tagged
         |          WHERE ca = cb GROUP BY 1),
         |degm AS (SELECT l2.community, count(*) AS d_c FROM (
         |           SELECT a AS id FROM undm UNION ALL SELECT b FROM undm) n
         |         JOIN lab l2 ON l2.vec_id = n.id GROUP BY 1),
         |mm AS (SELECT count(*) AS m FROM undm),
         |pc AS (SELECT d.community, coalesce(i.e_c, 0) AS e_c, d.d_c, mm.m,
         |         CAST(4 AS HUGEINT) * mm.m * coalesce(i.e_c, 0)
         |           - CAST(d.d_c AS HUGEINT) * d.d_c AS contrib
         |       FROM degm d LEFT JOIN intra i USING (community), mm)
         |SELECT CAST(max(m) AS BIGINT) AS n_edges, count(*) AS n_communities,
         |  CAST(max(d_c) AS BIGINT) AS max_degree_mass,
         |  CAST(sum(contrib) * 1000000 // (CAST(4 AS HUGEINT) * max(m) * max(m)) AS BIGINT) AS q_ppm
         |FROM pc""".stripMargin,
    "graph_pagerank" ->
      s"""WITH $knnGraphCte,
         |${prCte(8)}
         |SELECT id AS vec_id, round(pr, 4) AS pagerank FROM r8""".stripMargin,
    // incremental CC audits to the TRUE components (min-reachable-id) of
    // the full graph: both the Spark inc path and the full recompute
    // converge to them, and mismatch = 0 is the audited invariant
    "graph_cc_delta" ->
      s"""WITH RECURSIVE $knnGraphCte,
         |ccund AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g)),
         |reach(id, r) AS (
         |  SELECT DISTINCT src AS id, src AS r FROM ccund
         |  UNION
         |  SELECT u.dst, reach.r FROM reach JOIN ccund u ON u.src = reach.id),
         |ccomp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
         |cchist AS (SELECT comp, count(*) AS comp_size FROM ccomp GROUP BY 1)
         |SELECT comp_size, count(*) AS n_components, CAST(0 AS BIGINT) AS mismatch
         |FROM cchist GROUP BY 1""".stripMargin,
    "emb_quantize" ->
      s"""WITH $quantizeCte
         |SELECT vec_id, round(scale, 6) AS scale_r,
         |  round(list_max(list_transform(list_zip(emb, q),
         |    z -> abs(z[1] - z[2] * scale))), 6) AS max_err_r,
         |  array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',') AS q_csv
         |FROM qz""".stripMargin,
    "ann_quantized_topk" ->
      s"""WITH $quantTopkCte
         |SELECT qid, nid, round(cosr, 4) AS cos, CAST(rnk AS INT) AS rnk
         |FROM rr WHERE rnk <= 5""".stripMargin,
    // binary-quantization replay: identical sign-bit word packing (integer
    // fold), integer Hamming coarse order, exact cosine rerank
    "ann_binary_topk" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |bw AS MATERIALIZED (SELECT vec_id, emb,
        |    CAST(list_sum(list_transform(range(0, 32), j ->
        |      CASE WHEN emb[0 * 32 + j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS b0,
        |    CAST(list_sum(list_transform(range(0, 32), j ->
        |      CASE WHEN emb[1 * 32 + j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS b1
        |  FROM e),
        |q AS (SELECT vec_id AS qid, emb AS qe, b0 AS q0, b1 AS q1 FROM bw WHERE vec_id < 8),
        |h AS (SELECT q.qid, c.vec_id AS nid, c.emb AS ce, q.qe,
        |    bit_count(xor(c.b0, q.q0)) + bit_count(xor(c.b1, q.q1)) AS hamming
        |  FROM bw c CROSS JOIN q WHERE c.vec_id <> q.qid),
        |hr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS hrnk FROM h),
        |rr AS (SELECT qid, nid, hamming, list_cosine_similarity(qe, ce) AS cosr
        |       FROM hr WHERE hrnk <= 20),
        |rk AS (SELECT qid, nid, hamming, cosr,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS rnk FROM rr)
        |SELECT qid, nid, CAST(hamming AS INT) AS hamming, round(cosr, 4) AS cos,
        |  CAST(rnk AS INT) AS rnk
        |FROM rk WHERE rnk <= 5""".stripMargin,
    "ann_rerank_topk" ->
      s"""WITH $quantTopkCte,
         |coarse AS (SELECT qid, nid FROM rr WHERE rnk <= 20),
         |fullv AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
         |qf AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id < 8),
         |rescored AS (SELECT c.qid, c.nid, list_cosine_similarity(qf.qe, fullv.ne) AS cosr
         |  FROM coarse c JOIN fullv ON fullv.nid = c.nid JOIN qf ON qf.qid = c.qid),
         |rr2 AS (SELECT qid, nid, cosr,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS rnk
         |  FROM rescored)
         |SELECT qid, nid, round(cosr, 4) AS cos, CAST(rnk AS INT) AS rnk
         |FROM rr2 WHERE rnk <= 5""".stripMargin,
    "ann_mmr_topk" ->
      s"""WITH ${mmrCte(5)}
         |SELECT qid, nid, round(rel, 4) AS rel, round(score, 4) AS mmr_score,
         |  CAST(rk AS BIGINT) AS mmr_rank
         |FROM sel5""".stripMargin,
    // the per-series Holt-Winters state fold replayed as a recursive CTE
    // carrying (level, trend, seasonal DOUBLE[7]) — the recursion follows
    // the SAME day order with the SAME IEEE operation sequence, and
    // round_even == math.rint for the fixed-point outputs
    "ts_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |ser AS MATERIALIZED (SELECT event_type,
        |    list(day ORDER BY day) AS days,
        |    list(CAST(cents AS DOUBLE) / 100.0 ORDER BY day) AS ys,
        |    count(*) AS n
        |  FROM daily GROUP BY 1),
        |l0 AS (SELECT event_type, list_sum(ys[1:least(n, 7)]) / least(n, 7) AS lv
        |       FROM ser),
        |warmx AS (SELECT ser.event_type, CAST(t.i AS INT) AS i,
        |    days[CAST(t.i AS INT)] AS d, ys[CAST(t.i AS INT)] AS y
        |  FROM ser, UNNEST(range(1, least(n, 7) + 1)) t(i)),
        |s0e AS (SELECT event_type, CAST((d + 4) % 7 AS INT) AS k, y, i,
        |    row_number() OVER (PARTITION BY event_type, (d + 4) % 7 ORDER BY i DESC) AS rn
        |  FROM warmx),
        |s0v AS (SELECT event_type, k, y FROM s0e WHERE rn = 1),
        |slots AS (SELECT CAST(unnest(range(0, 7)) AS INT) AS k),
        |s0 AS (SELECT l0.event_type,
        |    list(coalesce(s0v.y - l0.lv, CAST(0.0 AS DOUBLE)) ORDER BY slots.k) AS s
        |  FROM l0 CROSS JOIN slots
        |  LEFT JOIN s0v ON s0v.event_type = l0.event_type AND s0v.k = slots.k
        |  GROUP BY l0.event_type),
        |rec(event_type, i, l, b, s) AS (
        |  SELECT ser.event_type, CAST(least(ser.n, 7) AS BIGINT),
        |    CAST(l0.lv AS DOUBLE), CAST(0.0 AS DOUBLE), s0.s
        |  FROM ser JOIN l0 USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |    CAST(0.5 * (ser.ys[CAST(r.i + 1 AS INT)] - r.s[CAST((ser.days[CAST(r.i + 1 AS INT)] + 4) % 7 AS INT) + 1])
        |      + 0.5 * (r.l + r.b) AS DOUBLE),
        |    CAST(0.25 * ((0.5 * (ser.ys[CAST(r.i + 1 AS INT)] - r.s[CAST((ser.days[CAST(r.i + 1 AS INT)] + 4) % 7 AS INT) + 1])
        |      + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b AS DOUBLE),
        |    r.s[1:CAST((ser.days[CAST(r.i + 1 AS INT)] + 4) % 7 AS INT)]
        |      || [CAST(0.25 * (ser.ys[CAST(r.i + 1 AS INT)]
        |           - (0.5 * (ser.ys[CAST(r.i + 1 AS INT)] - r.s[CAST((ser.days[CAST(r.i + 1 AS INT)] + 4) % 7 AS INT) + 1])
        |              + 0.5 * (r.l + r.b)))
        |          + 0.75 * r.s[CAST((ser.days[CAST(r.i + 1 AS INT)] + 4) % 7 AS INT) + 1] AS DOUBLE)]
        |      || r.s[CAST((ser.days[CAST(r.i + 1 AS INT)] + 4) % 7 AS INT) + 2:7]
        |  FROM rec r JOIN ser ON ser.event_type = r.event_type
        |  WHERE r.i < ser.n),
        |fin AS (SELECT r.event_type, ser.n, ser.days[CAST(ser.n AS INT)] AS last_day,
        |    r.l, r.b, r.s
        |  FROM rec r JOIN ser ON ser.event_type = r.event_type WHERE r.i = ser.n)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days, last_day,
        |  round_even(l * 10000, 0) / 10000 AS level,
        |  round_even(b * 10000, 0) / 10000 AS trend,
        |  round_even((l + 1 * b + s[CAST((last_day + 1 + 4) % 7 AS INT) + 1]) * 10000, 0) / 10000 AS fc_1d,
        |  round_even((l + 7 * b + s[CAST((last_day + 7 + 4) % 7 AS INT) + 1]) * 10000, 0) / 10000 AS fc_7d
        |FROM fin""".stripMargin,
    "src_cdcgen_stats" ->
      s"""WITH ${cdcgenCte(10000)}
         |SELECT event_type, count(*) AS n,
         |  count(DISTINCT user_id) AS n_users
         |FROM gen GROUP BY 1""".stripMargin,
    "cdc_txn_workload" ->
      s"""WITH ${cdcTxnCte(2000)}
         |SELECT 'new_customer_order' AS scenario, 'orders' AS src_table,
         |  'INSERT' AS operation, count(*) AS n_events, count(*) AS n_txns,
         |  CAST(NULL AS BIGINT) AS line_cents
         |FROM tscen WHERE scenario = 'new_customer_order'
         |UNION ALL
         |SELECT 'new_customer_order', 'lineitem', 'INSERT',
         |  count(*), count(DISTINCT t), CAST(sum(price) AS BIGINT)
         |FROM tlines
         |UNION ALL
         |SELECT 'new_customer_order', 'customer', 'UPDATE',
         |  count(*), count(*), CAST(NULL AS BIGINT)
         |FROM tscen WHERE scenario = 'new_customer_order'
         |UNION ALL
         |SELECT 'process_return', u.tbl, 'UPDATE',
         |  count(*), count(*), CAST(NULL AS BIGINT)
         |FROM tscen, (SELECT unnest(['lineitem','orders','customer']) AS tbl) u
         |WHERE scenario = 'process_return' GROUP BY u.tbl
         |UNION ALL
         |SELECT 'update_prices', 'part', 'UPDATE',
         |  CAST(sum(n_parts) AS BIGINT), count(*), CAST(NULL AS BIGINT)
         |FROM tscen WHERE scenario = 'update_prices'""".stripMargin,
    "cdc_multi_table_stats" ->
      s"""WITH ${cdcgenCte(5000)},
         |un AS (
         |  SELECT 'events' AS src_table,
         |    CASE WHEN event_type = 'signup' THEN 'INSERT'
         |         WHEN event_type = 'error' THEN 'DELETE'
         |         ELSE 'UPDATE' END AS operation, user_id
         |  FROM events
         |  UNION ALL
         |  SELECT 'synthetic',
         |    CASE WHEN event_type = 'signup' THEN 'INSERT'
         |         WHEN event_type = 'error' THEN 'DELETE'
         |         ELSE 'UPDATE' END, user_id
         |  FROM gen)
         |SELECT src_table, operation, count(*) AS n,
         |  count(DISTINCT user_id) AS n_users
         |FROM un GROUP BY 1, 2""".stripMargin,
    // the two-batch partitioned merge must land on the same final state a
    // declarative recomputation produces: all inserted keys, minus deleted
    // customers, with the updated-orders payload census
    "cdc_multi_table_merge" ->
      """SELECT 'orders' AS src_table, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM orders WHERE o_orderkey <= 500
        |UNION ALL
        |SELECT 'customer', count(*), CAST(0 AS BIGINT)
        |FROM customer WHERE c_custkey > 50 AND c_custkey <= 200""".stripMargin,
    // the medallion run's layer census: bronze = shipped envelopes + the 3
    // planted junk lines (2 unparseable -> dlq, 1 parseable-but-invalid ->
    // quarantine); gold = the CDC merge of the clean envelopes, replayed
    // declaratively (latest per user at the envelope's ms-resolution
    // sequence, event_id tiebreak, DELETE-latest keys dropped)
    "cdc_medallion_stats" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_id <= 1000),
        |g AS (SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN 'INSERT'
        |         WHEN event_type = 'error' THEN 'DELETE'
        |         WHEN event_type = 'purchase' THEN 'SNAPSHOT'
        |         ELSE 'UPDATE' END AS operation,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY (ts_us // 1000) * 1000 DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT 'bronze' AS layer, (SELECT count(*) + 3 FROM e) AS n_rows
        |UNION ALL SELECT 'dlq', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'quarantine', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'gold',
        |  (SELECT count(*) FROM g WHERE rn = 1 AND operation <> 'DELETE')
        |""".stripMargin,
    // streaming curation = distinct-text-per-language census through the
    // quality gate; shipped = corpus + the re-shipped batch-1 thirds
    // (doc_id % 2 = 0 ∧ doc_id % 3 = 0 ⟺ doc_id % 6 = 0)
    "doc_stream_curate" ->
      """WITH d AS (SELECT lang, md5(text) AS digest,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |      greatest(len(string_split(text, ' ')), 1) AS mwl
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM documents),
        |resh AS (SELECT count(*) AS r FROM documents WHERE doc_id % 6 = 0),
        |adm AS (SELECT lang, digest FROM d
        |  WHERE n_tokens >= 5 AND mwl BETWEEN 2.0 AND 12.0
        |  GROUP BY lang, digest)
        |SELECT lang, count(*) AS n_admitted, count(*) AS n_distinct,
        |  (SELECT n + r FROM tot, resh) AS n_shipped_total
        |FROM adm GROUP BY lang""".stripMargin,
    // near-dup stream funnel replay: same shipped multiset (batch split +
    // the " (rev)" edit), same gates, winnowing fingerprint in int128 SQL
    "doc_stream_curate_near" ->
      s"""WITH ship AS (SELECT lang, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL SELECT lang, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL SELECT lang, text || ' (rev)' FROM documents
        |    WHERE doc_id % 6 = 0),
        |tot AS (SELECT count(*) AS n FROM ship),
        |gd AS MATERIALIZED (SELECT row_number() OVER () AS doc_id, lang, text
        |  FROM ship
        |  WHERE len(string_split(text, ' ')) >= 5
        |    AND CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |      greatest(len(string_split(text, ' ')), 1) BETWEEN 2.0 AND 12.0),
        |${rollingCtes("nr", "gd", 32)},
        |j AS (SELECT g.lang, r.rfp FROM gd g JOIN nrrfp r ON r.doc_id = g.doc_id)
        |SELECT lang, count(DISTINCT rfp) AS n_admitted,
        |  count(*) - count(DISTINCT rfp) AS n_refused_near,
        |  (SELECT n FROM tot) AS n_shipped_total
        |FROM j GROUP BY lang""".stripMargin,
    // watermark-poll contract: poll 1 = backlog above watermark 0, poll 2 =
    // exactly the late rows above poll 1's high watermark (-1 on empty)
    "src_jdbc_incremental" ->
      """WITH src AS (SELECT event_id FROM events WHERE event_id <= 5000),
        |p1 AS (SELECT count(*) AS n_rows, coalesce(max(event_id), -1) AS wm
        |  FROM src WHERE event_id > 0 AND event_id <= 4000),
        |p2 AS (SELECT count(src.event_id) AS n_rows,
        |    coalesce(max(src.event_id), -1) AS wm
        |  FROM p1 LEFT JOIN src ON src.event_id > p1.wm)
        |SELECT 1 AS poll, n_rows, wm AS high_watermark FROM p1
        |UNION ALL SELECT 2, n_rows, wm FROM p2""".stripMargin,
    // the resilient reader's documented split: stride = max(1,(hi-lo)/4),
    // first/last ranges unbounded — the oracle rebuilds the same buckets
    "src_jdbc_snapshot" ->
      """WITH e AS (SELECT event_id FROM events WHERE event_id <= 20000),
        |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM e),
        |s AS (SELECT lo, greatest(1, (hi - lo) // 4) AS stride FROM b),
        |p AS (SELECT e.event_id,
        |    CASE WHEN e.event_id < lo + stride THEN 0
        |         WHEN e.event_id < lo + 2 * stride THEN 1
        |         WHEN e.event_id < lo + 3 * stride THEN 2
        |         ELSE 3 END AS jdbc_partition
        |  FROM e, s)
        |SELECT jdbc_partition, count(*) AS n_rows, min(event_id) AS min_id,
        |  max(event_id) AS max_id, 'SNAPSHOT' AS operation
        |FROM p GROUP BY 1""".stripMargin,
    // final Derby target state == declarative latest-per-key fold over the
    // same envelope slice (the currentScd1 shape); ledger booleans pinned
    "snk_jdbc_upsert" ->
      s"""$logCte,
         |f AS (SELECT * FROM log WHERE event_id <= 20000),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY seq_us DESC, event_id DESC) AS rn FROM f),
         |cur AS (SELECT * FROM r WHERE rn = 1 AND operation <> 'DELETE')
         |SELECT count(*) AS n_keys,
         |  CAST(sum(CAST(round(value, 2) AS DECIMAL(14,2))) AS DOUBLE)
         |    AS sum_value,
         |  max(seq_us) AS max_seq_us,
         |  TRUE AS batch1_applied, TRUE AS batch2_applied,
         |  TRUE AS replay_skipped
         |FROM cur""".stripMargin,
    // matryoshka recall replayed with list arithmetic over prefix slices;
    // identical fold order (emb_norm_stats proved list_sum parity), so the
    // per-(fraction, query) top-5 membership and its recall integers match
    "emb_matryoshka_eval" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings),
        |fr AS (SELECT unnest([1, 2, 4, 8]) AS frac),
        |p AS (SELECT frac, qid, nid,
        |    greatest(1, len(ce) // frac) AS d, qe, ce
        |  FROM q, c, fr WHERE nid <> qid),
        |sc AS (SELECT frac, qid, nid,
        |    list_sum(list_transform(list_zip(qe[1:d], ce[1:d]),
        |      x -> x[1] * x[2])) AS dot,
        |    sqrt(list_sum(list_transform(qe[1:d], x -> x * x))) AS nq,
        |    sqrt(list_sum(list_transform(ce[1:d], x -> x * x))) AS nn
        |  FROM p),
        |rk AS (SELECT frac, qid, nid,
        |    row_number() OVER (PARTITION BY frac, qid ORDER BY
        |      CASE WHEN nq = 0.0 OR nn = 0.0 THEN 0.0
        |        ELSE dot / (nq * nn) END DESC, nid) AS rnk
        |  FROM sc),
        |t AS (SELECT frac, qid, nid FROM rk WHERE rnk <= 5),
        |tr AS (SELECT qid, nid FROM t WHERE frac = 1),
        |h AS (SELECT t.frac, t.qid, count(*) AS hits
        |  FROM t JOIN tr ON t.qid = tr.qid AND t.nid = tr.nid
        |  GROUP BY 1, 2),
        |perq AS (SELECT fr.frac, q.qid, coalesce(h.hits, 0) AS hits
        |  FROM q CROSS JOIN fr
        |  LEFT JOIN h ON h.frac = fr.frac AND h.qid = q.qid)
        |SELECT frac AS dim_fraction, count(*) AS n_queries,
        |  CAST(sum(hits) AS BIGINT) AS total_hits,
        |  CAST(sum(hits) * 10000 // (count(*) * 5) AS BIGINT) AS recall_e4
        |FROM perq GROUP BY 1""".stripMargin,
    // record linkage replay: same trailing-6 blocking, same distinct
    // byte-3-gram Jaccard (names are ASCII, so char grams == byte grams)
    "q_entity_resolution" ->
      """WITH c AS (SELECT c_custkey, c_name, substr(c_name, -6) AS blk
        |  FROM customer),
        |s AS (SELECT s_suppkey, s_name, substr(s_name, -6) AS blk
        |  FROM supplier),
        |cand AS (SELECT c_custkey, s_suppkey, c_name, s_name
        |  FROM c JOIN s USING (blk)),
        |cg AS (SELECT DISTINCT c_custkey, substr(c_name, CAST(g AS INT), 3) AS gram
        |  FROM c, UNNEST(range(1, length(c_name) - 1)) AS t(g)),
        |sg AS (SELECT DISTINCT s_suppkey, substr(s_name, CAST(g AS INT), 3) AS gram
        |  FROM s, UNNEST(range(1, length(s_name) - 1)) AS t(g)),
        |ccnt AS (SELECT c_custkey, count(*) AS na FROM cg GROUP BY 1),
        |scnt AS (SELECT s_suppkey, count(*) AS nb FROM sg GROUP BY 1),
        |inter AS (SELECT cand.c_custkey, cand.s_suppkey, count(*) AS ni
        |  FROM cand
        |  JOIN cg ON cg.c_custkey = cand.c_custkey
        |  JOIN sg ON sg.s_suppkey = cand.s_suppkey AND sg.gram = cg.gram
        |  GROUP BY 1, 2),
        |j AS (SELECT cand.c_custkey, cand.s_suppkey, cand.c_name, cand.s_name,
        |    round(CAST(coalesce(ni, 0) AS DOUBLE) /
        |      (na + nb - coalesce(ni, 0)), 4) AS sim
        |  FROM cand
        |  JOIN ccnt ON ccnt.c_custkey = cand.c_custkey
        |  JOIN scnt ON scnt.s_suppkey = cand.s_suppkey
        |  LEFT JOIN inter ON inter.c_custkey = cand.c_custkey
        |    AND inter.s_suppkey = cand.s_suppkey)
        |SELECT c_custkey, s_suppkey, c_name, s_name, sim
        |FROM j WHERE sim >= 0.25""".stripMargin,
    // the Avro path must land on EXACTLY the silver rows the JSON path
    // produces — one oracle serves both ingestion formats
    "cdc_avro_parse" -> oracleSqlBase("cdc_debezium_parse"),
    // replays the keyed partitioner (single-digit keys "0".."3" land on
    // partition d) + the 3/4-committed consumer against the segment store
    "cdc_consumer_lag" ->
      """WITH klr AS (SELECT unnest(range(0, 256)) AS i),
        |kle AS (SELECT i % 4 AS p, count(*) AS end_offset FROM klr GROUP BY 1)
        |SELECT CAST(p AS BIGINT) AS partition,
        |  CAST(end_offset AS BIGINT) AS end_offset,
        |  CAST(end_offset * 3 // 4 AS BIGINT) AS committed_offset,
        |  CAST(end_offset - end_offset * 3 // 4 AS BIGINT) AS lag,
        |  CAST((end_offset - end_offset * 3 // 4) * 10000 // end_offset
        |    AS BIGINT) AS lag_bp
        |FROM kle""".stripMargin,
    // incremental fold must land on EXACTLY the full-recompute sessions
    "ev_sessionize_delta" -> oracleSqlBase("ev_sessionize"),
    "ev_diff_in_diff" -> Events.diffInDiffOracle,
    "ev_burn_rate" -> Events.burnRateOracle,
    "ts_stl_decompose" -> graft.operators.TimeSeries.stlOracle,
    "ts_seasonal_strength" -> graft.operators.TimeSeries.seasonalStrengthOracle,
    "ev_srm_check" -> Events.srmCheckOracle,
    "q_salted_agg" ->
      """SELECT l_returnflag, CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows FROM lineitem GROUP BY 1""".stripMargin,
    "q_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "ev_conversion_windows" -> Events.conversionWindowsOracle,
    "ev_sliding_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |f AS (SELECT DISTINCT user_id, day + off AS day FROM ud
        |  CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS BIGINT) AS off) o),
        |wau AS (SELECT day, count(*) AS wau_trailing7 FROM f GROUP BY 1)
        |SELECT day, dau, wau_trailing7,
        |  CAST(dau * 10000 // wau_trailing7 AS BIGINT) AS stickiness_e4
        |FROM dau JOIN wau USING (day)""".stripMargin,
    "ev_policy_replay" ->
      """WITH pra AS (SELECT user_id % 8 AS segment, event_type AS action,
        |    count(*) AS n_a,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS cents_a
        |  FROM events GROUP BY 1, 2),
        |prw AS (SELECT segment, action, n_a, cents_a,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY n_a DESC, action) AS rk,
        |    count(*) OVER (PARTITION BY segment) AS k,
        |    sum(n_a) OVER (PARTITION BY segment) AS n_logs,
        |    sum(cents_a) OVER (PARTITION BY segment) AS total_cents
        |  FROM pra),
        |prp AS (SELECT *,
        |    CASE WHEN rk = 1 AND k = 1 THEN 1 WHEN rk = 1 THEN 4 ELSE 1 END AS pi_num,
        |    CASE WHEN rk = 1 AND k = 1 THEN 1 WHEN rk = 1 THEN 5
        |         ELSE 5 * (k - 1) END AS pi_den
        |  FROM prw)
        |SELECT segment, CAST(max(k) AS BIGINT) AS k_actions,
        |  max(CASE WHEN rk = 1 THEN action END) AS modal_action,
        |  CAST(max(n_logs) AS BIGINT) AS n_logs,
        |  CAST(sum(CASE WHEN rk = 1 THEN n_a END) AS BIGINT) AS n_modal,
        |  CAST(max(total_cents * 10000 // n_logs) AS BIGINT) AS logged_cents_e4,
        |  CAST(sum(pi_num * cents_a * 10000 // (pi_den * n_a)) AS BIGINT)
        |    AS ips_cents_e4,
        |  CAST(sum(pi_num * cents_a * 10000 // (pi_den * n_a))
        |    - max(total_cents * 10000 // n_logs) AS BIGINT) AS lift_e4,
        |  CAST(1000000000000 // sum(pi_num * pi_num * 100000000
        |    // (pi_den * pi_den * n_a)) AS BIGINT) AS ess_e4
        |FROM prp GROUP BY segment""".stripMargin,
    "ev_segment_migration" ->
      """WITH sme AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |smm AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM sme),
        |smh1 AS (SELECT user_id,
        |    CAST(ntile(4) OVER (ORDER BY sum(cents) DESC, user_id ASC) AS BIGINT)
        |      AS seg_from
        |  FROM sme, smm WHERE ts_us <= mid GROUP BY user_id, mid),
        |smh2 AS (SELECT user_id,
        |    CAST(ntile(4) OVER (ORDER BY sum(cents) DESC, user_id ASC) AS BIGINT)
        |      AS seg_to
        |  FROM sme, smm WHERE ts_us > mid GROUP BY user_id, mid),
        |smu AS (SELECT DISTINCT user_id FROM sme),
        |smj AS (SELECT COALESCE(seg_from, 0) AS seg_from,
        |    COALESCE(seg_to, 0) AS seg_to
        |  FROM smu LEFT JOIN smh1 USING (user_id) LEFT JOIN smh2 USING (user_id)),
        |smg AS (SELECT seg_from, seg_to, count(*) AS n_users FROM smj GROUP BY 1, 2)
        |SELECT seg_from, seg_to, n_users,
        |  CAST(n_users * 1000000 // sum(n_users) OVER () AS BIGINT) AS share_ppm
        |FROM smg""".stripMargin,
    "ev_dwell_time" ->
      """WITH dwn AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_us
        |  FROM events),
        |dwf AS (SELECT event_type, event_id,
        |    least(next_us - ts_us, 1800000000) AS dwell_us,
        |    CASE WHEN next_us - ts_us >= 1800000000 THEN 1 ELSE 0 END AS capped
        |  FROM dwn WHERE next_us IS NOT NULL),
        |dwr AS (SELECT event_type, dwell_us, capped,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dwell_us, event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n_total
        |  FROM dwf)
        |SELECT event_type, CAST(max(n_total) AS BIGINT) AS n_dwells,
        |  CAST(min(CASE WHEN rnk = (50 * n_total + 99) // 100
        |    THEN dwell_us END) AS BIGINT) AS p50_dwell_us,
        |  CAST(min(CASE WHEN rnk = (90 * n_total + 99) // 100
        |    THEN dwell_us END) AS BIGINT) AS p90_dwell_us,
        |  CAST(sum(capped) AS BIGINT) AS n_capped,
        |  CAST(sum(capped) * 1000000 // max(n_total) AS BIGINT) AS capped_ppm
        |FROM dwr GROUP BY 1""".stripMargin,
    "ev_velocity_rules" ->
      """WITH vre AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |vrw AS (SELECT event_id, user_id, ts_us,
        |    count(*) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n_10m,
        |    CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cents_10m
        |  FROM vre)
        |SELECT event_id, user_id, ts_us, n_10m, cents_10m,
        |  CASE WHEN n_10m >= 5 AND cents_10m >= 5000 THEN 'both'
        |       WHEN n_10m >= 5 THEN 'count' ELSE 'amount' END AS rule_fired
        |FROM vrw WHERE n_10m >= 5 OR cents_10m >= 5000""".stripMargin,
    "ml_pit_training_set" ->
      """WITH pte AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, user_id, ts_us, cents AS label_cents,
        |  f_last_value_c, f_last_type, f_events_7d, f_prior_purchases,
        |  f_days_active
        |FROM (SELECT event_id, user_id, event_type, ts_us, cents,
        |    lag(cents, 1) OVER w AS f_last_value_c,
        |    lag(event_type, 1) OVER w AS f_last_type,
        |    count(*) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
        |      AS f_events_7d,
        |    CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS f_prior_purchases,
        |    (ts_us - min(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // 86400000000
        |      AS f_days_active
        |  FROM pte
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)) t
        |WHERE event_type = 'purchase'""".stripMargin,
    "cdc_op_mix_drift" ->
      s"""$logCte,
         |omd AS (SELECT seq_us // 86400000000 AS day, operation,
         |    count(*) AS n_op
         |  FROM log GROUP BY 1, 2),
         |omn AS (SELECT day, sum(n_op) AS n_day FROM omd GROUP BY 1),
         |omo AS (SELECT operation, sum(n_op) AS n_all FROM omd GROUP BY 1),
         |omt AS (SELECT count(*) AS total FROM log),
         |omg AS (SELECT d.day, o.operation, o.n_all,
         |    coalesce(x.n_op, 0) AS n_op
         |  FROM (SELECT DISTINCT day FROM omd) d
         |  CROSS JOIN omo o
         |  LEFT JOIN omd x ON x.day = d.day AND x.operation = o.operation)
         |SELECT g.day, CAST(max(n.n_day) AS BIGINT) AS n_events,
         |  CAST(sum(abs(CAST(g.n_op AS HUGEINT) * t.total
         |      - CAST(g.n_all AS HUGEINT) * n.n_day)) * 10000
         |    // (2 * CAST(max(n.n_day) AS HUGEINT) * max(t.total)) AS BIGINT)
         |    AS tvd_e4,
         |  max(CASE WHEN g.n_op * 2 > n.n_day THEN g.operation END)
         |    AS majority_op
         |FROM omg g JOIN omn n ON n.day = g.day CROSS JOIN omt t
         |GROUP BY 1""".stripMargin,
    "cdc_forget_cascade" ->
      """WITH fcs AS (SELECT c_custkey AS subject FROM customer
        |  WHERE c_custkey % 100 = 7),
        |fco AS (SELECT o_orderkey, subject FROM orders
        |  JOIN fcs ON o_custkey = subject)
        |SELECT 'lineitem' AS tbl, CAST(2 AS BIGINT) AS fk_depth,
        |  CAST(1 AS BIGINT) AS delete_order,
        |  count(*) AS n_rows_affected,
        |  count(DISTINCT subject) AS n_subjects,
        |  CAST(count(*) * 1000000 // (SELECT count(*) FROM lineitem)
        |    AS BIGINT) AS churn_ppm
        |FROM lineitem JOIN fco ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'orders', CAST(1 AS BIGINT), CAST(2 AS BIGINT), count(*),
        |  count(DISTINCT subject),
        |  CAST(count(*) * 1000000 // (SELECT count(*) FROM orders) AS BIGINT)
        |FROM orders JOIN fcs ON o_custkey = subject
        |UNION ALL
        |SELECT 'customer', CAST(0 AS BIGINT), CAST(3 AS BIGINT), count(*),
        |  count(DISTINCT subject),
        |  CAST(count(*) * 1000000 // (SELECT count(*) FROM customer) AS BIGINT)
        |FROM customer JOIN fcs ON c_custkey = subject""".stripMargin,
    "q_repeat_purchase_rate" ->
      """WITH rpp AS (SELECT o_custkey, l_partkey,
        |    count(DISTINCT l_orderkey) AS n_orders
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeat,
        |  CAST(max(n_orders) AS BIGINT) AS max_orders,
        |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS repeat_ppm
        |FROM rpp JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    "ts_gap_audit" ->
      """WITH gad AS (SELECT DISTINCT event_type,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |gag AS (SELECT event_type, day,
        |    day - lag(day, 1) OVER (PARTITION BY event_type ORDER BY day) - 1
        |      AS gap
        |  FROM gad)
        |SELECT event_type, count(*) AS days_observed,
        |  CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
        |  CAST(max(day) - min(day) + 1 - count(*) AS BIGINT) AS missing_days,
        |  CAST((max(day) - min(day) + 1 - count(*)) * 1000000
        |    // (max(day) - min(day) + 1) AS BIGINT) AS missing_ppm,
        |  CAST(coalesce(max(gap), 0) AS BIGINT) AS longest_gap_days
        |FROM gag GROUP BY 1""".stripMargin,
    "q_revenue_momentum" ->
      """WITH rmm AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1),
        |rmw AS (SELECT ym, rev_c,
        |    lag(rev_c, 1) OVER (ORDER BY ym) AS prev_m,
        |    lag(rev_c, 12) OVER (ORDER BY ym) AS prev_y,
        |    CAST(sum(rev_c) OVER (ORDER BY ym
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS ttm_c
        |  FROM rmm)
        |SELECT CAST(ym AS BIGINT) AS ym, rev_c,
        |  CAST(CASE WHEN prev_m IS NULL THEN NULL
        |    WHEN rev_c - prev_m < 0 THEN -((-(rev_c - prev_m)) * 10000 // prev_m)
        |    ELSE (rev_c - prev_m) * 10000 // prev_m END AS BIGINT) AS mom_bp,
        |  CAST(CASE WHEN prev_y IS NULL THEN NULL
        |    WHEN rev_c - prev_y < 0 THEN -((-(rev_c - prev_y)) * 10000 // prev_y)
        |    ELSE (rev_c - prev_y) * 10000 // prev_y END AS BIGINT) AS yoy_bp,
        |  ttm_c
        |FROM rmw""".stripMargin,
    "q_discount_elasticity" ->
      """WITH dle AS (SELECT l_partkey,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x,
        |    CAST(round(l_quantity) AS BIGINT) AS y
        |  FROM lineitem),
        |dlj AS (SELECT p_brand, x, y FROM dle
        |  JOIN part ON l_partkey = p_partkey),
        |dls AS (SELECT p_brand, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM dlj GROUP BY 1),
        |dlt AS (SELECT p_brand, n,
        |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS den,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS deny
        |  FROM dls)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE CAST(CASE WHEN num < 0 THEN -((-num) * 1000000 // den)
        |      ELSE num * 1000000 // den END AS BIGINT) END AS slope_e6,
        |  CASE WHEN den * deny = 0 THEN NULL
        |    ELSE CAST(num * num * 10000 // (den * deny) AS BIGINT) END AS r2_e4
        |FROM dlt""".stripMargin,
    "cdc_conflict_audit" ->
      """WITH cfb AS (SELECT user_id, epoch_us(ts) // 600000000 AS win,
        |    count(*) AS n_writes,
        |    count(DISTINCT CAST(round(value * 100) AS BIGINT)) AS n_values,
        |    min(CAST(round(value * 100) AS BIGINT)) AS min_c,
        |    max(CAST(round(value * 100) AS BIGINT)) AS max_c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_conflict_buckets,
        |  CAST(sum(n_writes) AS BIGINT) AS n_conflict_writes,
        |  CAST(max(n_writes) AS BIGINT) AS worst_bucket_writes,
        |  CAST(max(max_c - min_c) AS BIGINT) AS max_divergence_c
        |FROM cfb WHERE n_values > 1 GROUP BY 1""".stripMargin,
    "q_abc_parts" ->
      """WITH abr AS (SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1),
        |abc AS (SELECT rev_c,
        |    sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
        |    sum(rev_c) OVER () AS total_c
        |  FROM abr),
        |abk AS (SELECT rev_c,
        |    CASE WHEN CAST(cum_c AS HUGEINT) * 1000000 // total_c <= 800000 THEN 'A'
        |         WHEN CAST(cum_c AS HUGEINT) * 1000000 // total_c <= 950000 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM abc)
        |SELECT abc_class, count(*) AS n_parts,
        |  CAST(sum(rev_c) AS BIGINT) AS class_rev_c,
        |  CAST(CAST(sum(rev_c) AS HUGEINT) * 1000000
        |    // (SELECT sum(rev_c) FROM abk) AS BIGINT) AS share_ppm
        |FROM abk GROUP BY 1""".stripMargin,
    "ev_decile_lift" ->
      """WITH dlu AS (SELECT user_id,
        |    sum(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END) AS score,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
        |  FROM events GROUP BY 1),
        |dld AS (SELECT CAST(ntile(10) OVER (ORDER BY score DESC, user_id ASC)
        |      AS BIGINT) AS decile, pos
        |  FROM dlu),
        |dlg AS (SELECT decile, count(*) AS n_users,
        |    CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM dld GROUP BY 1)
        |SELECT decile, n_users, n_pos,
        |  CAST(n_pos * 10000 // n_users AS BIGINT) AS pos_rate_e4,
        |  CAST(sum(n_pos) OVER (ORDER BY decile ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
        |    // sum(n_pos) OVER () AS BIGINT) AS capture_e4,
        |  CAST(n_pos * sum(n_users) OVER () * 10000
        |    // (n_users * sum(n_pos) OVER ()) AS BIGINT) AS lift_e4
        |FROM dlg""".stripMargin,
    "ev_att_stratified" ->
      """WITH atu AS (SELECT user_id, count(*) AS n_events,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS treated,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |ats AS (SELECT CAST(length(bin(n_events)) - 1 AS BIGINT) AS stratum,
        |    treated, cents FROM atu),
        |atg AS (SELECT stratum,
        |    CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
        |    CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        |    CAST(sum(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS BIGINT) AS t_cents,
        |    CAST(sum(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS BIGINT) AS c_cents
        |  FROM ats GROUP BY 1),
        |atm AS (SELECT stratum, n_treated, n_control,
        |    CASE WHEN n_treated > 0 THEN t_cents * 10000 // n_treated END AS t_mean_e4,
        |    CASE WHEN n_control > 0 THEN c_cents * 10000 // n_control END AS c_mean_e4
        |  FROM atg),
        |ate AS (SELECT stratum, n_treated, n_control, t_mean_e4, c_mean_e4,
        |    CASE WHEN n_treated > 0 AND n_control > 0
        |      THEN t_mean_e4 - c_mean_e4 END AS effect_e4
        |  FROM atm)
        |SELECT stratum, n_treated, n_control,
        |  CAST(t_mean_e4 AS BIGINT) AS t_mean_e4,
        |  CAST(c_mean_e4 AS BIGINT) AS c_mean_e4,
        |  CAST(effect_e4 AS BIGINT) AS effect_e4
        |FROM ate
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(sum(n_treated) AS BIGINT),
        |  CAST(sum(n_control) AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT),
        |  CAST(CASE WHEN sum(effect_e4 * n_treated) < 0
        |    THEN -((-sum(effect_e4 * n_treated)) // sum(n_treated))
        |    ELSE sum(effect_e4 * n_treated) // sum(n_treated) END AS BIGINT)
        |FROM ate WHERE n_treated > 0 AND n_control > 0""".stripMargin,
    // the custom merge exec must land on EXACTLY the rows the
    // union+window path produces — one ASOF oracle serves both
    "cdc_asof_exec" -> oracleSqlBase("cdc_asof_join")
  )

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "cdc_table_groups" ->
      s"""$registryCte
         |SELECT name,
         |  CASE WHEN data_size_mb > 1000 THEN 'large'
         |   WHEN data_size_mb > 100 THEN 'medium' ELSE 'small' END AS size_group,
         |  CASE WHEN update_frequency > 50 THEN 'high_frequency'
         |   WHEN update_frequency > 10 THEN 'medium_frequency'
         |   ELSE 'low_frequency' END AS freq_group
         |FROM p""".stripMargin,
    // the Derby catalog is seeded from deterministic slices of the test
    // tables, so the discovered registry is fully SQL-predictable
    "src_jdbc_catalog" ->
      """SELECT 'cdc_orders' AS name, 'app' AS schema,
        |  least(800, (SELECT count(*) FROM orders)) AS row_count,
        |  'o_orderkey' AS partition_key, true AS cdc_enabled
        |UNION ALL
        |SELECT 'cdc_users', 'app',
        |  least(500, (SELECT count(DISTINCT user_id) FROM events)),
        |  'user_id', true""".stripMargin,
    "cdc_registry_stats" ->
      s"""$registryCte
         |SELECT count(*) AS n_tables,
         |  CAST(sum(row_count) AS BIGINT) AS total_rows,
         |  CAST(sum(CASE WHEN cdc_enabled THEN 1 ELSE 0 END) AS BIGINT) AS n_enabled,
         |  CAST(sum(CASE WHEN cdc_enabled THEN 0 ELSE 1 END) AS BIGINT) AS n_disabled,
         |  CAST(sum(CAST(row_count * avg_row_size AS BIGINT)) // (1024 * 1024) AS BIGINT) AS total_size_mb,
         |  CAST(sum(CAST(update_frequency * 10 AS BIGINT)) * 1000 // count(*) AS BIGINT) AS avg_update_freq_e4
         |FROM p""".stripMargin,
    "cdc_log" ->
      s"""$logCte
         |SELECT event_id, user_id, operation, seq_us, event_type, value, props FROM log""".stripMargin,
    "cdc_parse_props" ->
      s"""$logCte
         |SELECT event_id, user_id, operation,
         |  CAST(json_extract(props, '$$.k') AS BIGINT) AS k
         |FROM log""".stripMargin,
    "cdc_current_scd1" ->
      s"""$logCte,
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC) AS rn FROM log)
         |SELECT user_id, operation AS last_op, event_id AS last_event_id,
         |  round(value, 2) AS last_value
         |FROM r WHERE rn = 1 AND operation <> 'DELETE'""".stripMargin,
    // ---- round-9 rows-only -> hash-oracle promotions ----
    // sketch rows: the gated shape is exact counts + error-envelope flags
    // (the oracle emits TRUE; a sketch drifting out of its envelope at any
    // SF hash-fails the row). Estimate VALUES stay spec-pinned — no other
    // engine reproduces Spark's CMS/HLL registers.
    // full integer/exact-float replay of the video synth -> PNG round
    // trip -> gray profile -> keyframe census: pixels are pure functions
    // of (doc_id, text bytes, frame), PNG is lossless, every profile bin
    // is an exact multiple of 1/16 (sums of <=255 ints over power-of-two
    // divisors), so the only inexact ops are the final /255*1e4 — same
    // order both engines, positive half-up rounding agrees
    "mm_video_keyframes" ->
      s"""WITH vd AS (SELECT doc_id, text, length(text) AS len,
         |        CAST(4 + doc_id % 3 AS INT) AS n FROM documents),
         |vfr AS (SELECT doc_id, text, len, n, CAST(unnest(range(0, n)) AS INT) AS f FROM vd),
         |vpx AS (SELECT doc_id, n, f, len, text, CAST(unnest(range(0, 256)) AS INT) AS i FROM vfr),
         |vv AS (SELECT doc_id, n, f, i // 16 AS r,
         |        least(255,
         |          CASE WHEN f >= 2 AND doc_id % 2 = 0 THEN
         |            255 - (CASE WHEN len = 0 THEN 0
         |                        ELSE unicode(substr(text, len - (i % len), 1)) END)
         |          ELSE (CASE WHEN len = 0 THEN 0
         |                     ELSE unicode(substr(text, (i % len) + 1, 1)) END)
         |          END + f) AS v
         |      FROM vpx),
         |vprof AS (SELECT doc_id, n, f, r, sum(v) AS s16 FROM vv GROUP BY 1, 2, 3, 4),
         |vdiff AS (SELECT a.doc_id, a.n, a.f,
         |        sum(abs(a.s16 - b.s16)) AS m
         |      FROM vprof a JOIN vprof b
         |        ON a.doc_id = b.doc_id AND a.r = b.r AND b.f = a.f - 1
         |      GROUP BY 1, 2, 3),
         |vfeat AS (SELECT fr.doc_id, fr.n, fr.f,
         |        CAST(coalesce(round(CAST(d.m AS DOUBLE) / 256.0 / 255.0 * 10000.0), 0) AS BIGINT) AS diff_e4,
         |        (fr.f = 0 OR coalesce(round(CAST(d.m AS DOUBLE) / 256.0 / 255.0 * 10000.0), 0) > 1000) AS is_key
         |      FROM vfr fr LEFT JOIN vdiff d ON d.doc_id = fr.doc_id AND d.f = fr.f)
         |SELECT doc_id, max(n) AS n_frames,
         |  CAST(sum(CASE WHEN is_key THEN 1 ELSE 0 END) AS BIGINT) AS n_keyframes,
         |  max(diff_e4) AS max_diff_e4
         |FROM vfeat GROUP BY 1""".stripMargin,
    // byte-histogram replay of the decode stub (ASCII corpus: char
    // indexing == UTF-8 byte indexing, like mm_audio_silence)
    "mm_decode_stub" ->
      s"""WITH db AS (SELECT doc_id, text, length(text) AS len FROM documents),
         |dch AS (SELECT doc_id, len,
         |        unicode(substr(text, CAST(unnest(range(0, len)) AS INT) + 1, 1)) AS b
         |      FROM db),
         |dh AS (SELECT doc_id, b // 32 AS bkt, count(*) AS c FROM dch GROUP BY 1, 2),
         |dfull AS (SELECT d.doc_id, CAST(g.range AS INT) AS bkt, coalesce(h.c, 0) AS c
         |      FROM db d CROSS JOIN range(0, 8) g
         |      LEFT JOIN dh h ON h.doc_id = d.doc_id AND h.bkt = g.range),
         |dcsv AS (SELECT doc_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY bkt) AS hist_counts_csv
         |      FROM dfull GROUP BY 1),
         |dmb AS (SELECT d.doc_id, d.len, coalesce(sum(ch.b), 0) AS sm
         |      FROM db d LEFT JOIN dch ch ON ch.doc_id = d.doc_id GROUP BY 1, 2)
         |SELECT m.doc_id, CAST(m.len AS INT) AS n_bytes,
         |  round(CAST(m.sm AS DOUBLE) / greatest(m.len, 1), 4) AS mean_byte,
         |  c.hist_counts_csv
         |FROM dmb m JOIN dcsv c USING (doc_id)""".stripMargin,
    "q_approx_distinct" ->
      s"""SELECT l_returnflag,
         |  count(DISTINCT l_orderkey) AS exact_orders,
         |  count(DISTINCT l_partkey) AS exact_parts,
         |  TRUE AS orders_within_4pct, TRUE AS parts_within_4pct
         |FROM lineitem GROUP BY 1""".stripMargin,
    "ev_heavy_hitters" ->
      s"""WITH t AS (SELECT user_id, count(*) AS exact_cnt FROM events
         |           GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 10)
         |SELECT user_id, exact_cnt, TRUE AS within_bound FROM t""".stripMargin,
    "q_hll_rollup" ->
      s"""SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
         |  TRUE AS union_within_3pct
         |FROM lineitem GROUP BY 1""".stripMargin,
    "q_hll_range" ->
      s"""WITH dd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id FROM events),
         |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM dd),
         |rng AS (SELECT d0 + (d1 - d0) // 4 AS lo, d1 - (d1 - d0) // 4 AS hi FROM sp),
         |f AS (SELECT dd.* FROM dd, rng WHERE dd.day BETWEEN rng.lo AND rng.hi)
         |SELECT event_type, count(DISTINCT day) AS n_days, count(*) AS n_events,
         |  count(DISTINCT user_id) AS exact_users, TRUE AS est_within_3pct
         |FROM f GROUP BY 1""".stripMargin,
    // full integer replay of the WAV synth -> decode -> silence profile:
    // the synthesized PCM is a pure function of (doc_id, text bytes) and
    // 16-bit PCM round-trips AudioSystem exactly, so every column is
    // integer arithmetic both engines agree on (corpus is ASCII, so
    // DuckDB's char indexing == the UTF-8 byte indexing Spark uses; a
    // non-ASCII future corpus fails loud here, the safe direction)
    "mm_audio_silence" ->
      s"""WITH d AS (SELECT doc_id, text, CAST(64 + (doc_id % 129) AS BIGINT) AS n, length(text) AS len FROM documents),
         |ix AS (SELECT doc_id, n, len, text, unnest(range(0, n)) AS idx FROM d),
         |s AS (SELECT doc_id, n, idx,
         |        CASE WHEN len = 0 THEN 0
         |             ELSE (unicode(substr(text, CAST((idx * 5) % len AS INT) + 1, 1)) - 128) * 256 END AS smp
         |      FROM ix),
         |pk AS (SELECT doc_id, greatest(max(abs(smp)) // 20, 1) AS thr FROM s GROUP BY 1),
         |fl AS (SELECT s.doc_id, s.n, s.idx, (abs(s.smp) < pk.thr) AS silent
         |       FROM s JOIN pk USING (doc_id)),
         |grp AS (SELECT doc_id, idx, silent,
         |         idx - row_number() OVER (PARTITION BY doc_id, silent ORDER BY idx) AS g
         |       FROM fl),
         |runs AS (SELECT doc_id, silent, count(*) AS run_len
         |         FROM grp GROUP BY doc_id, silent, g),
         |agg AS (SELECT doc_id, max(n) AS n_samples,
         |          sum(CASE WHEN silent THEN 1 ELSE 0 END) AS n_silent,
         |          min(CASE WHEN NOT silent THEN idx END) AS first_loud,
         |          max(CASE WHEN NOT silent THEN idx END) AS last_loud
         |        FROM fl GROUP BY 1),
         |lr AS (SELECT doc_id, coalesce(max(CASE WHEN silent THEN run_len END), 0) AS longest_run
         |       FROM runs GROUP BY 1)
         |SELECT a.doc_id, a.n_samples, CAST(a.n_silent AS BIGINT) AS n_silent,
         |  CAST(CASE WHEN a.n_samples = 0 THEN 0 ELSE a.n_silent * 10000 // a.n_samples END AS BIGINT) AS silent_bp,
         |  CAST(l.longest_run AS BIGINT) AS longest_run,
         |  CAST(coalesce(a.first_loud, a.n_samples) AS BIGINT) AS lead_silence,
         |  CAST(CASE WHEN a.last_loud IS NULL THEN a.n_samples ELSE a.n_samples - 1 - a.last_loud END AS BIGINT) AS trail_silence,
         |  (a.n_silent * 2 > a.n_samples) AS mostly_silent
         |FROM agg a JOIN lr l USING (doc_id)""".stripMargin,
    // the bucketed-gold replay must land on the SAME current state —
    // identical latest-per-key oracle
    "cdc_bucketed_gold" ->
      s"""$logCte,
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC) AS rn FROM log)
         |SELECT user_id, operation AS last_op, event_id AS last_event_id,
         |  round(value, 2) AS last_value
         |FROM r WHERE rn = 1 AND operation <> 'DELETE'""".stripMargin,
    "cdc_scd2_history" ->
      s"""$logCte,
         |h AS (SELECT user_id, event_id, operation, round(value, 2) AS value,
         |        seq_us AS valid_from_us,
         |        lead(seq_us) OVER (PARTITION BY user_id ORDER BY seq_us, event_id) AS vt
         |      FROM log)
         |SELECT user_id, event_id, operation, value, valid_from_us,
         |  coalesce(vt, 9223372036854775807) AS valid_to_us,
         |  (vt IS NULL) AS is_current
         |FROM h""".stripMargin,
    "cdc_freshness" ->
      s"""$logCte,
         |p AS (SELECT event_type, count(*) AS n_events, max(seq_us) AS last_event_us
         |      FROM log GROUP BY 1),
         |a AS (SELECT max(last_event_us) AS corpus_max_us FROM p)
         |SELECT event_type, n_events, last_event_us, corpus_max_us,
         |  corpus_max_us - last_event_us AS staleness_us,
         |  (corpus_max_us - last_event_us > 3600000000) AS is_stale
         |FROM p, a""".stripMargin,
    "cdc_pit_join" ->
      s"""$logCte,
         |h AS (SELECT user_id, event_id, operation, round(value, 2) AS value,
         |        seq_us AS valid_from_us,
         |        coalesce(lead(seq_us) OVER (PARTITION BY user_id ORDER BY seq_us, event_id),
         |                 9223372036854775807) AS valid_to_us
         |      FROM log),
         |f AS (SELECT event_id AS p_event_id, user_id, seq_us AS p_ts_us
         |      FROM log WHERE event_type = 'purchase')
         |SELECT f.p_event_id, f.user_id, f.p_ts_us, h.event_id AS v_event_id,
         |  h.operation AS v_op, h.value AS v_value, h.valid_from_us
         |FROM f JOIN h ON f.user_id = h.user_id
         |  AND f.p_ts_us >= h.valid_from_us AND f.p_ts_us < h.valid_to_us""".stripMargin,
    "cdc_reconcile" ->
      s"""$logCte,
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC) AS rn FROM log),
         |cur AS (SELECT user_id AS cu, operation, value AS cv FROM r WHERE rn = 1),
         |snap AS (SELECT c_custkey AS user_id, c_acctbal AS value FROM customer),
         |m AS (SELECT coalesce(s.user_id, c.cu) AS user_id,
         |        round(CASE WHEN c.cu IS NOT NULL THEN c.cv ELSE s.value END, 2) AS value
         |      FROM snap s FULL OUTER JOIN cur c ON s.user_id = c.cu
         |      WHERE coalesce(c.operation, '') <> 'DELETE'),
         |srcd AS (SELECT user_id % 16 AS bucket, count(*) AS rows_src,
         |          CAST(sum(user_id * 1000003 + CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS check_src
         |        FROM m GROUP BY 1),
         |t AS (SELECT user_id,
         |        CASE WHEN user_id % 97 = 13 THEN round(value + 1.0, 2) ELSE value END AS value
         |      FROM m WHERE user_id % 113 <> 7),
         |tgtd AS (SELECT user_id % 16 AS bucket, count(*) AS rows_tgt,
         |          CAST(sum(user_id * 1000003 + CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS check_tgt
         |        FROM t GROUP BY 1)
         |SELECT coalesce(s.bucket, g.bucket) AS bucket,
         |  coalesce(rows_src, 0) AS rows_src, coalesce(rows_tgt, 0) AS rows_tgt,
         |  coalesce(check_src, 0) AS check_src, coalesce(check_tgt, 0) AS check_tgt,
         |  (coalesce(rows_src, 0) = coalesce(rows_tgt, 0)
         |    AND coalesce(check_src, 0) = coalesce(check_tgt, 0)) AS consistent
         |FROM srcd s FULL OUTER JOIN tgtd g ON s.bucket = g.bucket""".stripMargin,
    "cdc_change_summary" ->
      s"""$logCte
         |SELECT event_type, operation, count(*) AS total_changes,
         |  min(seq_us) AS first_change_us, max(seq_us) AS last_change_us
         |FROM log GROUP BY event_type, operation""".stripMargin,
    "cdc_quality_metrics" ->
      """SELECT epoch_us(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))) AS window_start_us,
        |  event_type, count(*) AS event_count, count(DISTINCT user_id) AS n_users,
        |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_value,
        |  round(max(value), 2) AS max_value,
        |  (count(*) < 10) AS low_volume_flag
        |FROM events GROUP BY 1, 2""".stripMargin,
    "cdc_throughput" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 minute', CAST(ts AS TIMESTAMP))) AS minute_start_us,
        |  count(*) AS events_per_minute, round(count(*) / 60.0, 4) AS events_per_second
        |FROM events GROUP BY 1""".stripMargin,
    "cdc_error_dlq" ->
      """SELECT event_id, user_id, event_type,
        |  'SOURCE_OR_PARSE_ERROR' AS error_type, round(value, 2) AS value
        |FROM events
        |WHERE event_type = 'error' OR props IS NULL OR length(props) = 0""".stripMargin,
    "cdc_table_stats" ->
      """SELECT event_type, count(*) AS total_events,
        |  count(DISTINCT user_id) AS unique_users,
        |  min(epoch_us(ts)) AS first_event_us, max(epoch_us(ts)) AS last_event_us
        |FROM events GROUP BY event_type""".stripMargin,
    "cdc_enrich" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(EXTRACT(year FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
        |  CAST(EXTRACT(month FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS m,
        |  CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS d,
        |  CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS h,
        |  (dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)) AS is_weekend
        |FROM events""".stripMargin,
    "cdc_dedup_once" ->
      """WITH delivered AS (
        |  SELECT * FROM events
        |  UNION ALL SELECT * FROM events WHERE event_id % 10 < 3)
        |SELECT event_id, min(user_id) AS user_id, min(event_type) AS event_type,
        |  round(min(value), 2) AS value, count(*) AS deliveries
        |FROM delivered GROUP BY event_id""".stripMargin,
    "cdc_snapshot_merge" ->
      s"""$logCte,
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC) AS rn FROM log),
         |cur AS (SELECT user_id AS cu, operation, value AS cv FROM r WHERE rn = 1),
         |snap AS (SELECT c_custkey AS user_id, c_acctbal AS value FROM customer)
         |SELECT coalesce(s.user_id, c.cu) AS user_id,
         |  CASE WHEN c.cu IS NOT NULL THEN 'CDC' ELSE 'SNAPSHOT' END AS src,
         |  round(CASE WHEN c.cu IS NOT NULL THEN c.cv ELSE s.value END, 2) AS value
         |FROM snap s FULL OUTER JOIN cur c ON s.user_id = c.cu
         |WHERE coalesce(c.operation, '') <> 'DELETE'""".stripMargin,
    "cdc_time_travel" ->
      s"""$logCte,
         |h AS (SELECT user_id, event_id, operation, round(value, 2) AS value,
         |        seq_us AS valid_from_us,
         |        lead(seq_us) OVER (PARTITION BY user_id ORDER BY seq_us, event_id) AS vt
         |      FROM log)
         |SELECT user_id, event_id, operation, value FROM h
         |WHERE valid_from_us <= 1705276800000000
         |  AND (vt IS NULL OR vt > 1705276800000000)
         |  AND operation <> 'DELETE'""".stripMargin,
    "cdc_asof_join" ->
      """WITH lg AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |p AS (SELECT * FROM lg WHERE event_type = 'purchase'),
        |o AS (SELECT * FROM lg WHERE event_type <> 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  o.event_id AS prior_event_id, o.ts_us AS prior_ts_us,
        |  round(o.value, 2) AS prior_value,
        |  p.ts_us - o.ts_us AS wait_us
        |FROM p ASOF LEFT JOIN o
        |  ON p.user_id = o.user_id AND p.ts_us >= o.ts_us""".stripMargin,
    "cdc_asof_tolerance" ->
      """WITH lg AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |p AS (SELECT * FROM lg WHERE event_type = 'purchase'),
        |o AS (SELECT * FROM lg WHERE event_type <> 'purchase'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts_us,
        |    o.event_id AS prior_event_id, o.ts_us AS prior_ts_us, o.value AS prior_value
        |  FROM p ASOF LEFT JOIN o
        |    ON p.user_id = o.user_id AND p.ts_us >= o.ts_us)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN ts_us - prior_ts_us > 600000000 THEN NULL ELSE prior_event_id END AS prior_event_id,
        |  CASE WHEN ts_us - prior_ts_us > 600000000 THEN NULL ELSE prior_ts_us END AS prior_ts_us,
        |  CASE WHEN ts_us - prior_ts_us > 600000000 THEN NULL ELSE round(prior_value, 2) END AS prior_value,
        |  CASE WHEN ts_us - prior_ts_us > 600000000 THEN NULL ELSE ts_us - prior_ts_us END AS wait_us
        |FROM j""".stripMargin,
    "cdc_asof_forward" ->
      """WITH lg AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |u AS (
        |  SELECT user_id, ts_us, 1 AS side, event_id,
        |    CAST(NULL AS BIGINT) AS r_event_id, CAST(NULL AS BIGINT) AS r_ts_us,
        |    CAST(NULL AS DOUBLE) AS r_value
        |  FROM lg WHERE event_type <> 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts_us, 0, CAST(NULL AS BIGINT), event_id, ts_us, value
        |  FROM lg WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, ts_us, side, event_id,
        |    first_value(r_event_id IGNORE NULLS) OVER win AS next_event_id,
        |    first_value(r_ts_us IGNORE NULLS) OVER win AS next_ts_us,
        |    first_value(r_value IGNORE NULLS) OVER win AS next_value
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ts_us, side DESC, event_id, r_event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, ts_us, next_event_id, next_ts_us,
        |  round(next_value, 2) AS next_value, next_ts_us - ts_us AS lead_us
        |FROM w WHERE side = 1""".stripMargin,
    "cdc_before_after" ->
      s"""$logCte,
         |b AS (SELECT event_id, user_id, operation, seq_us,
         |        lag(value) OVER (PARTITION BY user_id ORDER BY seq_us, event_id) AS bv,
         |        value AS av
         |      FROM log)
         |SELECT event_id, user_id, operation, seq_us,
         |  round(bv, 2) AS before_value, round(av, 2) AS after_value,
         |  (bv IS NULL) AS is_first_image
         |FROM b""".stripMargin,
    "cdc_gap_check" ->
      """WITH b AS (SELECT min(event_id) AS min_id, max(event_id) AS max_id, count(*) AS n_rows FROM events),
        |m AS (SELECT count(*) AS n_gaps FROM events e, b
        |      WHERE NOT EXISTS (SELECT 1 FROM events x WHERE x.event_id = e.event_id + 1)
        |        AND e.event_id + 1 <= b.max_id)
        |SELECT b.min_id, b.max_id, b.n_rows,
        |  b.max_id - b.min_id + 1 AS expected_rows, m.n_gaps,
        |  (m.n_gaps = 0) AS is_contiguous
        |FROM b, m""".stripMargin,
    // envelope string is constructed byte-identically on both sides, so the
    // compare exercises both engines' JSON parsers on the same input
    "cdc_debezium_parse" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' WHEN 'purchase' THEN 'r' ELSE 'u' END AS op_raw,
        |    epoch_ms(ts) AS seq_ms
        |  FROM events),
        |env AS (
        |  SELECT event_id,
        |    '{"before":' ||
        |    CASE WHEN op_raw = 'c' THEN 'null'
        |         ELSE '{"user_id":' || CAST(user_id AS VARCHAR) || ',"event_id":' || CAST(event_id - 1 AS VARCHAR) || '}' END ||
        |    ',"after":' ||
        |    CASE WHEN op_raw = 'd' THEN 'null'
        |         ELSE '{"user_id":' || CAST(user_id AS VARCHAR) || ',"event_id":' || CAST(event_id AS VARCHAR) || '}' END ||
        |    ',"source":{"version":"2.4.0","connector":"mysql","name":"graft","ts_ms":' || CAST(seq_ms AS VARCHAR) ||
        |    ',"snapshot":"' || CASE WHEN op_raw = 'r' THEN 'true' ELSE 'false' END ||
        |    '","db":"graftdb","table":"events","server_id":1,"gtid":"0-1-' || CAST(event_id AS VARCHAR) ||
        |    '","file":"binlog.000001","pos":' || CAST(event_id * 4 AS VARCHAR) ||
        |    ',"row":0,"thread":7,"query":null},"op":"' || op_raw ||
        |    '","ts_ms":' || CAST(seq_ms + (event_id % 120) * 1000 + 1 AS VARCHAR) ||
        |    ',"transaction":{"id":"tx-' || CAST(user_id AS VARCHAR) ||
        |    '","total_order":1,"data_collection_order":1}}' AS cdc_event
        |  FROM e)
        |SELECT event_id,
        |  json_extract_string(cdc_event, '$.op') AS cdc_operation_raw,
        |  CASE json_extract_string(cdc_event, '$.op')
        |    WHEN 'c' THEN 'INSERT' WHEN 'u' THEN 'UPDATE' WHEN 'd' THEN 'DELETE' WHEN 'r' THEN 'SNAPSHOT'
        |    ELSE 'UNKNOWN' END AS operation,
        |  nullif(CAST(json_extract(cdc_event, '$.before') AS VARCHAR), 'null') AS before_image,
        |  nullif(CAST(json_extract(cdc_event, '$.after') AS VARCHAR), 'null') AS after_image,
        |  CAST(json_extract(cdc_event, '$.after.user_id') AS BIGINT) AS after_user_id,
        |  json_extract_string(cdc_event, '$.source.db') AS database_name,
        |  json_extract_string(cdc_event, '$.source.table') AS table_name,
        |  CAST(json_extract(cdc_event, '$.source.ts_ms') AS BIGINT) AS source_ts_ms,
        |  json_extract_string(cdc_event, '$.source.snapshot') AS snapshot_flag,
        |  json_extract_string(cdc_event, '$.source.file') AS binlog_file,
        |  CAST(json_extract(cdc_event, '$.source.pos') AS BIGINT) AS binlog_position,
        |  json_extract_string(cdc_event, '$.source.gtid') AS gtid,
        |  json_extract_string(cdc_event, '$.transaction.id') AS transaction_id,
        |  CAST(json_extract(cdc_event, '$.ts_ms') AS BIGINT) AS event_ts_ms
        |FROM env""".stripMargin,
    "cdc_expect_audit" ->
      """WITH f AS (
        |  SELECT CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' WHEN 'purchase' THEN 'r' ELSE 'u' END AS op_raw,
        |    epoch_ms(ts) AS seq_ms, user_id
        |  FROM events),
        |fails AS (
        |  SELECT 'recent_event' AS rule FROM f WHERE NOT (seq_ms >= 1500000000000)
        |  UNION ALL
        |  SELECT 'small_user_id' AS rule FROM f WHERE NOT (op_raw = 'd' OR user_id < 10))
        |SELECT rule, count(*) AS n_failed FROM fails GROUP BY rule""".stripMargin,
    "cdc_dlq_replay" ->
      """WITH f AS (
        |  SELECT CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' WHEN 'purchase' THEN 'r' ELSE 'u' END AS op_raw,
        |    epoch_ms(ts) AS seq_ms, user_id
        |  FROM events),
        |q AS (
        |  SELECT NOT (seq_ms >= 1500000000000) AS stale,
        |    NOT (op_raw = 'd' OR user_id < 10) AS bad_id
        |  FROM f),
        |r AS (SELECT concat_ws('+',
        |    CASE WHEN stale THEN 'stale' END,
        |    CASE WHEN bad_id THEN 'bad_id' END) AS reason, bad_id
        |  FROM q WHERE stale OR bad_id)
        |SELECT reason, count(*) AS n_quarantined,
        |  CAST(sum(CASE WHEN NOT bad_id THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
        |  CAST(count(*) - sum(CASE WHEN NOT bad_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
        |FROM r GROUP BY 1""".stripMargin,
    // outbox-route replay: identical md5-nibble keyed hash (the
    // countmin hex24 construction), window order pinned by (seq_us,
    // event_id) so the per-partition sequence is deterministic
    "cdc_outbox_route" -> {
      val hex24 = (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr(md5('ob_' || CAST(user_id AS VARCHAR)), ${i + 1}, 1)) - 1) * ${1L << (4 * (5 - i))}")
        .mkString("(", " + ", ")")
      s"""$logCte,
         |ob AS (SELECT event_id, user_id AS aggregate_id,
         |    'cdc.tpch.' || event_type AS topic, seq_us,
         |    $hex24 % 8 AS kafka_partition
         |  FROM log)
         |SELECT event_id, topic, CAST(kafka_partition AS BIGINT) AS kafka_partition,
         |  aggregate_id, seq_us,
         |  CAST(row_number() OVER (PARTITION BY topic, kafka_partition
         |    ORDER BY seq_us, event_id) AS BIGINT) AS seq_in_partition
         |FROM ob""".stripMargin
    },
    "cdc_latency_metrics" ->
      """WITH f AS (
        |  SELECT CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' WHEN 'purchase' THEN 'r' ELSE 'u' END AS op_raw,
        |    epoch_ms(ts) AS seq_ms, (event_id % 120) * 1000 + 1 AS delay_ms
        |  FROM events),
        |g AS (
        |  SELECT seq_ms // 300000 * 300000 AS window_start_ms,
        |    CASE op_raw WHEN 'c' THEN 'INSERT' WHEN 'u' THEN 'UPDATE' WHEN 'd' THEN 'DELETE' WHEN 'r' THEN 'SNAPSHOT'
        |      ELSE 'UNKNOWN' END AS operation,
        |    seq_ms, delay_ms
        |  FROM f)
        |SELECT window_start_ms, operation, count(*) AS event_count,
        |  CAST(sum(delay_ms) * 10000 // count(*) AS BIGINT) AS avg_delay_ms_e4,
        |  CAST(max(delay_ms) AS BIGINT) AS max_delay_ms,
        |  min(seq_ms) AS min_event_ms, max(seq_ms) AS max_event_ms,
        |  (max(delay_ms) > 60000) AS high_latency_flag,
        |  (count(*) < 10) AS low_volume_flag
        |FROM g GROUP BY 1, 2""".stripMargin,
    "cdc_forget_keys" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |aff AS (SELECT DISTINCT d FROM ev WHERE user_id % 97 = 13)
        |SELECT CAST(e.d AS VARCHAR) AS event_date,
        |  count(*) AS n_before,
        |  count(*) FILTER (WHERE e.user_id % 97 <> 13) AS n_after
        |FROM ev e JOIN aff USING (d)
        |GROUP BY 1""".stripMargin,
    "cdc_net_effect" ->
      s"""$logCte,
         |b AS (SELECT event_type, operation, value,
         |        lag(value) OVER w AS before_value,
         |        lag(event_type) OVER w AS before_type
         |      FROM log
         |      WINDOW w AS (PARTITION BY user_id ORDER BY seq_us, event_id)),
         |c AS (
         |  SELECT event_type AS grp, CAST(value AS DECIMAL(12,2)) AS delta,
         |         1 AS drows, 1 AS chg
         |  FROM b WHERE operation IN ('INSERT', 'UPDATE')
         |  UNION ALL
         |  SELECT coalesce(before_type, event_type) AS grp,
         |         -coalesce(CAST(before_value AS DECIMAL(12,2)), CAST(0 AS DECIMAL(12,2))) AS delta,
         |         -1 AS drows,
         |         CASE WHEN operation = 'DELETE' THEN 1 ELSE 0 END AS chg
         |  FROM b WHERE operation IN ('UPDATE', 'DELETE'))
         |SELECT grp AS event_type,
         |  CAST(round(sum(delta), 2) AS DOUBLE) AS net_value,
         |  CAST(sum(drows) AS BIGINT) AS net_rows,
         |  CAST(sum(chg) AS BIGINT) AS n_changes
         |FROM c GROUP BY 1""".stripMargin,
    "ev_blast_radius" ->
      s"""$logCte,
         |r AS (SELECT event_id AS err_event_id, user_id,
         |        seq_us - 300000000 AS lo, seq_us + 300000000 AS hi
         |      FROM log WHERE operation = 'DELETE')
         |SELECT r.err_event_id, count(*) AS n_in_window,
         |  CAST(round(sum(CAST(l.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS window_value
         |FROM r JOIN log l
         |  ON l.user_id = r.user_id AND l.seq_us >= r.lo AND l.seq_us <= r.hi
         |GROUP BY 1""".stripMargin,
    "doc_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term != '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |rk AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf DESC, df.df ASC, tf.term) AS INT) AS rnk
        |       FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, rnk FROM rk WHERE rnk <= 3""".stripMargin,
    "doc_span_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sp AS (SELECT doc_id, CAST(i AS BIGINT) AS span_no,
        |         array_to_string(toks[i*8+1 : i*8+8], ' ') AS span_text
        |       FROM tok, UNNEST(range(0, (len(toks) + 7) // 8)) AS t(i)),
        |k AS (SELECT *, row_number() OVER (PARTITION BY md5(span_text)
        |        ORDER BY doc_id, span_no) AS rn FROM sp),
        |a AS (SELECT doc_id, count(*) AS n_spans,
        |        CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' '
        |          ORDER BY span_no), '') AS clean_text
        |      FROM k GROUP BY 1)
        |SELECT doc_id, n_spans, n_kept,
        |  CAST(length(clean_text) AS BIGINT) AS clean_len,
        |  md5(clean_text) AS clean_digest
        |FROM a""".stripMargin,
    "doc_bm25_topk" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        |       FROM tok, UNNEST(range(1, len(toks))) AS t(i) WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, g, count(*) AS tf FROM bg GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT g, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
        |q AS (SELECT g AS q_term, df FROM dfq
        |      WHERE df BETWEEN 5 AND 50 ORDER BY df DESC, g LIMIT 8),
        |sc AS (SELECT q.q_term, tf.doc_id, tf.tf,
        |         CAST(length(bin(nd.n_docs // q.df)) - 1 AS BIGINT) AS idf_bits,
        |         (nd.total_dl * 10000) // nd.n_docs AS avgdl_e4, dl.dl AS dl
        |       FROM tf JOIN q ON tf.g = q.q_term JOIN dl ON tf.doc_id = dl.doc_id, nd),
        |n2 AS (SELECT q_term, doc_id, tf, idf_bits,
        |         2500 + (7500 * ((dl * 100000000) // avgdl_e4)) // 10000 AS norm_e4 FROM sc),
        |s2 AS (SELECT q_term, doc_id, tf,
        |         CAST(idf_bits * ((tf * 22000 * 10000)
        |           // (tf * 10000 + (12000 * norm_e4) // 10000)) AS BIGINT) AS score_e4
        |       FROM n2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_term
        |        ORDER BY score_e4 DESC, doc_id) AS rn FROM s2)
        |SELECT q_term, doc_id, tf, score_e4, CAST(rn AS INT) AS rnk
        |FROM r WHERE rn <= 5""".stripMargin,
    "doc_len_hist" ->
      """WITH t AS (
        |  SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) // 10 AS bucket
        |  FROM documents)
        |SELECT bucket, bucket * 10 AS bucket_lo, bucket * 10 + 9 AS bucket_hi,
        |  count(*) AS n_docs
        |FROM t GROUP BY bucket""".stripMargin,
    "mm_frame_dedup" ->
      """WITH fr AS (
        |  SELECT doc_id,
        |    unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS frame_no,
        |    text
        |  FROM documents WHERE length(text) > 0),
        |k AS (SELECT doc_id, frame_no,
        |        md5(substr(text, CAST(frame_no * 256 + 1 AS INT), 256)) AS content_key
        |      FROM fr)
        |SELECT content_key, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs,
        |  min(doc_id) AS keep_doc_id, min(frame_no) AS keep_frame_no
        |FROM k GROUP BY content_key HAVING count(*) > 1""".stripMargin,
    "q_mv_rewrite" ->
      """SELECT l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows, avg(l_quantity) AS avg_qty
        |FROM lineitem WHERE l_returnflag <> 'N'
        |GROUP BY l_linestatus""".stripMargin,
    "q_lineage_audit" ->
      """SELECT * FROM (VALUES
        |  ('n_items', '', '', 'literal'),
        |  ('n_name', 'nation', 'n_name', 'direct'),
        |  ('revenue', 'lineitem', 'l_discount', 'aggregate'),
        |  ('revenue', 'lineitem', 'l_extendedprice', 'aggregate'))
        |  AS t(out_col, src_table, src_col, via)""".stripMargin,
    "q_mv_rollup_rewrite" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows, avg(l_quantity) AS avg_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_mv_star_rewrite" ->
      """SELECT n.n_name,
        |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2)
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l, supplier s, nation n
        |WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
        |GROUP BY n.n_name""".stripMargin,
    "q_mv_advisor" ->
      """WITH li AS (SELECT count(*) AS n FROM lineitem),
        |     o AS (SELECT count(*) AS n FROM orders)
        |SELECT 'lineitem' AS tbl, 'l_linestatus,l_returnflag' AS grain,
        |  'l_quantity' AS sum_cols, 2 AS n_queries,
        |  (SELECT n FROM li) AS base_rows,
        |  (SELECT count(*) FROM (SELECT DISTINCT l_linestatus, l_returnflag
        |     FROM lineitem) t) AS mv_rows,
        |  (SELECT n FROM li) * 100 // (SELECT count(*) FROM
        |     (SELECT DISTINCT l_linestatus, l_returnflag FROM lineitem) t)
        |    AS reduction_e2
        |UNION ALL
        |SELECT 'lineitem', 'l_returnflag', 'l_extendedprice', 1,
        |  (SELECT n FROM li),
        |  (SELECT count(*) FROM (SELECT DISTINCT l_returnflag FROM lineitem) t),
        |  (SELECT n FROM li) * 100 //
        |    (SELECT count(*) FROM (SELECT DISTINCT l_returnflag FROM lineitem) t)
        |UNION ALL
        |SELECT 'orders', 'o_orderpriority', '', 1,
        |  (SELECT n FROM o),
        |  (SELECT count(*) FROM (SELECT DISTINCT o_orderpriority FROM orders) t),
        |  (SELECT n FROM o) * 100 //
        |    (SELECT count(*) FROM (SELECT DISTINCT o_orderpriority FROM orders) t)""".stripMargin,
    "mv_incremental_refresh" ->
      """WITH eff AS (
        |  SELECT l_returnflag, l_linestatus, l_quantity
        |  FROM lineitem WHERE l_orderkey % 100 <> 0
        |  UNION ALL
        |  SELECT l_returnflag, l_linestatus, l_quantity + 1
        |  FROM lineitem WHERE l_orderkey % 100 = 50)
        |SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM eff GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_approx_agg_sample" ->
      """WITH k AS (
        |  SELECT l_returnflag, l_quantity,
        |    substr(md5(concat(CAST(l_orderkey AS VARCHAR), '_',
        |      CAST(l_linenumber AS VARCHAR))), 1, 1) AS h
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag,
        |    sum(l_quantity) AS exact_sum,
        |    sum(CASE WHEN h = '0' THEN l_quantity END) AS s_sum,
        |    sum(CASE WHEN h = '0' THEN 1 ELSE 0 END) AS n_sampled,
        |    sum(CASE WHEN h = '0' THEN l_quantity * l_quantity END) AS s_sumsq
        |  FROM k GROUP BY l_returnflag),
        |o AS (
        |  SELECT l_returnflag,
        |    CAST(16 * coalesce(s_sum, 0) AS BIGINT) AS est_sum_qty,
        |    CAST(exact_sum AS BIGINT) AS exact_sum_qty,
        |    CAST(n_sampled AS BIGINT) AS n_sampled,
        |    abs(CAST(16 * coalesce(s_sum, 0) AS BIGINT)
        |      - CAST(exact_sum AS BIGINT)) * 1000000
        |      // CAST(exact_sum AS BIGINT) AS err_ppm,
        |    CAST(floor(2.0 * sqrt(240.0 * coalesce(s_sumsq, 0))) AS BIGINT)
        |      AS ci95_halfwidth
        |  FROM g)
        |SELECT *, CAST(abs(est_sum_qty - exact_sum_qty) <= ci95_halfwidth
        |  AS INT) AS covered FROM o""".stripMargin,
    "q_integrity_orphans" ->
      """SELECT 'orders_customer' AS rel, count(*) AS n_orphans
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey IS NULL
        |UNION ALL
        |SELECT 'lineitem_orders', count(*)
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL
        |UNION ALL
        |SELECT 'lineitem_part', count(*)
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_partkey IS NULL""".stripMargin,
    "q_join_cardinality" ->
      """WITH lp AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
        |rp AS (SELECT o_orderkey AS k, count(*) AS cr FROM orders GROUP BY 1),
        |j AS (SELECT CAST(COALESCE(sum(cl * cr), 0) AS BIGINT) AS predicted_rows,
        |        CAST(COALESCE(max(cl * cr), 0) AS BIGINT) AS max_key_rows,
        |        count(*) AS n_matching_keys
        |      FROM lp JOIN rp USING (k)),
        |ls AS (SELECT count(*) AS distinct_left_keys, CAST(sum(cl) AS BIGINT) AS n_left FROM lp),
        |rs AS (SELECT count(*) AS distinct_right_keys, CAST(sum(cr) AS BIGINT) AS n_right FROM rp)
        |SELECT n_left, n_right, distinct_left_keys, distinct_right_keys,
        |  n_matching_keys, predicted_rows, max_key_rows
        |FROM ls, rs, j""".stripMargin,
    "q_join_advisor" ->
      """WITH lp AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem GROUP BY 1),
        |rp AS (SELECT o_orderkey AS k, count(*) AS cr FROM orders GROUP BY 1),
        |prof AS (SELECT
        |    CAST(COALESCE(sum(cl), 0) AS BIGINT) AS n_left,
        |    CAST(COALESCE(sum(cr), 0) AS BIGINT) AS n_right,
        |    count(cl) AS distinct_left_keys, count(cr) AS distinct_right_keys,
        |    CAST(sum(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_matching_keys,
        |    CAST(COALESCE(sum(cl * cr), 0) AS BIGINT) AS predicted_rows,
        |    CAST(COALESCE(max(cl * cr), 0) AS BIGINT) AS max_key_rows
        |  FROM lp FULL OUTER JOIN rp USING (k)),
        |s AS (SELECT *, CASE WHEN predicted_rows = 0 THEN 0
        |    ELSE max_key_rows * 100 * n_matching_keys // predicted_rows END AS skew_ratio_e2
        |  FROM prof)
        |SELECT n_left, n_right, distinct_left_keys, distinct_right_keys,
        |  n_matching_keys, predicted_rows, max_key_rows, skew_ratio_e2,
        |  CASE WHEN n_right <= 1000000 THEN 'broadcast_right'
        |    WHEN n_left <= 1000000 THEN 'broadcast_left'
        |    WHEN skew_ratio_e2 >= 2000 THEN 'shuffle_salted'
        |    ELSE 'shuffle_hash' END AS strategy
        |FROM s""".stripMargin,
    "ev_winsorize" ->
      """WITH ev AS (SELECT event_type, event_id, round(value, 2) AS value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM ev),
        |t AS (SELECT event_type,
        |    min(CASE WHEN rnk = (n + 99) // 100 THEN value END) AS lo,
        |    min(CASE WHEN rnk = (99 * n + 99) // 100 THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT ev.event_type, round(max(lo), 2) AS lo, round(max(hi), 2) AS hi,
        |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_low,
        |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_high,
        |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS mean_before,
        |  round(CAST(sum(CAST(least(greatest(value, lo), hi) AS DECIMAL(12,2))) AS DOUBLE)
        |    / count(*), 4) AS mean_after
        |FROM ev JOIN t ON ev.event_type = t.event_type GROUP BY 1""".stripMargin,
    "cdc_tombstone_gc" ->
      s"""$logCte,
         |h AS (SELECT max(seq_us) - 604800000000 AS horizon FROM log),
         |lastop AS (SELECT user_id, event_type AS entity_type, operation AS last_op,
         |    seq_us AS last_us
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY seq_us DESC, event_id DESC) AS rn FROM log) x WHERE rn = 1),
         |pu AS (SELECT user_id, count(*) AS chain_rows FROM log GROUP BY 1)
         |SELECT entity_type, count(*) AS n_keys,
         |  CAST(sum(CASE WHEN last_op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
         |  CAST(sum(CASE WHEN last_op = 'DELETE' AND last_us < horizon THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_purgeable,
         |  CAST(sum(CASE WHEN last_op = 'DELETE' AND last_us < horizon
         |    THEN chain_rows ELSE 0 END) AS BIGINT) AS rows_reclaimable
         |FROM lastop JOIN pu USING (user_id), h GROUP BY 1""".stripMargin,
    "ts_gap_fill" ->
      """WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, d0 + g AS day
        |  FROM span, UNNEST(range(0, d1 - d0 + 1)) AS t(g)),
        |j AS (SELECT s.user_id, s.day, d.v FROM spine s
        |  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
        |FROM j""".stripMargin,
    "ts_ewma" -> graft.operators.TimeSeries.ewmaOracle,
    "cdc_scd2_compact" ->
      s"""$logCte,
         |h AS (SELECT user_id, event_id, operation, round(value, 2) AS value,
         |        seq_us AS valid_from_us,
         |        coalesce(lead(seq_us) OVER w, 9223372036854775807) AS valid_to_us,
         |        (lead(seq_us) OVER w IS NULL) AS is_current
         |      FROM log WINDOW w AS (PARTITION BY user_id ORDER BY seq_us, event_id)),
         |f AS (SELECT *, CASE WHEN lag(value) OVER w2 IS DISTINCT FROM value
         |        OR lag(operation) OVER w2 IS DISTINCT FROM operation THEN 1 ELSE 0 END AS chg
         |      FROM h WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)),
         |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY valid_from_us, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM f)
         |SELECT user_id, min(operation) AS operation, min(value) AS value,
         |  min(valid_from_us) AS valid_from_us, max(valid_to_us) AS valid_to_us,
         |  count(*) AS n_collapsed, CAST(max(CAST(is_current AS INT)) AS BOOLEAN) AS is_current
         |FROM r GROUP BY user_id, run""".stripMargin,
    "cdc_snapshot_diff" ->
      s"""$logCte,
         |h AS (SELECT user_id, operation, round(value, 2) AS value,
         |        seq_us AS valid_from_us,
         |        coalesce(lead(seq_us) OVER w, 9223372036854775807) AS valid_to_us
         |      FROM log WINDOW w AS (PARTITION BY user_id ORDER BY seq_us, event_id)),
         |s1 AS (SELECT user_id, value AS v1 FROM h
         |       WHERE valid_from_us <= 1705276800000000 AND valid_to_us > 1705276800000000
         |         AND operation <> 'DELETE'),
         |s2 AS (SELECT user_id, value AS v2 FROM h
         |       WHERE valid_from_us <= 1705881600000000 AND valid_to_us > 1705881600000000
         |         AND operation <> 'DELETE'),
         |j AS (SELECT COALESCE(s1.user_id, s2.user_id) AS user_id, v1, v2
         |      FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
         |SELECT CASE WHEN v1 IS NULL THEN 'added' WHEN v2 IS NULL THEN 'removed'
         |    WHEN v1 = v2 THEN 'unchanged' ELSE 'changed' END AS status,
         |  count(*) AS n_entities,
         |  CAST(round(sum(COALESCE(CAST(v2 AS DECIMAL(12,2)), 0) -
         |    COALESCE(CAST(v1 AS DECIMAL(12,2)), 0)), 2) AS DOUBLE) AS net_value_delta
         |FROM j GROUP BY 1""".stripMargin,
    "ts_dow_adjust" ->
      """WITH dad AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |daw AS (SELECT event_type, (day + 4) % 7 AS dow,
        |    count(*) AS days_dow, sum(cents) AS t_dow
        |  FROM dad GROUP BY 1, 2),
        |dao AS (SELECT event_type, sum(days_dow) AS days_all,
        |    sum(t_dow) AS t_all
        |  FROM daw GROUP BY 1)
        |SELECT d.event_type, d.day, (d.day + 4) % 7 AS dow,
        |  CAST(d.cents AS BIGINT) AS cents,
        |  CASE WHEN w.t_dow = 0 THEN NULL ELSE
        |    CAST(CAST(d.cents AS HUGEINT) * o.t_all * w.days_dow * 10000
        |      // (CAST(o.days_all AS HUGEINT) * w.t_dow) AS BIGINT) END
        |    AS adj_cents_e4
        |FROM dad d
        |JOIN daw w ON w.event_type = d.event_type AND w.dow = (d.day + 4) % 7
        |JOIN dao o ON o.event_type = d.event_type""".stripMargin,
    "doc_corpus_diff" ->
      """WITH cda AS (SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 19 = 4 THEN text || ' legacy' ELSE text END)
        |      AS dig_a
        |  FROM documents WHERE doc_id % 23 <> 5),
        |cdb AS (SELECT doc_id, source, md5(text) AS dig_b FROM documents),
        |cdj AS (SELECT coalesce(b.source, a.source) AS source,
        |    CASE WHEN a.dig_a IS NULL THEN 'added'
        |         WHEN b.dig_b IS NULL THEN 'removed'
        |         WHEN a.dig_a = b.dig_b THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM cda a FULL OUTER JOIN cdb b ON a.doc_id = b.doc_id)
        |SELECT source, status, count(*) AS n_docs
        |FROM cdj GROUP BY 1, 2""".stripMargin,
    "doc_policy_filter" ->
      """WITH pfh AS (SELECT source,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '(all rights reserved|proprietary and confidential)')) AS BIGINT) AS hits_license,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '(badword1|badword2)')) AS BIGINT) AS hits_toxicity,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '(buy now|click here|limited time offer)')) AS BIGINT) AS hits_spam
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN hits_license > 0 OR hits_toxicity > 0
        |    OR hits_spam > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(hits_license) AS BIGINT) AS hits_license,
        |  CAST(sum(hits_toxicity) AS BIGINT) AS hits_toxicity,
        |  CAST(sum(hits_spam) AS BIGINT) AS hits_spam,
        |  CAST(sum(CASE WHEN hits_license > 0 OR hits_toxicity > 0
        |    OR hits_spam > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |    AS dropped_ppm
        |FROM pfh GROUP BY 1""".stripMargin,
    "doc_format_mix" ->
      """WITH fms AS (SELECT source,
        |    CAST(len(regexp_extract_all(text, '[{}();=]')) AS BIGINT) AS n_code,
        |    CAST(len(regexp_extract_all(text, '</?[a-zA-Z]+>')) AS BIGINT) AS n_tags,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |fmc AS (SELECT source,
        |    CASE WHEN n_tags * 1000 >= n_chars THEN 'markup'
        |         WHEN n_code * 100 >= n_chars * 2 THEN 'code'
        |         ELSE 'prose' END AS format_class
        |  FROM fms),
        |fmg AS (SELECT source, format_class, count(*) AS n_docs
        |  FROM fmc GROUP BY 1, 2)
        |SELECT source, format_class, n_docs,
        |  CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY source)
        |    AS BIGINT) AS share_ppm
        |FROM fmg""".stripMargin,
    "graph_degree_hist" ->
      s"""WITH $knnGraphCte,
         |dhu AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b FROM g WHERE src <> dst),
         |dhd AS (SELECT id, count(*) AS degree FROM (
         |    SELECT a AS id FROM dhu UNION ALL SELECT b FROM dhu) GROUP BY 1),
         |dhb AS (SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
         |    count(*) AS n_nodes, min(degree) AS min_degree,
         |    max(degree) AS max_degree
         |  FROM dhd GROUP BY 1)
         |SELECT bucket, n_nodes,
         |  CAST(min_degree AS BIGINT) AS min_degree,
         |  CAST(max_degree AS BIGINT) AS max_degree,
         |  CAST(n_nodes * 1000000 // sum(n_nodes) OVER () AS BIGINT) AS share_ppm
         |FROM dhb""".stripMargin,
    "ts_forecast_pi" ->
      """WITH fpd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |fpr AS (SELECT event_type, day,
        |    cents - lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day) AS r
        |  FROM fpd),
        |fpk AS (SELECT event_type, day, r,
        |    row_number() OVER (PARTITION BY event_type ORDER BY r, day) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n_total
        |  FROM fpr WHERE r IS NOT NULL),
        |fpb AS (SELECT event_type, max(n_total) AS n_resid,
        |    min(CASE WHEN rnk = (10 * n_total + 99) // 100 THEN r END) AS p10_c,
        |    min(CASE WHEN rnk = (90 * n_total + 99) // 100 THEN r END) AS p90_c
        |  FROM fpk GROUP BY 1)
        |SELECT k.event_type, CAST(max(n_resid) AS BIGINT) AS n_resid,
        |  CAST(max(p10_c) AS BIGINT) AS p10_resid_c,
        |  CAST(max(p90_c) AS BIGINT) AS p90_resid_c,
        |  CAST(sum(CASE WHEN r >= p10_c AND r <= p90_c THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_in_band,
        |  CAST(sum(CASE WHEN r >= p10_c AND r <= p90_c THEN 1 ELSE 0 END)
        |    * 10000 // max(n_resid) AS BIGINT) AS coverage_e4
        |FROM fpk k JOIN fpb b ON k.event_type = b.event_type
        |GROUP BY 1""".stripMargin,
    "doc_source_hhi" ->
      """WITH hs AS (SELECT source AS g FROM documents),
        |hl AS (SELECT lang AS g FROM documents),
        |hhs AS (SELECT 'source' AS dimension, count(*) AS n
        |  FROM hs GROUP BY g),
        |hhl AS (SELECT 'lang' AS dimension, count(*) AS n
        |  FROM hl GROUP BY g),
        |hu AS (SELECT * FROM hhs UNION ALL SELECT * FROM hhl)
        |SELECT dimension, count(*) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(n AS HUGEINT) * n) * 1000000
        |    // (sum(CAST(n AS HUGEINT)) * sum(CAST(n AS HUGEINT))) AS BIGINT)
        |    AS hhi_ppm,
        |  CAST(100000000 // (sum(CAST(n AS HUGEINT) * n) * 1000000
        |    // (sum(CAST(n AS HUGEINT)) * sum(CAST(n AS HUGEINT)))) AS BIGINT)
        |    AS effective_n_e2
        |FROM hu GROUP BY 1""".stripMargin,
    "ts_theil_sen" ->
      """WITH tsd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tsp AS (SELECT a.event_type, b.n - a.n AS num, b.day - a.day AS den,
        |    a.day AS d1, b.day AS d2,
        |    CAST(b.n - a.n AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM tsd a JOIN tsd b
        |    ON a.event_type = b.event_type AND b.day > a.day),
        |tsr AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope ASC, num ASC, den ASC, d1 ASC, d2 ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM tsp)
        |SELECT event_type, CAST(cnt AS BIGINT) AS n_pairs,
        |  CAST(num AS BIGINT) AS slope_num, CAST(den AS BIGINT) AS slope_den,
        |  CAST(d1 AS BIGINT) AS x1, CAST(d2 AS BIGINT) AS x2,
        |  CAST(CASE WHEN num < 0 THEN -((-num) * 10000 // den)
        |       ELSE num * 10000 // den END AS BIGINT) AS slope_e4
        |FROM tsr WHERE rn = (cnt + 1) // 2""".stripMargin,
    "ts_trend" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n, min(day) AS d0,
        |    sum(day) AS sx_raw,
        |    sum(CAST(day AS HUGEINT) * day) AS sxx_raw,
        |    sum(CAST(cents AS HUGEINT)) AS sy,
        |    sum(CAST(day AS HUGEINT) * cents) AS sxy_raw,
        |    sum(CAST(cents AS HUGEINT) * cents) AS syy
        |  FROM daily GROUP BY 1),
        |t AS (SELECT event_type, n,
        |    CAST(sx_raw AS HUGEINT) - CAST(n AS HUGEINT) * d0 AS sx,
        |    sxx_raw - 2 * d0 * CAST(sx_raw AS HUGEINT) + CAST(n AS HUGEINT) * d0 * d0 AS sxx,
        |    sxy_raw - d0 * sy AS sxy, sy, syy FROM s),
        |u AS (SELECT event_type, n,
        |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS den,
        |    CAST(n AS HUGEINT) * syy - sy * sy AS deny FROM t)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN den = 0 THEN NULL
        |    WHEN num < 0 THEN CAST(-((-num) * 1000000 // den) AS BIGINT)
        |    ELSE CAST(num * 1000000 // den AS BIGINT) END AS slope_e6,
        |  CASE WHEN den * deny = 0 THEN NULL
        |    ELSE CAST(num * num * 10000 // (den * deny) AS BIGINT) END AS r2_e4
        |FROM u""".stripMargin,
    "ts_seasonality" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT event_type, (day + 4) % 7 AS dow, count(*) AS days_dow,
        |    CAST(sum(cents) AS BIGINT) AS t_dow
        |  FROM daily GROUP BY 1, 2),
        |ov AS (SELECT event_type, count(*) AS days_all,
        |    CAST(sum(cents) AS BIGINT) AS t_all
        |  FROM daily GROUP BY 1)
        |SELECT event_type, dow, days_dow, t_dow,
        |  CASE WHEN t_all = 0 THEN NULL
        |    ELSE CAST(CAST(t_dow AS HUGEINT) * days_all * 10000 //
        |      (CAST(days_dow AS HUGEINT) * t_all) AS BIGINT) END AS ratio_e4
        |FROM dw JOIN ov USING (event_type)""".stripMargin,
    "q_corr_matrix" -> graft.operators.Tpch.corrMatrixOracle,
    "ts_acf" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag_d),
        |x AS (SELECT d.event_type, l.lag_d, d.day + l.lag_d AS day_y, d.cents AS cx
        |      FROM daily d CROSS JOIN lags l),
        |p AS (SELECT x.event_type, x.lag_d, x.cx, y.cents AS cy
        |      FROM x JOIN daily y ON x.event_type = y.event_type AND x.day_y = y.day),
        |s AS (SELECT event_type, lag_d, count(*) AS n_pairs,
        |    sum(CAST(cx AS HUGEINT)) AS sx, sum(CAST(cy AS HUGEINT)) AS sy,
        |    sum(CAST(cx AS HUGEINT) * cx) AS sxx, sum(CAST(cy AS HUGEINT) * cy) AS syy,
        |    sum(CAST(cx AS HUGEINT) * cy) AS sxy
        |  FROM p GROUP BY 1, 2),
        |t AS (SELECT event_type, lag_d, n_pairs,
        |    CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS denx,
        |    CAST(n_pairs AS HUGEINT) * syy - sy * sy AS deny FROM s)
        |SELECT event_type, lag_d, n_pairs,
        |  CASE WHEN denx <= 0 OR deny <= 0 THEN NULL
        |    ELSE round(CAST(num AS DOUBLE) / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 4)
        |    END AS rho
        |FROM t""".stripMargin,
    "ts_cusum" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |mu AS (SELECT event_type,
        |    CAST(round(quantile_cont(cents, 0.5)) AS BIGINT) AS target_c
        |  FROM daily GROUP BY 1),
        |dv AS (SELECT daily.event_type, day, cents, target_c,
        |    CAST(cents - target_c AS BIGINT) AS dev
        |  FROM daily JOIN mu USING (event_type)),
        |md AS (SELECT event_type,
        |    CAST(round(quantile_cont(abs(dev), 0.5)) AS BIGINT) AS mad_c
        |  FROM dv GROUP BY 1),
        |c AS (SELECT dv.event_type, day, cents, target_c, dev, mad_c,
        |    sum(dev - mad_c // 2) OVER w AS cu,
        |    sum(-dev - mad_c // 2) OVER w AS cd
        |  FROM dv JOIN md USING (event_type)
        |  WINDOW w AS (PARTITION BY dv.event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT event_type, day, cents, target_c, dev, mad_c,
        |    CAST(cu - least(min(cu) OVER w, 0) AS BIGINT) AS cusum_up,
        |    CAST(cd - least(min(cd) OVER w, 0) AS BIGINT) AS cusum_dn
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, cents, target_c, dev, mad_c, cusum_up, cusum_dn,
        |  CAST(CASE WHEN mad_c > 0 AND (cusum_up > 5 * mad_c OR cusum_dn > 5 * mad_c)
        |    THEN 1 ELSE 0 END AS BIGINT) AS alarm
        |FROM f""".stripMargin,
    "ts_changepoint" -> TimeSeries.changepointsOracle(),
    "cdc_watermark_impact" -> Events.watermarkImpactOracle,
    "ev_session_errors" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s0 AS (SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ni
        |  FROM ev WHERE event_type <> 'error'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s1 AS (SELECT user_id, ts_us, sum(ni) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS island FROM s0),
        |ses AS (SELECT user_id, min(ts_us) AS s_lo,
        |    max(ts_us) + 1800000000 AS s_hi,
        |    count(*) AS s_events FROM s1 GROUP BY user_id, island),
        |e0 AS (SELECT user_id, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 300000000 THEN 1 ELSE 0 END AS ni
        |  FROM ev WHERE event_type = 'error'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |e1 AS (SELECT user_id, ts_us, sum(ni) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS island FROM e0),
        |bur AS (SELECT user_id, min(ts_us) AS b_lo,
        |    max(ts_us) + 300000000 AS b_hi,
        |    count(*) AS b_errors FROM e1 GROUP BY user_id, island)
        |SELECT ses.user_id, s_lo, s_hi, s_events, b_lo, b_hi, b_errors,
        |  least(s_hi, b_hi) - greatest(s_lo, b_lo) AS overlap_us
        |FROM ses JOIN bur ON ses.user_id = bur.user_id
        |  AND s_lo <= b_hi AND b_lo <= s_hi""".stripMargin,
    "doc_bigram_surprise" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b0 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |         i -> toks[i] || chr(1) || toks[i+1])) AS bg FROM t),
        |bg AS (SELECT doc_id, bg FROM b0
        |       WHERE split_part(bg, chr(1), 1) <> ''
        |         AND split_part(bg, chr(1), 2) <> ''),
        |c12 AS (SELECT bg, count(*) AS c12,
        |        split_part(bg, chr(1), 1) AS w1 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |s AS (SELECT bg, CAST(length(bin(c1 // c12)) - 1 AS BIGINT) AS surprise_lg2
        |      FROM c12 JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(surprise_lg2) AS BIGINT) AS sum_surprise,
        |  CAST(sum(surprise_lg2) * 10000 // count(*) AS BIGINT) AS mean_surprise_e4
        |FROM bg JOIN s USING (bg) GROUP BY 1""".stripMargin,
    "ev_path_trigrams" ->
      """WITH l AS (SELECT user_id, event_type AS t3,
        |    lag(event_type, 2) OVER w AS t1, lag(event_type, 1) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |tri AS (SELECT t1, t2, t3, count(*) AS n FROM l
        |        WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
        |t AS (SELECT sum(n) AS n_total FROM tri)
        |SELECT t1, t2, t3, n,
        |  CAST(n * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM tri CROSS JOIN t""".stripMargin,
    "doc_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |       WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tf.term, tf.tf, df.df,
        |    CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS idf_bits,
        |    tf.tf * CAST(length(bin(n_docs // df)) - 1 AS BIGINT) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rnk FROM s)
        |SELECT doc_id, term, tf, df, idf_bits, score, rnk
        |FROM r WHERE rnk <= 3""".stripMargin,
    "ev_time_weighted" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT user_id, cents,
        |    lead(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      - ts_us AS gap_us FROM e),
        |a AS (SELECT user_id, count(*) AS n_intervals,
        |    CAST(sum(gap_us) AS BIGINT) AS held_us,
        |    sum(CAST(cents AS HUGEINT) * gap_us) AS num
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_intervals, held_us,
        |  CASE WHEN held_us = 0 THEN NULL ELSE
        |    round(CAST(num AS DOUBLE) / CAST(held_us AS DOUBLE) / 100.0, 4)
        |    END AS twa_value
        |FROM a""".stripMargin,
    "ev_bot_regularity" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id,
        |    ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS gap_us FROM e),
        |g2 AS (SELECT user_id, gap_us FROM g WHERE gap_us IS NOT NULL),
        |med AS (SELECT user_id, count(*) AS n_gaps,
        |    round(quantile_cont(gap_us, 0.5), 4) AS med_us FROM g2 GROUP BY 1),
        |dev AS (SELECT g2.user_id, abs(gap_us - med_us) AS absdev
        |        FROM g2 JOIN med USING (user_id)),
        |mad AS (SELECT user_id, round(quantile_cont(absdev, 0.5), 4) AS mad_us
        |        FROM dev GROUP BY 1)
        |SELECT med.user_id, n_gaps, med_us, mad_us,
        |  CAST(CASE WHEN n_gaps >= 20 AND mad_us * 20.0 <= med_us
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_regular,
        |  CAST(CASE WHEN med_us < 1000000.0 THEN 1 ELSE 0 END AS BIGINT) AS is_rapid
        |FROM med JOIN mad USING (user_id)""".stripMargin,
    "q_benford_audit" ->
      graft.operators.Profile.benfordOracle(Seq(
        "lineitem" -> "l_extendedprice", "orders" -> "o_totalprice")),
    "ev_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |d AS (SELECT day, count(*) AS active_users,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |      AS new_users
        |  FROM ud JOIN f USING (user_id) GROUP BY 1)
        |SELECT day, active_users, new_users,
        |  active_users - new_users AS returning_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d""".stripMargin,
    "q_skyline_parts" ->
      """WITH pts AS (SELECT p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS size FROM part),
        |g AS (SELECT price_c, min(size) AS msize FROM pts GROUP BY 1),
        |r AS (SELECT price_c, msize, min(msize) OVER (ORDER BY price_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmin
        |  FROM g)
        |SELECT p.p_partkey, p.price_c, p.size
        |FROM pts p JOIN r USING (price_c)
        |WHERE p.size = r.msize AND (prevmin IS NULL OR p.size < prevmin)""".stripMargin,
    "ev_lorenz_gini" ->
      """WITH u AS (SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, user_id) AS rnk,
        |    count(*) OVER () AS n FROM u),
        |s AS (SELECT max(n) AS n_users, sum(CAST(cents AS HUGEINT)) AS sx,
        |    sum(CAST(rnk AS HUGEINT) * cents) AS six FROM r)
        |SELECT n_users, CAST(sx AS BIGINT) AS total_cents,
        |  CASE WHEN n_users * sx = 0 THEN NULL
        |    ELSE CAST((2 * six - (CAST(n_users AS HUGEINT) + 1) * sx) * 1000000
        |      // (CAST(n_users AS HUGEINT) * sx) AS BIGINT) END AS gini_e6
        |FROM s""".stripMargin,
    "doc_zipf_audit" ->
      """WITH tf AS (SELECT term, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> '' GROUP BY 1),
        |t AS (SELECT sum(freq) AS n_tokens FROM tf),
        |r AS (SELECT term, freq,
        |    row_number() OVER (ORDER BY -freq, term) AS rnk FROM tf)
        |SELECT rnk AS rank, term, freq, rnk * freq AS zipf_c,
        |  CAST(freq * 1000000 // n_tokens AS BIGINT) AS share_ppm
        |FROM r CROSS JOIN t WHERE rnk <= 50""".stripMargin,
    // lang-drift replay: full grid incl. zero cells, exact HUGEINT
    // numerators, identical double division text
    "doc_lang_drift" ->
      """WITH ldc AS MATERIALIZED (SELECT source, lang, count(*) AS obs
        |  FROM documents GROUP BY 1, 2),
        |bys AS (SELECT source, sum(obs) AS n_s FROM ldc GROUP BY 1),
        |byl AS (SELECT lang, sum(obs) AS n_l FROM ldc GROUP BY 1),
        |tot AS (SELECT sum(obs) AS n_tot FROM ldc),
        |dom AS (SELECT source, lang AS dominant_lang, obs AS dom_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source ORDER BY obs DESC, lang) AS rn
        |    FROM ldc) WHERE rn = 1),
        |grid AS (SELECT s.source, l.lang, s.n_s, l.n_l, coalesce(c.obs, 0) AS obs
        |  FROM bys s CROSS JOIN byl l
        |  LEFT JOIN ldc c ON c.source = s.source AND c.lang = l.lang),
        |terms AS (SELECT source, n_s,
        |    CAST(CAST(obs AS HUGEINT) * n_tot - CAST(n_s AS HUGEINT) * n_l AS DOUBLE)
        |    * CAST(CAST(obs AS HUGEINT) * n_tot - CAST(n_s AS HUGEINT) * n_l AS DOUBLE)
        |    / (CAST(n_tot AS DOUBLE) * n_s * n_l) AS term
        |  FROM grid, tot),
        |lda AS (SELECT source, max(n_s) AS n_docs, count(*) AS n_langs,
        |    sum(term) AS chi2 FROM terms GROUP BY 1)
        |SELECT a.source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_langs AS BIGINT) AS n_langs,
        |  CAST(floor(chi2 * 10000 + 0.5) AS BIGINT) AS chi2_e4,
        |  d.dominant_lang, CAST(dom_n * 10000 // n_docs AS BIGINT) AS dom_share_bp
        |FROM lda a JOIN dom d ON d.source = a.source""".stripMargin,
    // readability replay: identical word/sentence/vowel-group counting
    // via list lambdas, all-integer fixed-point scores (positive-operand
    // divisions so DIV and // agree)
    "doc_readability" ->
      """WITH rr0 AS (SELECT doc_id, lower(text) AS t FROM documents),
        |rr1 AS (SELECT doc_id,
        |    len(list_filter(string_split(t, ' '), w -> w <> '')) AS n_words_raw,
        |    len(regexp_extract_all(t, '[.!?]+')) AS n_sent_raw,
        |    coalesce(list_sum(list_transform(list_filter(string_split(t, ' '), w -> w <> ''),
        |      w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))), 0) AS n_syllables
        |  FROM rr0),
        |rr2 AS (SELECT doc_id, greatest(1, n_words_raw) AS n_words,
        |    greatest(1, n_sent_raw) AS n_sentences, n_syllables FROM rr1),
        |rr3 AS (SELECT doc_id, n_words, n_sentences, n_syllables,
        |    206835 - (1015 * n_words) // n_sentences - (84600 * n_syllables) // n_words AS fre_e3,
        |    (39 * n_words) // n_sentences + (1180 * n_syllables) // n_words - 1559 AS fk_grade_e2
        |  FROM rr2)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  CAST(fre_e3 AS BIGINT) AS fre_e3,
        |  CAST(fk_grade_e2 AS BIGINT) AS fk_grade_e2,
        |  CASE WHEN fre_e3 >= 90000 THEN 'very_easy'
        |       WHEN fre_e3 >= 60000 THEN 'standard'
        |       WHEN fre_e3 >= 30000 THEN 'difficult'
        |       ELSE 'very_confusing' END AS band
        |FROM rr3""".stripMargin,
    // kappa replay: both flags are the existing row-local gate arithmetic;
    // kappa from exact integer cells via identical double expression text
    // (integer DIV truncation differs cross-engine on NEGATIVE kappa)
    "doc_quality_agreement" ->
      """WITH qa AS (
        |  SELECT CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' in ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' for ', ''))) // 5
        |      AS BIGINT) AS stop_hits,
        |    CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) // 3 AS the_cnt
        |  FROM documents),
        |fl AS (SELECT
        |    CASE WHEN n_tokens >= 40 AND n_tokens <= 100000
        |      AND (n_chars - n_tokens + 1) * 10000 // n_tokens >= 30000
        |      AND (n_chars - n_tokens + 1) * 10000 // n_tokens <= 100000
        |      AND stop_hits * 10000 // n_tokens >= 200 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN least(100, n_tokens) * greatest(0, n_tokens - the_cnt) * 100 // n_tokens >= 5000
        |      THEN 1 ELSE 0 END AS b
        |  FROM qa),
        |c AS (SELECT sum(a * b) AS n11, sum(a * (1 - b)) AS n10,
        |    sum((1 - a) * b) AS n01, sum((1 - a) * (1 - b)) AS n00 FROM fl)
        |SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
        |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
        |  CAST(n11 + n10 + n01 + n00 AS BIGINT) AS n_docs,
        |  CAST((n11 + n00) * 10000 // (n11 + n10 + n01 + n00) AS BIGINT) AS po_e4,
        |  CASE WHEN CAST(n11 + n10 + n01 + n00 AS DOUBLE) * (n11 + n10 + n01 + n00)
        |       - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) = 0
        |     THEN NULL
        |     ELSE CAST(floor((CAST(n11 + n00 AS DOUBLE) * (n11 + n10 + n01 + n00)
        |       - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
        |      / (CAST(n11 + n10 + n01 + n00 AS DOUBLE) * (n11 + n10 + n01 + n00)
        |       - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
        |      * 1000000 + 0.5) AS BIGINT) END AS kappa_ppm
        |FROM c""".stripMargin,
    // count-min replay: md5-nibble bucket hashing (the weighted-sample
    // trick) rebuilds the identical 4x1024 integer grid cell-for-cell
    "doc_countmin_freq" -> {
      def hex24(h: String): String =
        (0 until 6).map(i =>
          s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1L << (4 * (5 - i))}")
          .mkString("(", " + ", ")")
      def bkt(r: Int): String =
        s"${hex24(s"md5('cm${r}_' || term)")} % 1024"
      s"""WITH cmt AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |cmt2 AS (SELECT term FROM cmt WHERE term <> ''),
         |cells AS MATERIALIZED (SELECT r, bucket, count(*) AS cnt FROM (
         |${(0 until 4).map(r => s"  SELECT $r AS r, ${bkt(r)} AS bucket FROM cmt2")
             .mkString("\n  UNION ALL\n")}
         |) GROUP BY 1, 2),
         |cmexact AS MATERIALIZED (SELECT term, count(*) AS freq FROM cmt2
         |  GROUP BY 1 ORDER BY freq DESC, term LIMIT 50),
         |cmprobe AS (
         |${(0 until 4).map(r => s"  SELECT term, freq, $r AS r, ${bkt(r)} AS bucket FROM cmexact")
             .mkString("\n  UNION ALL\n")}
         |)
         |SELECT term, CAST(freq AS BIGINT) AS freq,
         |  CAST(min(cnt) AS BIGINT) AS cm_est,
         |  CAST(min(cnt) - freq AS BIGINT) AS overestimate
         |FROM cmprobe JOIN cells USING (r, bucket)
         |GROUP BY term, freq""".stripMargin
    },
    // mojibake replay: identical concat(chr(...))-built char class (the
    // escape-free construction both engines parse identically)
    "doc_mojibake_audit" ->
      """WITH md AS (SELECT source, CAST(length(text) AS BIGINT) AS nch,
        |    CAST(length(regexp_replace(text, concat('[', chr(9), chr(10), chr(13), ' -~]'), '', 'g')) AS BIGINT) AS n_bad,
        |    CAST(CASE WHEN contains(text, '�') THEN 1 ELSE 0 END AS BIGINT) AS has_repl
        |  FROM documents),
        |mf AS (SELECT *, CAST(CASE WHEN n_bad * 10000 > nch * 100 THEN 1 ELSE 0 END AS BIGINT) AS flagged FROM md)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(flagged) AS BIGINT) AS n_flagged,
        |  CAST(sum(has_repl) AS BIGINT) AS n_repl_docs,
        |  CAST(sum(flagged) * 10000 // count(*) AS BIGINT) AS flag_bp,
        |  CAST(sum(n_bad) * 1000000 // sum(nch) AS BIGINT) AS bad_ppm
        |FROM mf GROUP BY source""".stripMargin,
    // datasheet replay: every value is exact integer arithmetic; the
    // quantiles come from the length histogram via cross-multiplication
    "doc_datasheet" ->
      """WITH dd AS (SELECT lang, source, CAST(length(text) AS BIGINT) AS nch,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ntok,
        |    md5(text) AS dg FROM documents),
        |base AS (SELECT count(*) AS n, sum(nch) AS chars, sum(ntok) AS toks FROM dd),
        |hist AS (SELECT nch, count(*) AS c FROM dd GROUP BY 1),
        |cum AS (SELECT nch, sum(c) OVER (ORDER BY nch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
        |ded AS (SELECT count(DISTINCT dg) AS dist, count(*) AS n FROM dd)
        |SELECT section, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT 'corpus' AS section, 'n_docs' AS metric, CAST(n AS HUGEINT) AS value FROM base
        |  UNION ALL SELECT 'corpus', 'total_chars', chars FROM base
        |  UNION ALL SELECT 'corpus', 'total_tokens', toks FROM base
        |  UNION ALL SELECT 'corpus', 'avg_chars_e2', chars * 100 // n FROM base
        |  UNION ALL SELECT 'lang', lang, count(*) FROM dd GROUP BY lang
        |  UNION ALL SELECT 'source', source, count(*) FROM dd GROUP BY source
        |  UNION ALL SELECT 'dedup', 'distinct_texts', dist FROM ded
        |  UNION ALL SELECT 'dedup', 'dup_docs', n - dist FROM ded
        |  UNION ALL SELECT 'length', 'p50_chars',
        |    min(CASE WHEN cum * 2 >= n THEN nch END) FROM cum, base
        |  UNION ALL SELECT 'length', 'p90_chars',
        |    min(CASE WHEN cum * 10 >= n * 9 THEN nch END) FROM cum, base
        |)""".stripMargin,
    "doc_vocab_growth" ->
      """WITH d AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rnk,
        |    count(*) OVER () AS n FROM documents),
        |e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents),
        |fr AS (SELECT term, min(rnk) AS first_rank, max(n) AS n
        |       FROM e JOIN d USING (doc_id) WHERE term <> '' GROUP BY 1),
        |dec AS (SELECT (first_rank * 10 + n - 1) // n AS decile,
        |    count(*) AS new_terms, max(n) AS n FROM fr GROUP BY 1)
        |SELECT decile, n * decile // 10 AS n_docs, new_terms,
        |  CAST(sum(new_terms) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab_size
        |FROM dec""".stripMargin,
    "q_fd_audit" ->
      Seq(
        graft.operators.Profile.fdOracleLeg("lineitem", "l_orderkey", "l_returnflag"),
        graft.operators.Profile.fdOracleLeg("lineitem", "l_partkey", "l_suppkey"),
        graft.operators.Profile.fdOracleLeg("orders", "o_custkey", "o_orderpriority"),
        graft.operators.Profile.fdOracleLeg("documents", "source", "lang"),
        graft.operators.Profile.fdOracleLeg("documents", "text", "n_chars"))
        .mkString("\nUNION ALL\n"),
    "ev_rfm_segments" ->
      """WITH usr AS (SELECT user_id,
        |    max(epoch_us(ts) // 86400000000) AS r_day, count(*) AS f_cnt,
        |    CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS m_val
        |  FROM events GROUP BY 1),
        |q AS (SELECT user_id,
        |    CAST(ntile(5) OVER (ORDER BY r_day, user_id) AS BIGINT) AS r_q,
        |    CAST(ntile(5) OVER (ORDER BY f_cnt, user_id) AS BIGINT) AS f_q,
        |    CAST(ntile(5) OVER (ORDER BY m_val, user_id) AS BIGINT) AS m_q
        |  FROM usr)
        |SELECT user_id, r_q, f_q, m_q,
        |  CAST(r_q AS VARCHAR) || '-' || CAST(f_q AS VARCHAR) || '-' ||
        |    CAST(m_q AS VARCHAR) AS rfm
        |FROM q""".stripMargin,
    "ev_drift_tv" ->
      """WITH b AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(least(greatest(floor(value / 50.0), 0), 19) AS BIGINT) AS bucket
        |  FROM events),
        |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM b),
        |e AS (SELECT event_type, CASE WHEN day < mid THEN 1 ELSE 2 END AS era, bucket
        |  FROM b, m),
        |cells AS (SELECT event_type, era, bucket, count(*) AS c FROM e GROUP BY 1, 2, 3),
        |tot AS (SELECT event_type, era, sum(c) AS n FROM cells GROUP BY 1, 2),
        |pj AS (SELECT event_type, bucket, COALESCE(p1.c, 0) AS c1, COALESCE(p2.c, 0) AS c2
        |  FROM (SELECT event_type, bucket, c FROM cells WHERE era = 1) p1
        |  FULL OUTER JOIN (SELECT event_type, bucket, c FROM cells WHERE era = 2) p2
        |  USING (event_type, bucket)),
        |g AS (SELECT pj.event_type, max(n1.n) AS n1, max(n2.n) AS n2,
        |    sum(abs(c1 * n2.n - c2 * n1.n)) AS num
        |  FROM pj
        |  JOIN (SELECT event_type, n FROM tot WHERE era = 1) n1 USING (event_type)
        |  JOIN (SELECT event_type, n FROM tot WHERE era = 2) n2 USING (event_type)
        |  GROUP BY 1)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(num * 10000 // (2 * n1 * n2) AS BIGINT) AS tvd_e4
        |FROM g""".stripMargin,
    "doc_write_shards" ->
      """WITH s AS (SELECT doc_id, md5(text) AS digest,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS b FROM documents),
        |c AS (SELECT *, sum(b) OVER (ORDER BY digest, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM s)
        |SELECT CAST((cum - b) // 32768 AS BIGINT) AS shard_id, count(*) AS n_docs,
        |  CAST(sum(b) AS BIGINT) AS shard_bytes, min(digest) AS first_digest
        |FROM c GROUP BY 1""".stripMargin,
    "dim_surrogate_keys" ->
      """SELECT c_custkey, c_name,
        |  CAST(row_number() OVER (ORDER BY md5(c_name), c_name) AS BIGINT) AS sk
        |FROM customer""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS (
        |  (o_orderstatus, o_orderpriority),
        |  (o_orderstatus),
        |  (year(o_orderdate) * 100 + month(o_orderdate)))""".stripMargin,
    "ev_attribution_linear" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |pw AS (SELECT *, sum(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS n_touch
        |  FROM ev),
        |p AS (SELECT user_id, event_id AS p_id, ts_us AS p_ts, cents, n_touch
        |  FROM pw WHERE event_type = 'purchase' AND n_touch > 0),
        |t AS (SELECT user_id, event_id AS t_id, event_type AS touch_type, ts_us AS t_ts
        |  FROM ev WHERE event_type IN ('view','click')),
        |j AS (SELECT * FROM p JOIN t USING (user_id)
        |  WHERE t_ts >= p_ts - 604800000000 AND t_ts <= p_ts),
        |c AS (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn
        |  FROM j)
        |SELECT touch_type, count(DISTINCT t_id) AS n_touches_credited,
        |  count(*) AS n_credits,
        |  round(CAST(sum(cents // n_touch +
        |    CASE WHEN rn = 1 THEN cents % n_touch ELSE 0 END) AS DOUBLE) / 100.0, 2)
        |    AS attributed_value
        |FROM c GROUP BY 1""".stripMargin,
    "ev_attribution_compare" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |pw AS (SELECT *, sum(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS n_touch
        |  FROM ev),
        |p AS (SELECT user_id, event_id AS p_id, ts_us AS p_ts, cents, n_touch
        |  FROM pw WHERE event_type = 'purchase' AND n_touch > 0),
        |t AS (SELECT user_id, event_id AS t_id, event_type AS touch_type, ts_us AS t_ts
        |  FROM ev WHERE event_type IN ('view','click')),
        |j AS (SELECT * FROM p JOIN t USING (user_id)
        |  WHERE t_ts >= p_ts - 604800000000 AND t_ts <= p_ts),
        |c AS (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn
        |  FROM j)
        |SELECT touch_type,
        |  CAST(sum(cents // n_touch + CASE WHEN rn = 1 THEN cents % n_touch ELSE 0 END) AS BIGINT) AS linear_cents,
        |  CAST(sum(CASE WHEN rn = 1 THEN cents ELSE 0 END) AS BIGINT) AS first_cents,
        |  CAST(sum(CASE WHEN rn = n_touch THEN cents ELSE 0 END) AS BIGINT) AS last_cents,
        |  CAST(sum(CASE WHEN n_touch = 1 THEN cents
        |    WHEN n_touch = 2 THEN CASE WHEN rn = 1 THEN cents - cents // 2 ELSE cents // 2 END
        |    ELSE CASE WHEN rn = 1 THEN cents * 40 // 100 + (cents - 2 * (cents * 40 // 100) - (n_touch - 2) * ((cents - 2 * (cents * 40 // 100)) // (n_touch - 2)))
        |    WHEN rn = n_touch THEN cents * 40 // 100
        |    ELSE (cents - 2 * (cents * 40 // 100)) // (n_touch - 2) END END) AS BIGINT) AS position_cents
        |FROM c GROUP BY 1""".stripMargin,
    "ev_drift_ks" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM c),
        |cells AS (SELECT event_type, v,
        |    sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS c2
        |  FROM c, m GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |    sum(c1) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        |    sum(c1) OVER (PARTITION BY event_type) AS n1,
        |    sum(c2) OVER (PARTITION BY event_type) AS n2
        |  FROM cells)
        |SELECT event_type, CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) * 10000 // (max(n1) * max(n2)) AS BIGINT) AS ks_e4
        |FROM cum GROUP BY 1 HAVING max(n1) > 0 AND max(n2) > 0""".stripMargin,
    "cdc_crypto_shred" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN user_id % 13 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_readable,
        |  CAST(sum(CASE WHEN user_id % 13 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_shredded,
        |  CAST(round(sum(CASE WHEN user_id % 13 <> 3
        |    THEN CAST(value AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS readable_value
        |FROM events GROUP BY 1""".stripMargin,
    "ev_ab_test" ->
      """WITH arms AS (SELECT user_id % 2 AS arm, count(DISTINCT user_id) AS n_users,
        |    count(DISTINCT CASE WHEN event_type = 'purchase' AND value >= 80
        |      THEN user_id END) AS n_converted
        |  FROM events GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN arm = 0 THEN n_users END) AS n_a,
        |    max(CASE WHEN arm = 0 THEN n_converted END) AS conv_a,
        |    max(CASE WHEN arm = 1 THEN n_users END) AS n_b,
        |    max(CASE WHEN arm = 1 THEN n_converted END) AS conv_b
        |  FROM arms),
        |z AS (SELECT n_a, conv_a, n_b, conv_b,
        |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pooled
        |  FROM w)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  conv_a * 1000000 // n_a AS conv_a_ppm,
        |  conv_b * 1000000 // n_b AS conv_b_ppm,
        |  CASE WHEN sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b)) = 0 THEN NULL
        |    ELSE round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
        |      sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b)), 4) END AS z_score
        |FROM z""".stripMargin,
    // sequential monitor replay: exact integer cents/cents² cumsums, then
    // float stats via the IDENTICAL expression text as the Spark side
    "ev_sequential_ab" ->
      """WITH pe AS (SELECT user_id % 2 AS arm, epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
        |  FROM events WHERE event_type = 'purchase'),
        |daily AS (SELECT day, arm, count(*) AS n, sum(v_c) AS s1,
        |    sum(CAST(v_c AS HUGEINT) * v_c) AS s2 FROM pe GROUP BY 1, 2),
        |grid AS (SELECT d.day, a.arm, coalesce(dl.n, 0) AS n,
        |    coalesce(dl.s1, 0) AS s1, coalesce(dl.s2, 0) AS s2
        |  FROM (SELECT DISTINCT day FROM pe) d
        |  CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a
        |  LEFT JOIN daily dl ON dl.day = d.day AND dl.arm = a.arm),
        |cum AS (SELECT day, arm,
        |    sum(n) OVER (PARTITION BY arm ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |    sum(s1) OVER (PARTITION BY arm ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs1,
        |    sum(s2) OVER (PARTITION BY arm ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs2
        |  FROM grid),
        |wide AS (SELECT day,
        |    max(CASE WHEN arm = 0 THEN cn END) AS cn_a,
        |    max(CASE WHEN arm = 0 THEN cs1 END) AS cs1_a,
        |    max(CASE WHEN arm = 0 THEN cs2 END) AS cs2_a,
        |    max(CASE WHEN arm = 1 THEN cn END) AS cn_b,
        |    max(CASE WHEN arm = 1 THEN cs1 END) AS cs1_b,
        |    max(CASE WHEN arm = 1 THEN cs2 END) AS cs2_b
        |  FROM cum GROUP BY day),
        |st AS (SELECT day, cn_a, cn_b,
        |    CAST(cs1_a AS DOUBLE) / cn_a / 100.0 AS mean_a,
        |    CAST(cs1_b AS DOUBLE) / cn_b / 100.0 AS mean_b,
        |    (CAST(cs2_a AS DOUBLE) / 10000.0 - cn_a * (CAST(cs1_a AS DOUBLE) / cn_a / 100.0) * (CAST(cs1_a AS DOUBLE) / cn_a / 100.0)) / (cn_a - 1) AS var_a,
        |    (CAST(cs2_b AS DOUBLE) / 10000.0 - cn_b * (CAST(cs1_b AS DOUBLE) / cn_b / 100.0) * (CAST(cs1_b AS DOUBLE) / cn_b / 100.0)) / (cn_b - 1) AS var_b
        |  FROM wide),
        |lr AS (SELECT day, cn_a, cn_b, mean_a, mean_b,
        |    CASE WHEN cn_a >= 2 AND cn_b >= 2
        |        AND var_a / cn_a + var_b / cn_b > 0 THEN
        |      0.5 * ln((var_a / cn_a + var_b / cn_b) / (var_a / cn_a + var_b / cn_b + 100.0))
        |      + (mean_b - mean_a) * (mean_b - mean_a) * 100.0
        |        / (2.0 * (var_a / cn_a + var_b / cn_b) * (var_a / cn_a + var_b / cn_b + 100.0))
        |      END AS llr
        |  FROM st),
        |mx AS (SELECT *, max(llr) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_llr FROM lr)
        |SELECT day, CAST(cn_a AS BIGINT) AS n_a, CAST(cn_b AS BIGINT) AS n_b,
        |  round(mean_a, 4) AS mean_a_r, round(mean_b, 4) AS mean_b_r,
        |  round(llr, 4) AS llr_r,
        |  round(least(1.0, exp(-max_llr)), 4) AS pval_r,
        |  CAST(CASE WHEN max_llr > ln(20.0) THEN 1 ELSE 0 END AS BIGINT) AS signif
        |FROM mx""".stripMargin,
    // mix-shift replay: same midpoint split, exact cents cells, effect
    // terms via identical double expression text
    "ev_revenue_decomp" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c FROM events),
        |mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS t_mid FROM ev),
        |cells AS (SELECT event_type,
        |    sum(CASE WHEN ts_us <= t_mid THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN ts_us <= t_mid THEN v_c ELSE 0 END) AS rev_a_c,
        |    sum(CASE WHEN ts_us > t_mid THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN ts_us > t_mid THEN v_c ELSE 0 END) AS rev_b_c
        |  FROM ev, mid GROUP BY 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(rev_a_c AS BIGINT) AS rev_a_c, CAST(rev_b_c AS BIGINT) AS rev_b_c,
        |  CAST(rev_b_c - rev_a_c AS BIGINT) AS delta_c,
        |  CAST(CASE WHEN n_a = 0 THEN rev_b_c
        |    ELSE CAST(floor((n_b - n_a) * (CAST(rev_a_c AS DOUBLE) / n_a) + 0.5) AS BIGINT)
        |    END AS BIGINT) AS volume_eff_c,
        |  CAST(CASE WHEN n_a = 0 THEN 0 WHEN n_b = 0 THEN 0
        |    ELSE CAST(floor(n_b * (CAST(rev_b_c AS DOUBLE) / n_b - CAST(rev_a_c AS DOUBLE) / n_a) + 0.5) AS BIGINT)
        |    END AS BIGINT) AS rate_eff_c
        |FROM cells""".stripMargin,
    "ev_power_mde" ->
      """WITH pe AS (SELECT user_id % 2 AS arm,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
        |  FROM events WHERE event_type = 'purchase'),
        |arms AS (SELECT arm, count(*) AS n, sum(v_c) AS s1,
        |    sum(CAST(v_c AS HUGEINT) * v_c) AS s2 FROM pe GROUP BY 1),
        |wide AS (SELECT
        |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    max(CASE WHEN arm = 0 THEN s1 END) AS s1_a,
        |    max(CASE WHEN arm = 0 THEN s2 END) AS s2_a,
        |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    max(CASE WHEN arm = 1 THEN s1 END) AS s1_b,
        |    max(CASE WHEN arm = 1 THEN s2 END) AS s2_b
        |  FROM arms),
        |st AS (SELECT n_a, n_b,
        |    CAST(s1_a AS DOUBLE) / n_a / 100.0 AS mean_a,
        |    CAST(s1_b AS DOUBLE) / n_b / 100.0 AS mean_b,
        |    (CAST(s1_a AS DOUBLE) + s1_b) / (n_a + n_b) / 100.0 AS mean_p,
        |    (CAST(s2_a AS DOUBLE) / 10000.0 - n_a * (CAST(s1_a AS DOUBLE) / n_a / 100.0) * (CAST(s1_a AS DOUBLE) / n_a / 100.0)) / (n_a - 1) AS var_a,
        |    (CAST(s2_b AS DOUBLE) / 10000.0 - n_b * (CAST(s1_b AS DOUBLE) / n_b / 100.0) * (CAST(s1_b AS DOUBLE) / n_b / 100.0)) / (n_b - 1) AS var_b
        |  FROM wide)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  round(mean_a, 4) AS mean_a_r, round(mean_b, 4) AS mean_b_r,
        |  round(sqrt(var_a), 4) AS sd_a_r, round(sqrt(var_b), 4) AS sd_b_r,
        |  round((1.959964 + 0.841621) * sqrt(var_a / n_a + var_b / n_b), 4) AS mde_abs_r,
        |  CAST(floor((1.959964 + 0.841621) * sqrt(var_a / n_a + var_b / n_b) / mean_p * 10000 + 0.5) AS BIGINT) AS mde_rel_bp,
        |  CAST(ceil(2.0 * ((var_a * (n_a - 1) + var_b * (n_b - 1)) / (n_a + n_b - 2)) * (1.959964 + 0.841621) * (1.959964 + 0.841621) / (mean_p * 0.01 * mean_p * 0.01)) AS BIGINT) AS n_req_1pct
        |FROM st""".stripMargin,
    // op replays the Spark side's basket cap (first 64 sorted part keys
    // per order — a TPC-H no-op, faithful when the cap binds elsewhere)
    "q_copurchase_lift" ->
      """WITH op0 AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
        |op AS (SELECT okey, pk FROM (
        |  SELECT okey, pk, row_number() OVER (PARTITION BY okey ORDER BY pk) AS brn FROM op0)
        |  WHERE brn <= 64),
        |n AS (SELECT count(DISTINCT okey) AS n_orders FROM op),
        |ps AS (SELECT pk, count(*) AS supp FROM op GROUP BY 1),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp_ab
        |  FROM op a JOIN op b ON a.okey = b.okey AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT pa, pb, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
        |  supp_ab * n_orders * 10000 // (sa.supp * sb.supp) AS lift_e4
        |FROM pairs JOIN ps sa ON pairs.pa = sa.pk JOIN ps sb ON pairs.pb = sb.pk, n""".stripMargin,
    "q_price_histogram" ->
      """WITH hist AS (SELECT CAST(least(floor(o_totalprice / 20000.0), 29) AS BIGINT) AS bucket,
        |    count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS mass
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(n) AS n_tot FROM hist)
        |SELECT bucket, n, mass,
        |  CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000 // n_tot AS BIGINT) AS cum_ppm
        |FROM hist, tot""".stripMargin,
    "doc_quality_gopher" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' in ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' for ', ''))) // 5
        |      AS BIGINT) AS stop_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens AS n_words, stop_hits,
        |    CAST((n_chars - n_tokens + 1) * 10000 // n_tokens AS BIGINT) AS mean_word_len_e4,
        |    CAST(stop_hits * 10000 // n_tokens AS BIGINT) AS stop_ratio_e4
        |  FROM b)
        |SELECT doc_id, n_words, stop_hits, mean_word_len_e4, stop_ratio_e4,
        |  (n_words >= 40 AND n_words <= 100000
        |   AND mean_word_len_e4 >= 30000 AND mean_word_len_e4 <= 100000
        |   AND stop_ratio_e4 >= 200) AS passes_gopher
        |FROM r""".stripMargin,
    "doc_source_quality" ->
      """WITH b AS (
        |  SELECT source, md5(text) AS h,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' in ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4
        |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' for ', ''))) // 5
        |      AS BIGINT) AS stop_hits
        |  FROM documents),
        |r AS (
        |  SELECT source, h, n_tokens,
        |    (n_tokens >= 40 AND n_tokens <= 100000
        |     AND (n_chars - n_tokens + 1) * 10000 // n_tokens BETWEEN 30000 AND 100000
        |     AND stop_hits * 10000 // n_tokens >= 200) AS pass
        |  FROM b),
        |g AS (
        |  SELECT source, h, count(*) AS c, sum(n_tokens) AS w,
        |    sum(CASE WHEN pass THEN 1 ELSE 0 END) AS gp
        |  FROM r GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  count(*) AS n_uniq_texts,
        |  CAST(sum(w) AS BIGINT) AS total_tokens,
        |  CAST(sum(gp) AS BIGINT) AS n_gopher_pass,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 10000 // sum(c) AS BIGINT) AS dup_ratio_e4
        |FROM g GROUP BY 1""".stripMargin,
    "doc_source_caps" ->
      """WITH p AS (
        |  SELECT source, doc_id, md5(text) AS pri,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
        |  FROM documents),
        |k AS (
        |  SELECT source, count(*) AS n_kept, max(pri) AS cap_digest
        |  FROM p WHERE rn <= 50 GROUP BY 1),
        |t AS (SELECT source, count(*) AS n_docs FROM p GROUP BY 1)
        |SELECT t.source, t.n_docs, k.n_kept,
        |  t.n_docs - k.n_kept AS n_dropped, k.cap_digest
        |FROM t JOIN k ON t.source = k.source""".stripMargin,
    "doc_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, md5(array_to_string(toks[i:i+4], ' ')) AS h
        |       FROM tok, UNNEST(range(1, len(toks) - 3)) AS t(i)),
        |ev AS (SELECT DISTINCT h FROM sh WHERE doc_id < 10)
        |SELECT s.doc_id, count(*) AS n_shared
        |FROM sh s JOIN ev USING (h)
        |WHERE s.doc_id >= 10
        |GROUP BY 1""".stripMargin,
    "doc_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g2 AS (SELECT doc_id, CAST(2 AS BIGINT) AS gram_n, array_to_string(toks[i:i+1], ' ') AS g
        |       FROM tok, UNNEST(range(1, len(toks))) AS t(i) WHERE len(toks) >= 2),
        |g5 AS (SELECT doc_id, CAST(5 AS BIGINT) AS gram_n, array_to_string(toks[i:i+4], ' ') AS g
        |       FROM tok, UNNEST(range(1, len(toks) - 3)) AS t(i) WHERE len(toks) >= 5),
        |c AS (SELECT doc_id, gram_n, g, count(*) AS c
        |      FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g5) GROUP BY 1, 2, 3)
        |SELECT doc_id, gram_n, CAST(sum(c) AS BIGINT) AS n_grams,
        |  CAST(max(c) AS BIGINT) AS top_gram_cnt,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_gram_occ,
        |  CAST(max(c) * 10000 // sum(c) AS BIGINT) AS top_gram_frac_e4,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 10000 // sum(c) AS BIGINT) AS dup_gram_frac_e4
        |FROM c GROUP BY 1, 2""".stripMargin,
    "dedup_ngram_corpus" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS h
        |       FROM tok, UNNEST(range(1, len(toks) - 6)) AS t(i) WHERE len(toks) >= 8),
        |dup AS (SELECT h, count(*) AS n_docs, min(doc_id) AS first_doc
        |        FROM sh GROUP BY 1 HAVING count(*) > 1)
        |SELECT s.doc_id, count(*) AS n_dup_grams,
        |  CAST(sum(CASE WHEN s.doc_id <> d.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_nonoriginal
        |FROM sh s JOIN dup d USING (h)
        |GROUP BY 1""".stripMargin,
    "doc_sample_stratified" ->
      """WITH b AS (
        |  SELECT doc_id, lang, CAST((doc_id * 131 + 7) % 100 AS BIGINT) AS bucket,
        |    CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 40
        |      WHEN 'de' THEN 30 WHEN 'es' THEN 30 ELSE 20 END AS keep_pct
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b WHERE bucket < keep_pct""".stripMargin,
    "doc_chunk" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 200 THEN CAST(1 AS BIGINT)
        |         ELSE (length(text) - 200 + 149) // 150 + 1 END AS nc
        |  FROM documents),
        |ex AS (SELECT doc_id, text, unnest(range(0, nc)) AS chunk_id FROM base)
        |SELECT doc_id, chunk_id,
        |  substr(text, CAST(chunk_id * 150 + 1 AS BIGINT), 200) AS chunk_text,
        |  CAST(length(substr(text, CAST(chunk_id * 150 + 1 AS BIGINT), 200)) AS BIGINT)
        |    AS chunk_len
        |FROM ex""".stripMargin,
    "doc_chunk_tokens" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CASE WHEN len(string_split(text, ' ')) <= 64 THEN CAST(1 AS BIGINT)
        |         ELSE (len(string_split(text, ' ')) - 64 + 47) // 48 + 1 END AS nc
        |  FROM documents),
        |ex AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM base)
        |SELECT doc_id, chunk_id,
        |  array_to_string(toks[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(chunk_id * 48 + 64 AS BIGINT)], ' ')
        |    AS chunk_text,
        |  CAST(len(toks[CAST(chunk_id * 48 + 1 AS BIGINT):CAST(chunk_id * 48 + 64 AS BIGINT)]) AS BIGINT)
        |    AS n_tokens
        |FROM ex""".stripMargin,
    "doc_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5(text), 1, 2) < 'e0' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'f0' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "doc_epoch_shuffle" ->
      """SELECT e.epoch, d.doc_id, d.lang,
        |  row_number() OVER (PARTITION BY e.epoch
        |    ORDER BY md5(e.epoch || ':' || d.doc_id)) AS position
        |FROM documents d
        |CROSS JOIN (SELECT unnest(range(0, 2)) AS epoch) e""".stripMargin,
    "doc_mix_weights" ->
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT))
        |      AS BIGINT) AS lang_tokens
        |  FROM documents GROUP BY 1),
        |m AS (SELECT min(lang_tokens) AS min_tokens FROM pl)
        |SELECT lang, n_docs, lang_tokens,
        |  min_tokens * 10000 // lang_tokens AS weight_e4
        |FROM pl, m""".stripMargin,
    "doc_mix_apply" ->
      """WITH d AS (SELECT doc_id, lang,
        |        CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_toks,
        |        md5(text) AS digest
        |      FROM documents),
        |b AS (SELECT CAST(min(lang_tokens) AS BIGINT) AS budget FROM
        |       (SELECT lang, sum(n_toks) AS lang_tokens FROM d GROUP BY 1)),
        |c AS (SELECT *, CAST(sum(n_toks) OVER (PARTITION BY lang
        |        ORDER BY digest, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        |      FROM d)
        |SELECT doc_id, lang, n_toks, cum_toks, b.budget,
        |  (cum_toks <= b.budget) AS kept
        |FROM c, b""".stripMargin,
    "doc_dsir_weights" ->
      """WITH t0 AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tok AS (SELECT doc_id, lang, substr(md5(tok), 1, 2) AS bucket FROM t0),
        |raw AS (SELECT bucket, count(*) AS r_cnt FROM tok GROUP BY 1),
        |tgt AS (SELECT bucket, count(*) AS t_cnt FROM tok WHERE lang = 'en' GROUP BY 1),
        |rt AS (SELECT CAST(sum(r_cnt) AS BIGINT) AS r_total FROM raw),
        |tt AS (SELECT CAST(sum(t_cnt) AS BIGINT) AS t_total FROM tgt),
        |sc AS (SELECT raw.bucket,
        |         CAST(length(bin(r_total // r_cnt)) - 1 AS BIGINT) AS bits_r,
        |         CAST(length(bin((t_total + 256) // (coalesce(t_cnt, 0) + 1))) - 1 AS BIGINT) AS bits_t
        |       FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, rt, tt),
        |a AS (SELECT doc_id, lang, count(*) AS n_tokens,
        |        CAST(sum(bits_r - bits_t) AS BIGINT) AS sum_logratio
        |      FROM tok JOIN sc USING (bucket) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_tokens, sum_logratio,
        |  CAST(CASE WHEN sum_logratio >= 0 THEN sum_logratio * 10000 // n_tokens
        |       ELSE -((-sum_logratio) * 10000 // n_tokens) END AS BIGINT) AS mean_logratio_e4
        |FROM a""".stripMargin,
    "doc_reservoir_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    md5('sample' || '_' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (SELECT lang, doc_id, h,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rnk
        |      FROM h)
        |SELECT lang, doc_id, h, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "dedup_exact_apply" ->
      """WITH r AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1""".stripMargin,
    "doc_curation_pipeline" ->
      """WITH kept AS (
        |  SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |q AS (
        |  SELECT doc_id, n_tokens AS n_words FROM (
        |    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |      CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |      CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5
        |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5
        |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4
        |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4
        |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' in ', ''))) // 4
        |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4
        |         + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' for ', ''))) // 5
        |        AS BIGINT) AS stop_hits
        |    FROM documents)
        |  WHERE n_tokens >= 40 AND n_tokens <= 100000
        |    AND (n_chars - n_tokens + 1) * 10000 // n_tokens BETWEEN 30000 AND 100000
        |    AND stop_hits * 10000 // n_tokens >= 200),
        |sampled AS (
        |  SELECT k.lang, q.n_words FROM kept k JOIN q USING (doc_id)
        |  WHERE (doc_id * 131 + 7) % 100 <
        |    CASE k.lang WHEN 'en' THEN 50 WHEN 'zh' THEN 40
        |      WHEN 'de' THEN 30 WHEN 'es' THEN 30 ELSE 20 END)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens
        |FROM sampled GROUP BY 1""".stripMargin,
    // PII audit replay: identical RE2∩Java patterns
    "doc_pii_audit" ->
      """WITH pa AS (SELECT source,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}')) AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phone
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS email_hits,
        |  CAST(sum(n_phone) AS BIGINT) AS phone_hits,
        |  CAST(sum(CASE WHEN n_email > 0 OR n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exposed,
        |  CAST(sum(CASE WHEN n_email > 0 OR n_phone > 0 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS exposure_bp
        |FROM pa GROUP BY source""".stripMargin,
    // share-of-parent replay: exact cent sums, integer ppm ratios
    "q_share_of_parent" ->
      """WITH natrev AS (SELECT r.r_name, n.n_name,
        |    sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS rev_c
        |  FROM orders o, customer c, nation n, region r
        |  WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
        |    AND n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |w AS (SELECT *, sum(rev_c) OVER (PARTITION BY r_name) AS region_rev_c,
        |    sum(rev_c) OVER () AS global_rev_c FROM natrev)
        |SELECT r_name, n_name, CAST(rev_c AS BIGINT) AS rev_c,
        |  CAST(rev_c * 1000000 // region_rev_c AS BIGINT) AS nation_share_ppm,
        |  CAST(region_rev_c AS BIGINT) AS region_rev_c,
        |  CAST(region_rev_c * 1000000 // global_rev_c AS BIGINT) AS region_share_ppm
        |FROM w""".stripMargin,
    "pii_redact" ->
      """WITH raw AS (
        |  SELECT c_custkey,
        |    '555-' || lpad(CAST(c_custkey * 7 % 10000 AS VARCHAR), 4, '0') ||
        |      '-' || lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0') AS phone,
        |    replace(lower(c_name), '#', '.') || '@example.com' AS email
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(substr(phone, 1, length(phone) - 4), '[0-9]', '#', 'g')
        |    || substr(phone, length(phone) - 3) AS phone_masked,
        |  substr(email, 1, 1) || repeat('*', position('@' IN email) - 2)
        |    || substr(email, position('@' IN email)) AS email_masked,
        |  CAST(length(regexp_replace(substr(phone, 1, length(phone) - 4),
        |    '[^0-9]', '', 'g')) AS BIGINT) AS n_digits_masked
        |FROM raw""".stripMargin,
    // payload JSON is concat-constructed to match Spark's to_json byte-for-
    // byte (compact, struct field order, non-null int/string fields only)
    "cdc_hetero_union" ->
      """SELECT 'orders' AS src_table, CAST(o_orderkey AS VARCHAR) AS entity_key,
        |  CAST(o_orderkey AS BIGINT) AS seq,
        |  '{"o_custkey":' || CAST(o_custkey AS VARCHAR) || ',"o_orderstatus":"' || o_orderstatus ||
        |    '","o_orderpriority":"' || o_orderpriority || '"}' AS payload,
        |  'o_custkey BIGINT,o_orderstatus STRING,o_orderpriority STRING' AS payload_schema
        |FROM orders
        |UNION ALL
        |SELECT 'customer', CAST(c_custkey AS VARCHAR), CAST(c_custkey AS BIGINT),
        |  '{"c_name":"' || c_name || '","c_nationkey":' || CAST(c_nationkey AS VARCHAR) || '}',
        |  'c_name STRING,c_nationkey INT'
        |FROM customer""".stripMargin,
    "cdc_schema_evolve" ->
      """SELECT o_orderkey % 2 AS schema_era, count(*) AS n_rows,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS n_with_new_col,
        |  count(DISTINCT o_orderstatus) AS n_statuses,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
        |FROM orders GROUP BY 1""".stripMargin,
    "q_table_profile" ->
      """SELECT 'o_orderkey' AS col_name, (SELECT count(*) FROM orders) AS n_rows,
        |  count(*) - count(o_orderkey) AS n_nulls, count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len FROM orders
        |UNION ALL
        |SELECT 'o_custkey', (SELECT count(*) FROM orders),
        |  count(*) - count(o_custkey), count(DISTINCT o_custkey),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', (SELECT count(*) FROM orders),
        |  count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus),
        |  CAST(min(length(o_orderstatus)) AS BIGINT),
        |  CAST(max(length(o_orderstatus)) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', (SELECT count(*) FROM orders),
        |  count(*) - count(o_totalprice), count(DISTINCT o_totalprice),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', (SELECT count(*) FROM orders),
        |  count(*) - count(o_orderdate), count(DISTINCT o_orderdate),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', (SELECT count(*) FROM orders),
        |  count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority),
        |  CAST(min(length(o_orderpriority)) AS BIGINT),
        |  CAST(max(length(o_orderpriority)) AS BIGINT) FROM orders""".stripMargin,
    "cdc_table_batch" ->
      s"""$registryCte,
        |s AS (
        |  SELECT name, row_count, update_frequency, error_count, cdc_enabled, last_processed_hours,
        |    greatest(0,
        |      CAST(update_frequency * 40 AS BIGINT)
        |      + CASE WHEN data_size_mb > 1000 THEN 20 WHEN data_size_mb > 100 THEN 15
        |             WHEN data_size_mb > 10 THEN 10 ELSE 5 END
        |      + CASE WHEN last_processed_hours IS NULL THEN 30
        |             ELSE least(30, CAST(last_processed_hours * 2 AS BIGINT)) END
        |      - least(10, error_count * 2)) AS priority
        |  FROM p)
        |SELECT name, row_count, priority, update_frequency, error_count
        |FROM s
        |WHERE cdc_enabled AND (last_processed_hours IS NULL OR last_processed_hours >= 1.0)
        |ORDER BY priority DESC, name LIMIT 5""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
        |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM customer c, orders o, lineitem l
        |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
        |  AND c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate <  TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n.n_name, CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l, orders o, customer c, nation n, region r
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND c.c_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n.n_name""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  round(max(c.c_acctbal), 2) AS c_acctbal
        |FROM lineitem l, orders o, customer c, nation n
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND c.c_nationkey = n.n_nationkey AND l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_brand_revenue" ->
      """SELECT p.p_brand, p.p_type,
        |  CAST(round(sum(CAST(l.l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l, part p
        |WHERE l.l_partkey = p.p_partkey
        |GROUP BY 1, 2""".stripMargin,
    "q_top_parts_per_brand" ->
      """WITH pr AS (
        |  SELECT p.p_brand, p.p_partkey,
        |    CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |  FROM lineitem l, part p WHERE l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS INT) AS rnk FROM pr)
        |SELECT p_brand, p_partkey, revenue, rnk FROM rk WHERE rnk <= 3""".stripMargin,
    "q_topk_custom" ->
      """WITH pr AS (
        |  SELECT p.p_brand, p.p_partkey,
        |    CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
        |  FROM lineitem l, part p WHERE l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS INT) AS rnk FROM pr)
        |SELECT p_brand, p_partkey, revenue, rnk FROM rk WHERE rnk <= 3""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_cube_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_cust_with_orders_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin,
    "q_cust_no_orders_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q14_promo_share" ->
      """SELECT round(100.0 *
        |    CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) AS promo_share_pct,
        |  count(*) AS n_items
        |FROM lineitem l, part p
        |WHERE l.l_partkey = p.p_partkey
        |  AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'""".stripMargin,
    "q18_large_orders" ->
      """SELECT l_orderkey,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_orderkey
        |HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) > 150.0""".stripMargin,
    "q19_disjunction" ->
      """SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, count(*) AS n_items
        |FROM lineitem l, part p
        |WHERE l.l_partkey = p.p_partkey AND (
        |  (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21) OR
        |  (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30) OR
        |  (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40))""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, count(*) AS n_items
        |FROM lineitem l, orders o, customer c, supplier s, nation n1, nation n2
        |WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = n1.n_nationkey
        |  AND s.s_nationkey = n2.n_nationkey AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2""".stripMargin,
    "q17_small_quantity" ->
      """WITH li AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#2'),
        |pp AS (SELECT l_partkey AS pk, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
        |         count(*) AS cnt_qty
        |       FROM li GROUP BY 1)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_items
        |FROM li JOIN pp ON li.l_partkey = pp.pk
        |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt_qty < sum_qty""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS mr FROM rev)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM rev r, mx, supplier s
        |WHERE r.total_revenue = mx.mr AND s.s_suppkey = r.l_suppkey""".stripMargin,
    "q22_prospects" ->
      """WITH st AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS tot, count(*) AS cnt
        |  FROM customer WHERE c_acctbal > 0),
        |rich AS (
        |  SELECT c.* FROM customer c, st
        |  WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * st.cnt > st.tot)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_acctbal
        |FROM rich r
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = r.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY 1""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH fp AS (SELECT p_partkey FROM part
        |  WHERE p_size <= 10 AND p_type = 'STANDARD'),
        |o AS (SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem JOIN fp ON l_partkey = p_partkey GROUP BY 1, 2),
        |m AS (SELECT l_partkey AS pk, min(unit_cost) AS min_cost FROM o GROUP BY 1)
        |SELECT o.l_partkey AS p_partkey, s.s_suppkey, s.s_name, n.n_name, o.unit_cost
        |FROM o JOIN m ON o.l_partkey = m.pk AND o.unit_cost = m.min_cost
        |JOIN supplier s ON o.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey""".stripMargin,
    "q8_market_share" ->
      s"""WITH asia_c AS (
        |  SELECT c_custkey FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA'),
        |sup AS (SELECT s_suppkey, n_name AS supp_nation
        |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
        |SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
        |  round(CAST(sum(CASE WHEN sup.supp_nation = 'NATION_12'
        |      THEN $revSql ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |    / CAST(sum($revSql) AS DOUBLE), 4) AS mkt_share,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN sup ON l.l_suppkey = sup.s_suppkey
        |WHERE o.o_custkey IN (SELECT c_custkey FROM asia_c)
        |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n.n_name AS nation,
        |  CAST(EXTRACT(year FROM CAST(o.o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
        |  CAST(round(sum($revSql
        |    - CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(l.l_quantity AS DECIMAL(12,2))
        |      * CAST(0.6 AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_profit,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2""".stripMargin,
    "q11_value_concentration" ->
      s"""WITH pp AS (
        |  SELECT l_partkey, sum($revSql) AS val_dec, count(*) AS n_items
        |  FROM lineitem l GROUP BY 1),
        |t AS (SELECT sum(val_dec) AS tot, count(*) AS n_parts FROM pp)
        |SELECT pp.l_partkey, CAST(round(pp.val_dec, 2) AS DOUBLE) AS part_value,
        |  pp.n_items
        |FROM pp, t WHERE pp.val_dec * t.n_parts * 5 > t.tot * 6""".stripMargin,
    "q12_late_priority" ->
      """SELECT CASE WHEN epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate) + 7776000000000
        |    THEN 'late' ELSE 'ontime' END AS ship_bucket,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    "q13_cust_order_dist" ->
      """WITH c_orders AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN
        |    (SELECT o_custkey, o_orderkey FROM orders
        |     WHERE o_orderpriority <> '4-NOT SPECIFIED') o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM c_orders GROUP BY 1""".stripMargin,
    "q16_supplier_part_count" ->
      """WITH pairs AS (
        |  SELECT DISTINCT p.p_brand, p.p_type, p.p_size, l.l_suppkey
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand <> 'Brand#1' AND p.p_size <= 25
        |    AND l.l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2500))
        |SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
        |FROM pairs GROUP BY 1, 2, 3""".stripMargin,
    "q20_excess_shippers" ->
      """WITH ps AS (
        |  SELECT l.l_partkey, l.l_suppkey,
        |    sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS supp_qty
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_name LIKE 'large%' GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS pk, sum(supp_qty) AS part_qty,
        |    count(*) AS n_supp FROM ps GROUP BY 1),
        |heavy AS (SELECT DISTINCT ps.l_suppkey FROM ps
        |  JOIN pt ON ps.l_partkey = pt.pk
        |  WHERE ps.supp_qty * 2 * pt.n_supp > pt.part_qty * 5)
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)""".stripMargin,
    "q21_sole_returner" ->
      """SELECT s.s_suppkey, s.s_name, count(*) AS numwait
        |FROM lineitem l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND l1.l_orderkey IN
        |    (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY 1, 2""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_orders_by_month" ->
      """SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) * 100
        |     + EXTRACT(month FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS ym,
        |  count(*) AS order_count,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS month_value
        |FROM orders GROUP BY 1""".stripMargin,
    "q_stats_corr" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "ev_cohort_ltv" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM events),
        |c AS (SELECT user_id, min(ts_us // 86400000000) AS cohort_day
        |      FROM e WHERE event_type = 'signup' GROUP BY 1),
        |wk AS (SELECT c.cohort_day,
        |         (e.ts_us // 86400000000 - c.cohort_day) // 7 AS week_off,
        |         e.user_id, e.event_type, e.value
        |       FROM e JOIN c ON e.user_id = c.user_id
        |       WHERE e.ts_us // 86400000000 - c.cohort_day >= 0),
        |a AS (SELECT cohort_day, week_off, count(DISTINCT user_id) AS n_active_users,
        |        sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2))
        |            ELSE CAST(0 AS DECIMAL(12,2)) END) AS rev
        |      FROM wk GROUP BY 1, 2)
        |SELECT cohort_day, week_off, n_active_users,
        |  CAST(round(rev, 2) AS DOUBLE) AS revenue,
        |  CAST(round(sum(rev) OVER (PARTITION BY cohort_day ORDER BY week_off
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_revenue
        |FROM a""".stripMargin,
    "cdc_disorder_audit" ->
      """WITH l AS (SELECT event_type, user_id, epoch_us(ts) AS ts_us, event_id,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
        |      FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN ts_us < prev_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(sum(CASE WHEN ts_us < prev_ts THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS late_frac_e4,
        |  CAST(max(CASE WHEN ts_us < prev_ts THEN prev_ts - ts_us ELSE 0 END) AS BIGINT) AS max_disorder_us
        |FROM l GROUP BY 1""".stripMargin,
    "ev_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |tot AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |      FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, ta.n AS n_a, tb.n AS n_b, p.n_both,
        |  CAST(p.n_both * 10000 // (ta.n + tb.n - p.n_both) AS BIGINT) AS jaccard_e4
        |FROM p JOIN tot ta ON p.type_a = ta.event_type
        |       JOIN tot tb ON p.type_b = tb.event_type""".stripMargin,
    "ev_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT cover_day AS day, count(DISTINCT user_id) AS wau
        |        FROM ud, UNNEST(range(day, day + 7)) AS t(cover_day) GROUP BY 1)
        |SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
        |  CAST(d.dau * 10000 // w.wau AS BIGINT) AS stickiness_e4
        |FROM dau d JOIN wau w ON d.day = w.day""".stripMargin,
    "ev_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT user_id, day,
        |        day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM ud),
        |st AS (SELECT user_id, grp, count(*) AS len, min(day) AS start_day FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS longest_streak,
        |  min(start_day) AS first_day
        |FROM st GROUP BY 1""".stripMargin,
    "ev_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS session_value,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY 1, 2""".stripMargin,
    "ev_funnel" ->
      """WITH u AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_users, count(first_signup_us) AS n_signed_up,
        |  count(CASE WHEN first_purchase_us > first_signup_us THEN 1 END) AS n_converted
        |FROM u""".stripMargin,
    "ev_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS d1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts_us) AS d2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND ts_us >= d1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts_us) AS d3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us >= d2 GROUP BY 1)
        |SELECT 1 AS step, 'signup' AS event_type, (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,
    "ev_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
        |  count(DISTINCT event_type) AS n_event_types,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
        |  CAST(round(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(12,2))), 2) AS DOUBLE) AS purchase_value,
        |  min(epoch_us(ts)) AS first_seen_us, max(epoch_us(ts)) AS last_seen_us
        |FROM events GROUP BY user_id""".stripMargin,
    "ev_windowed_counts" ->
      """SELECT epoch_us(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))) AS window_start_us,
        |  event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ev_retention_cohorts" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events),
        |s AS (SELECT user_id, min(day) AS cohort_day FROM e WHERE event_type = 'signup' GROUP BY 1)
        |SELECT s.cohort_day, e.day - s.cohort_day AS day_offset,
        |  count(DISTINCT e.user_id) AS active_users, count(*) AS n_events
        |FROM e JOIN s ON e.user_id = s.user_id
        |WHERE e.day - s.cohort_day >= 0
        |GROUP BY 1, 2""".stripMargin,
    "q_status_pivot" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "ev_running_totals" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |SELECT event_id, user_id, ts_us,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_value,
        |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    count(*) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS moving_avg7
        |FROM e""".stripMargin,
    "ev_trailing_window" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |SELECT event_id, user_id, ts_us,
        |  count(*) OVER w AS trailing_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE) AS trailing_value
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ev_value_quartiles" ->
      """WITH q AS (
        |  SELECT event_type, value,
        |    CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INT) AS quartile
        |  FROM events)
        |SELECT event_type, quartile, count(*) AS n,
        |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
        |FROM q GROUP BY 1, 2""".stripMargin,
    "q_setops" ->
      """WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000),
        |both_c AS (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big),
        |only_b AS (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM big)
        |SELECT c_custkey, 'building_and_big' AS cohort FROM both_c
        |UNION ALL
        |SELECT c_custkey, 'building_only' AS cohort FROM only_b""".stripMargin,
    "doc_normalize" ->
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '  +', ' ', 'g')) AS norm_hash,
        |  CAST(length(regexp_replace(trim(lower(text)), '  +', ' ', 'g')) AS BIGINT) AS norm_len
        |FROM documents""".stripMargin,
    "doc_tokens" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS BIGINT) AS n_tokens_re
        |FROM documents""".stripMargin,
    "doc_quality" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) // 3 AS the_cnt
        |  FROM documents)
        |SELECT doc_id, n_chars, n_tokens, the_cnt,
        |  CAST((n_chars - n_tokens + 1) * 10000 // n_tokens AS BIGINT) AS avg_token_len_e4,
        |  CAST(the_cnt * 10000 // n_tokens AS BIGINT) AS the_ratio_e4,
        |  CAST(least(100, n_tokens) * greatest(0, n_tokens - the_cnt) * 100 // n_tokens AS BIGINT) AS quality_score_e4
        |FROM b""".stripMargin,
    "doc_langid" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN ((length(text) - length(replace(text, 'the', ''))) / 3.0)
        |           / (CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)) >= 0.03
        |         THEN 'en' ELSE 'und' END AS lang_pred
        |  FROM documents)
        |SELECT doc_id, lang, lang_pred, (lang_pred = lang) AS agree FROM p""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_incremental_exact" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |delta AS (
        |  SELECT lang, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT lang, text FROM corpus WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT lang,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 1, 1)), ' ')
        |  FROM corpus WHERE doc_id % 20 = 5),
        |idx AS (SELECT DISTINCT md5(text) AS digest, 1 AS hit FROM corpus)
        |SELECT d.lang, count(*) AS n_delta, count(i.hit) AS n_exact_dup,
        |  count(*) - count(i.hit) AS n_novel
        |FROM (SELECT lang, md5(text) AS digest FROM delta) d
        |LEFT JOIN idx i USING (digest)
        |GROUP BY d.lang""".stripMargin,
    "doc_fingerprint" ->
      "SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents",
    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.4""".stripMargin,
    "ann_range_search" ->
      """WITH rsq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 8),
        |rsc AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce
        |  FROM embeddings),
        |rsp AS (SELECT qid, nid, list_cosine_similarity(qe, ce) AS cosr
        |  FROM rsq, rsc WHERE nid <> qid),
        |rsf AS (SELECT qid, nid, cosr FROM rsp WHERE cosr >= 0.25)
        |SELECT qid, nid, round(cosr, 4) AS cos,
        |  count(*) OVER (PARTITION BY qid) AS n_matches
        |FROM rsf""".stripMargin,
    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |p AS (SELECT qid, nid, list_cosine_similarity(qe, ce) AS cosr FROM q, c WHERE nid <> qid),
        |r AS (SELECT qid, nid, cosr, CAST(row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS INT) AS rnk FROM p)
        |SELECT qid, nid, round(cosr, 4) AS cos, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "emb_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label AS qlabel
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce, label FROM embeddings),
        |p AS (SELECT qid, nid, label, list_cosine_similarity(qe, ce) AS cosr
        |      FROM q, c WHERE nid <> qid AND label <> qlabel),
        |r AS (SELECT qid, nid, label, cosr,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS INT) AS rnk
        |      FROM p)
        |SELECT qid, nid, CAST(label AS BIGINT) AS neg_label, round(cosr, 4) AS cos, rnk
        |FROM r WHERE rnk <= 5""".stripMargin,
    // pair-AUC replay: identical e4 quantization off the shared knn CTE,
    // tie-averaged rank-sum over the bounded score domain, non-negative
    // numerator so // and DIV agree
    "emb_pair_auc" ->
      s"""WITH $knnGraphCte,
         |pund AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b, cos
         |         FROM g WHERE src <> dst),
         |pu2 AS (SELECT a, b, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4 FROM pund),
         |pl AS (SELECT p.cos_e4,
         |    CASE WHEN CAST(ea.label AS BIGINT) = CAST(eb.label AS BIGINT) THEN 1 ELSE 0 END AS is_pos
         |  FROM pu2 p JOIN embeddings ea ON ea.vec_id = p.a
         |  JOIN embeddings eb ON eb.vec_id = p.b),
         |pbs AS (SELECT cos_e4, count(*) AS n, sum(is_pos) AS n_pos_s FROM pl GROUP BY 1),
         |pcb AS (SELECT *, coalesce(sum(n) OVER (ORDER BY cos_e4
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM pbs),
         |pag AS (SELECT sum(n) AS n_pairs, sum(n_pos_s) AS n_pos,
         |    sum(CAST(n_pos_s AS HUGEINT) * (2 * cum_before + n + 1)) AS r2_pos,
         |    sum(cos_e4 * n_pos_s) AS sum_pos, sum(cos_e4 * (n - n_pos_s)) AS sum_neg
         |  FROM pcb)
         |SELECT CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(n_pairs - n_pos AS BIGINT) AS n_neg,
         |  CASE WHEN n_pos = 0 OR n_pairs = n_pos THEN NULL
         |    ELSE CAST((r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
         |      // (2 * n_pos * (n_pairs - n_pos)) AS BIGINT) END AS auc_ppm,
         |  CAST(sum_pos AS BIGINT) AS sum_pos_cos_e4,
         |  CAST(sum_neg AS BIGINT) AS sum_neg_cos_e4
         |FROM pag""".stripMargin,
    "cdc_ddl_capture" ->
      """WITH t AS (SELECT event_type, CAST(min(epoch_us(ts) // 1000) AS BIGINT) AS first_ms
        |           FROM events GROUP BY 1),
        |v AS (SELECT event_type, first_ms,
        |        CAST(row_number() OVER (ORDER BY first_ms, event_type) AS BIGINT) AS version,
        |        string_agg(event_type || '_total', ',')
        |          OVER (ORDER BY first_ms, event_type ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT 'graftdb' AS database_name, first_ms AS change_ts_ms,
        |  CASE WHEN version = 1 THEN 'CREATE' ELSE 'ALTER' END AS change_type,
        |  '"graftdb"."events_gold"' AS table_id,
        |  'user_id' AS pk_cols,
        |  CAST(version + 2 AS BIGINT) AS n_columns,
        |  'user_id,value,' || cum AS column_names,
        |  'BIGINT,DOUBLE' || repeat(',BIGINT', CAST(version AS INT)) AS column_types,
        |  TRUE AS nullable_outside_pk,
        |  CASE WHEN version = 1
        |    THEN 'CREATE TABLE events_gold (user_id BIGINT NOT NULL, value DOUBLE, ' || event_type || '_total BIGINT, PRIMARY KEY (user_id))'
        |    ELSE 'ALTER TABLE events_gold ADD COLUMN ' || event_type || '_total BIGINT' END AS ddl,
        |  version
        |FROM v""".stripMargin,
    "emb_knn_consistency" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label AS qlabel
        |           FROM embeddings
        |           ORDER BY md5('knnq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce, label FROM embeddings),
        |p AS (SELECT qid, qlabel, nid, label, list_cosine_similarity(qe, ce) AS cosr
        |      FROM q, c WHERE nid <> qid),
        |r AS (SELECT qid, qlabel, label,
        |        row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, nid) AS rnk
        |      FROM p),
        |m AS (SELECT qid, qlabel,
        |        sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS n_match
        |      FROM r WHERE rnk <= 5 GROUP BY qid, qlabel)
        |SELECT CAST(qlabel AS BIGINT) AS label, count(*) AS n_queries,
        |  CAST(sum(n_match) * 10000 // (count(*) * 5) AS BIGINT) AS consistency_e4
        |FROM m GROUP BY qlabel""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, f AS frame_no,
        |  CAST(least(256, strlen(text) - f * 256) AS BIGINT) AS frame_bytes,
        |  substr(md5(concat(CAST(doc_id AS VARCHAR), '_', CAST(f AS VARCHAR))), 1, 12) AS frame_key
        |FROM documents,
        |  UNNEST(range(0, CAST(floor(strlen(text) / 256.0) AS BIGINT) + 1)) AS t(f)""".stripMargin,
    "emb_norm_stats" ->
      """WITH s AS (
        |  SELECT vec_id, len(embedding) AS dim,
        |    list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS sumsq
        |  FROM embeddings)
        |SELECT vec_id, CAST(dim AS BIGINT) AS dim, round(sqrt(sumsq), 4) AS l2_norm,
        |  (sumsq = 0.0) AS is_zero,
        |  (isnan(sumsq) OR isinf(sumsq)) AS is_degenerate
        |FROM s""".stripMargin,
    "emb_label_centroids" ->
      """SELECT label, i AS pos,
        |  round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 4) AS centroid_v,
        |  count(*) AS n
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        |GROUP BY label, i""".stripMargin,
    "mm_media_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS media_bytes,
        |  hex(substring(text, 1, 4)) AS magic,
        |  64 + doc_id % 1024 AS fake_width,
        |  64 + (doc_id * 7) % 1024 AS fake_height,
        |  1 + CAST(floor(strlen(text) / 256.0) AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    // geometry is a pure function of doc_id; matching it proves the PNG
    // encode→decode round-trip preserved the raster dimensions
    "mm_image_decode" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS img_w,
        |  CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS img_h,
        |  CAST((8 + doc_id % 9) * (8 + (doc_id * 3) % 9) AS BIGINT) AS n_pixels
        |FROM documents""".stripMargin,
    "mm_image_resize" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS src_w,
        |  CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS src_h,
        |  CAST(4 AS INTEGER) AS out_w, CAST(4 AS INTEGER) AS out_h
        |FROM documents""".stripMargin,
    "mm_audio_decode" ->
      """SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(64 + doc_id % 129 AS BIGINT) AS n_frames,
        |  CAST((64 + doc_id % 129) * 1000 // 8000 AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,
    "q_rank_family" ->
      """WITH r AS (
        |  SELECT p_brand, p_partkey, p_size,
        |    CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS BIGINT) AS drnk,
        |    count(*) OVER (PARTITION BY p_brand) AS n,
        |    count(*) OVER (PARTITION BY p_brand ORDER BY p_size
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
        |  FROM part)
        |SELECT p_brand, p_partkey, p_size, rnk, drnk,
        |  CAST(CASE WHEN n = 1 THEN 0 ELSE (rnk - 1) * 1000000 // (n - 1) END AS BIGINT)
        |    AS percent_rank_e6,
        |  CAST(n_le * 1000000 // n AS BIGINT) AS cume_dist_e6
        |FROM r""".stripMargin,
    "doc_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(toks) - 2), i -> md5(array_to_string(toks[i:i+3], ' '))) AS grams
        |  FROM t),
        |f AS (
        |  SELECT doc_id, grams,
        |    list_distinct(list_transform(range(1, len(grams) - 3), j -> list_min(grams[j:j+4]))) AS fps
        |  FROM g)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
        |  CAST(len(fps) * 10000 // len(grams) AS BIGINT) AS fp_density_e4,
        |  list_min(fps) AS min_fp
        |FROM f""".stripMargin,
    "doc_lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v),
        |s AS (SELECT tok, CAST(length(bin(n_total // cnt)) - 1 AS BIGINT) AS surprise_lg2
        |      FROM v, t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(surprise_lg2) AS BIGINT) AS sum_surprise,
        |  CAST(sum(surprise_lg2) * 10000 // count(*) AS BIGINT) AS mean_surprise_e4
        |FROM tok JOIN s USING (tok)
        |GROUP BY 1""".stripMargin,
    // KN replay: identical indexed-lambda bigram build, exact-rational
    // probability, whole-bit surprise via the bitlen(D div N) identity
    "doc_kn_score" ->
      """WITH kd AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |kbg AS (SELECT doc_id, unnest(list_transform(l[1:len(l)-1],
        |    (w, i) -> {'w1': w, 'w2': l[i+1]})) AS b FROM kd),
        |kb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM kbg),
        |kc12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM kb GROUP BY 1, 2),
        |kc1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1fw FROM kc12 GROUP BY 1),
        |kpw AS (SELECT w2, count(*) AS n1pw FROM kc12 GROUP BY 1),
        |kt AS (SELECT count(*) AS t_types FROM kc12),
        |ks AS (SELECT w1, w2,
        |    CAST(length(bin(CAST((CAST(4 AS HUGEINT) * c1 * t_types) //
        |      ((CAST(4 AS HUGEINT) * c12 - 3) * t_types
        |       + CAST(3 AS HUGEINT) * n1fw * n1pw) AS BIGINT))) - 1 AS BIGINT) AS kn_bits
        |  FROM kc12 JOIN kc1 USING (w1) JOIN kpw USING (w2), kt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(kn_bits) AS BIGINT) AS sum_kn_bits,
        |  CAST(sum(kn_bits) * 10000 // count(*) AS BIGINT) AS mean_kn_bits_e4
        |FROM kb JOIN ks USING (w1, w2) GROUP BY 1""".stripMargin,
    "doc_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v),
        |s AS (SELECT tok, CAST(length(bin(n_total // cnt)) - 1 AS BIGINT) AS surprise_lg2
        |      FROM v, t),
        |d AS (SELECT doc_id, count(*) AS n_toks,
        |        CAST(sum(surprise_lg2) * 10000 // count(*) AS BIGINT) AS mean_surprise_e4
        |      FROM tok JOIN s USING (tok) GROUP BY 1),
        |j AS (SELECT d.doc_id, doc.lang, d.n_toks, d.mean_surprise_e4,
        |        ntile(3) OVER (PARTITION BY doc.lang
        |                       ORDER BY d.mean_surprise_e4, d.doc_id) AS tercile
        |      FROM d JOIN documents doc USING (doc_id))
        |SELECT lang,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  min(mean_surprise_e4) AS lo_e4, max(mean_surprise_e4) AS hi_e4
        |FROM j GROUP BY 1, 2""".stripMargin,
    "doc_pack_bins" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d),
        |b AS (SELECT doc_id, n_tokens,
        |        CAST(cum - n_tokens AS BIGINT) AS tok_start,
        |        CAST(cum - 1 AS BIGINT) AS tok_end,
        |        CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_first,
        |        CAST((cum - 1) // 512 AS BIGINT) AS bin_last
        |      FROM c),
        |x AS (SELECT doc_id, n_tokens, tok_start, tok_end, bin_first,
        |        unnest(generate_series(bin_first, bin_last)) AS bin
        |      FROM b)
        |SELECT bin, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN bin_first = bin THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        |  CAST(sum(least(tok_end, (bin + 1) * 512 - 1)
        |         - greatest(tok_start, bin * 512) + 1) AS BIGINT) AS n_tokens,
        |  CAST(sum(least(tok_end, (bin + 1) * 512 - 1)
        |         - greatest(tok_start, bin * 512) + 1) * 10000 // 512 AS BIGINT) AS util_e4
        |FROM x GROUP BY 1""".stripMargin,
    "emb_dim_stats" ->
      """WITH x AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_e6
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i))
        |SELECT dim, count(*) AS n,
        |  CAST(sum(v_e6) AS BIGINT) AS sum_e6,
        |  CAST(sum(abs(v_e6)) // count(*) AS BIGINT) AS mean_abs_e6,
        |  min(v_e6) AS min_e6, max(v_e6) AS max_e6
        |FROM x GROUP BY 1""".stripMargin,
    "cdc_txn_summary" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' WHEN 'purchase' THEN 'r' ELSE 'u' END AS op_raw,
        |    epoch_ms(ts) AS seq_ms
        |  FROM events),
        |env AS (
        |  SELECT event_id,
        |    '{"before":' ||
        |    CASE WHEN op_raw = 'c' THEN 'null'
        |         ELSE '{"user_id":' || CAST(user_id AS VARCHAR) || ',"event_id":' || CAST(event_id - 1 AS VARCHAR) || '}' END ||
        |    ',"after":' ||
        |    CASE WHEN op_raw = 'd' THEN 'null'
        |         ELSE '{"user_id":' || CAST(user_id AS VARCHAR) || ',"event_id":' || CAST(event_id AS VARCHAR) || '}' END ||
        |    ',"source":{"version":"2.4.0","connector":"mysql","name":"graft","ts_ms":' || CAST(seq_ms AS VARCHAR) ||
        |    ',"snapshot":"' || CASE WHEN op_raw = 'r' THEN 'true' ELSE 'false' END ||
        |    '","db":"graftdb","table":"events","server_id":1,"gtid":"0-1-' || CAST(event_id AS VARCHAR) ||
        |    '","file":"binlog.000001","pos":' || CAST(event_id * 4 AS VARCHAR) ||
        |    ',"row":0,"thread":7,"query":null},"op":"' || op_raw ||
        |    '","ts_ms":' || CAST(seq_ms + (event_id % 120) * 1000 + 1 AS VARCHAR) ||
        |    ',"transaction":{"id":"tx-' || CAST(user_id AS VARCHAR) ||
        |    '","total_order":1,"data_collection_order":1}}' AS cdc_event
        |  FROM e),
        |p AS (
        |  SELECT json_extract_string(cdc_event, '$.transaction.id') AS transaction_id,
        |    CASE json_extract_string(cdc_event, '$.op')
        |      WHEN 'c' THEN 'INSERT' WHEN 'u' THEN 'UPDATE' WHEN 'd' THEN 'DELETE' WHEN 'r' THEN 'SNAPSHOT'
        |      ELSE 'UNKNOWN' END AS operation,
        |    json_extract_string(cdc_event, '$.source.table') AS table_name,
        |    CAST(json_extract(cdc_event, '$.source.ts_ms') AS BIGINT) AS source_ts_ms
        |  FROM env)
        |SELECT transaction_id, count(*) AS n_events,
        |  CAST(count(DISTINCT table_name) AS BIGINT) AS n_tables,
        |  CAST(sum(CASE WHEN operation = 'INSERT' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
        |  CAST(sum(CASE WHEN operation = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
        |  CAST(sum(CASE WHEN operation = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
        |  CAST(sum(CASE WHEN operation = 'SNAPSHOT' THEN 1 ELSE 0 END) AS BIGINT) AS n_snapshot_reads,
        |  min(source_ts_ms) AS first_ms, max(source_ts_ms) AS last_ms,
        |  max(source_ts_ms) - min(source_ts_ms) AS span_ms
        |FROM p GROUP BY 1""".stripMargin,
    "ev_retention_bitmap" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events),
        |s AS (SELECT user_id, min(day) AS cohort_day FROM e WHERE event_type = 'signup' GROUP BY 1)
        |SELECT e.day - s.cohort_day AS day_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM e JOIN s ON e.user_id = s.user_id
        |WHERE e.day - s.cohort_day >= 0 AND e.day - s.cohort_day < 63
        |GROUP BY 1""".stripMargin,
    "ev_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS prev_type
        |  FROM events),
        |p AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n * 10000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_e4
        |FROM p""".stripMargin,
    "doc_lang_confusion" ->
      """WITH pred AS (
        |  SELECT lang,
        |    CASE WHEN (length(text) - length(replace(text, 'the', ''))) / 3.0
        |           / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) >= 0.03
        |         THEN 'en' ELSE 'und' END AS lang_pred
        |  FROM documents),
        |m AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2)
        |SELECT lang, lang_pred, n,
        |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS label_total,
        |  CAST(n * 10000 // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_e4
        |FROM m""".stripMargin,
    "ev_time_to_convert" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT user_id, min(epoch_us(ts)) AS purchase_us
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT CASE WHEN purchase_us >= signup_us
        |               THEN (purchase_us - signup_us) // 1000000 END AS delay_s
        |      FROM s JOIN p ON s.user_id = p.user_id)
        |SELECT count(*) AS n_converted,
        |  CAST(sum(CASE WHEN delay_s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_signup,
        |  round(quantile_cont(delay_s, 0.5), 4) AS p50_s,
        |  round(quantile_cont(delay_s, 0.9), 4) AS p90_s,
        |  max(delay_s) AS max_s
        |FROM d""".stripMargin,
    "ev_anomaly_mad" ->
      """WITH ev AS (SELECT event_type, value FROM events),
        |med AS (SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_v
        |        FROM ev GROUP BY 1),
        |dev AS (SELECT ev.event_type, median_v, abs(value - median_v) AS absdev
        |        FROM ev JOIN med ON ev.event_type = med.event_type),
        |mad AS (SELECT event_type, round(quantile_cont(absdev, 0.5), 4) AS mad_v
        |        FROM dev GROUP BY 1)
        |SELECT dev.event_type, median_v, mad_v, count(*) AS n_events,
        |  CAST(sum(CASE WHEN absdev > 3.0 * mad_v THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN absdev > 3.0 * mad_v THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
        |    AS outlier_ratio_e4
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |GROUP BY 1, 2, 3""".stripMargin,
    "ts_residual_anomaly" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |bd AS (SELECT event_type, (day + 4) % 7 AS dow, count(*) AS days_dow,
        |    CAST(sum(cents) AS BIGINT) AS t_dow
        |  FROM daily GROUP BY 1, 2),
        |r AS (SELECT d.event_type, d.day, (d.day + 4) % 7 AS dow, d.cents,
        |    CAST(b.t_dow // b.days_dow AS BIGINT) AS mean_dow,
        |    CAST(d.cents - b.t_dow // b.days_dow AS BIGINT) AS residual
        |  FROM daily d JOIN bd b ON d.event_type = b.event_type AND (d.day + 4) % 7 = b.dow),
        |med AS (SELECT event_type, round(quantile_cont(residual, 0.5), 4) AS med_r
        |        FROM r GROUP BY 1),
        |dev AS (SELECT r.*, med_r, abs(residual - med_r) AS absdev
        |        FROM r JOIN med USING (event_type)),
        |mad AS (SELECT event_type, round(quantile_cont(absdev, 0.5), 4) AS mad_r
        |        FROM dev GROUP BY 1)
        |SELECT dev.event_type, CAST(day AS BIGINT) AS day, CAST(dow AS BIGINT) AS dow,
        |  cents, mean_dow, residual, med_r, mad_r,
        |  CAST(CASE WHEN mad_r > 0 AND abs(residual - med_r) > 5.0 * mad_r
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM dev JOIN mad USING (event_type)""".stripMargin,
    "cdc_schema_migration" ->
      """WITH smo AS (
        |  SELECT * FROM (
        |    SELECT 'orders' AS src_table, 'o_custkey' AS col_name,
        |      count(o_custkey) AS n_rows_present,
        |      sum(CASE WHEN regexp_matches(CAST(o_custkey AS VARCHAR), '^-?[0-9]+$') THEN 1 ELSE 0 END) AS n_int,
        |      count(try_cast(CAST(o_custkey AS VARCHAR) AS DOUBLE)) AS n_num
        |    FROM orders
        |    UNION ALL SELECT 'orders', 'o_orderstatus', count(o_orderstatus),
        |      sum(CASE WHEN regexp_matches(o_orderstatus, '^-?[0-9]+$') THEN 1 ELSE 0 END),
        |      count(try_cast(o_orderstatus AS DOUBLE)) FROM orders
        |    UNION ALL SELECT 'orders', 'o_totalprice', count(o_totalprice),
        |      sum(CASE WHEN regexp_matches(CAST(o_totalprice AS VARCHAR), '^-?[0-9]+$') THEN 1 ELSE 0 END),
        |      count(try_cast(CAST(o_totalprice AS VARCHAR) AS DOUBLE)) FROM orders
        |    UNION ALL SELECT 'customer', 'c_name', count(c_name),
        |      sum(CASE WHEN regexp_matches(c_name, '^-?[0-9]+$') THEN 1 ELSE 0 END),
        |      count(try_cast(c_name AS DOUBLE)) FROM customer)
        |  WHERE n_rows_present > 0),
        |smt AS (SELECT 'orders' AS src_table, count(*) AS n_table_rows FROM orders
        |  UNION ALL SELECT 'customer', count(*) FROM customer),
        |smr(src_table, col_name) AS (
        |  VALUES ('orders', 'o_custkey'), ('orders', 'o_orderstatus'),
        |         ('orders', 'o_legacy_flag'),
        |         ('customer', 'c_name'), ('customer', 'c_phone')),
        |smj AS (SELECT coalesce(o.src_table, r.src_table) AS src_table,
        |    coalesce(o.col_name, r.col_name) AS col_name,
        |    o.n_rows_present, o.n_int, o.n_num,
        |    CASE WHEN r.col_name IS NULL THEN 'unregistered'
        |         WHEN o.col_name IS NULL THEN 'missing_in_data'
        |         ELSE 'ok' END AS status
        |  FROM smo o FULL OUTER JOIN smr r
        |    ON o.src_table = r.src_table AND o.col_name = r.col_name),
        |smf AS (SELECT j.*, t.n_table_rows,
        |    CASE WHEN n_rows_present IS NULL THEN NULL
        |         WHEN n_int = n_rows_present THEN 'BIGINT'
        |         WHEN n_num = n_rows_present THEN 'DOUBLE'
        |         ELSE 'STRING' END AS inferred_type,
        |    CASE WHEN n_rows_present IS NULL THEN 0
        |         ELSE n_rows_present * 1000000 // n_table_rows END AS fill_ppm
        |  FROM smj j LEFT JOIN smt t ON t.src_table = j.src_table)
        |SELECT src_table, col_name, status,
        |  CAST(coalesce(n_rows_present, 0) AS BIGINT) AS n_rows_present,
        |  inferred_type, CAST(fill_ppm AS BIGINT) AS fill_ppm,
        |  CASE WHEN status = 'unregistered' THEN
        |    'ALTER TABLE ' || src_table || ' ADD COLUMN ' || col_name || ' '
        |      || inferred_type
        |      || CASE WHEN fill_ppm = 1000000 THEN '' ELSE ' NULL' END
        |  END AS ddl
        |FROM smf""".stripMargin,
    "cdc_schema_drift" ->
      """WITH obs AS (
        |  SELECT * FROM (
        |    SELECT 'orders' AS src_table, 'o_custkey' AS col_name, count(o_custkey) AS n_rows_present FROM orders
        |    UNION ALL SELECT 'orders', 'o_orderstatus', count(o_orderstatus) FROM orders
        |    UNION ALL SELECT 'orders', 'o_orderpriority', count(o_orderpriority) FROM orders
        |    UNION ALL SELECT 'customer', 'c_name', count(c_name) FROM customer
        |    UNION ALL SELECT 'customer', 'c_nationkey', count(c_nationkey) FROM customer)
        |  WHERE n_rows_present > 0),
        |reg(src_table, col_name) AS (
        |  VALUES ('orders', 'o_custkey'), ('orders', 'o_orderstatus'),
        |         ('orders', 'o_legacy_flag'),
        |         ('customer', 'c_name'), ('customer', 'c_nationkey'))
        |SELECT coalesce(o.src_table, r.src_table) AS src_table,
        |  coalesce(o.col_name, r.col_name) AS col_name,
        |  CAST(coalesce(o.n_rows_present, 0) AS BIGINT) AS n_rows_present,
        |  CASE WHEN r.col_name IS NULL THEN 'unregistered'
        |       WHEN o.col_name IS NULL THEN 'missing_in_data'
        |       ELSE 'ok' END AS status
        |FROM obs o FULL OUTER JOIN reg r
        |  ON o.src_table = r.src_table AND o.col_name = r.col_name""".stripMargin,
    "ev_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
        |  FROM events),
        |m AS (SELECT *, max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e FROM iv),
        |f AS (SELECT *, CASE WHEN prev_max_e IS NULL OR s_us > prev_max_e THEN 1 ELSE 0 END AS is_new FROM m),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f),
        |mg AS (SELECT user_id, island, count(*) AS n_raw, min(s_us) AS s, max(e_us) AS e
        |       FROM g GROUP BY user_id, island)
        |SELECT user_id, CAST(sum(n_raw) AS BIGINT) AS n_events,
        |  count(*) AS n_intervals,
        |  CAST(sum(e - s) AS BIGINT) AS covered_us,
        |  CAST(max(e - s) AS BIGINT) AS longest_us
        |FROM mg GROUP BY user_id""".stripMargin,
    "doc_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    md5('wsample_' || CAST(doc_id AS VARCHAR)) AS hh
        |  FROM documents),
        |u AS (SELECT doc_id, lang, source, n_chars,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 1048576 +
        |    (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 65536 +
        |    (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 4096 +
        |    (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(hh, 6, 1)) - 1) AS u
        |  FROM h)
        |SELECT doc_id, lang, source, n_chars,
        |  CAST(n_chars * 16777216 // (u + 1) AS BIGINT) AS priority
        |FROM u ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    "corpus_overlap_kmv" ->
      """WITH tok AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT DISTINCT source, md5(array_to_string(toks[i:i+4], ' ')) AS h
        |       FROM tok, UNNEST(range(1, len(toks) - 3)) AS t(i) WHERE len(toks) >= 5),
        |km AS (SELECT source, h FROM (
        |         SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
        |         FROM sh) WHERE rnk <= 128),
        |p AS (SELECT a.source AS src_a, b.source AS src_b
        |      FROM (SELECT DISTINCT source FROM km) a, (SELECT DISTINCT source FROM km) b
        |      WHERE a.source < b.source),
        |m AS (SELECT p.src_a, p.src_b, k.h,
        |        max(CASE WHEN k.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
        |        max(CASE WHEN k.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        |      FROM p JOIN km k ON k.source IN (p.src_a, p.src_b)
        |      GROUP BY p.src_a, p.src_b, k.h),
        |r AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rnk FROM m)
        |SELECT src_a, src_b, count(*) AS n_union,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
        |  CAST(sum(in_a * in_b) * 1000000 // count(*) AS BIGINT) AS jaccard_ppm
        |FROM r WHERE rnk <= 128 GROUP BY src_a, src_b""".stripMargin,
    "ev_pareto_share" ->
      """WITH t AS (
        |  SELECT user_id, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY user_id),
        |c AS (SELECT *, CAST(sum(cents) OVER (ORDER BY cents DESC, user_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t),
        |g AS (SELECT max(cum) AS total_cents FROM c),
        |p AS (SELECT unnest([50, 80, 90, 99]) AS pct)
        |SELECT CAST(p.pct AS BIGINT) AS pct,
        |  CAST(sum(CASE WHEN (c.cum - c.cents) * 100 < p.pct * g.total_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_top_users,
        |  CAST(min(CASE WHEN c.cum * 100 >= p.pct * g.total_cents THEN c.cum END) AS BIGINT) AS covered_cents,
        |  CAST(min(CASE WHEN c.cum * 100 >= p.pct * g.total_cents THEN c.cum END) * 1000000 // max(g.total_cents) AS BIGINT) AS covered_ppm
        |FROM c, g, p
        |GROUP BY p.pct""".stripMargin,
    "ev_moments" ->
      """WITH e AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |m AS (SELECT event_type, CAST(sum(c) // count(*) AS BIGINT) AS mu_cents,
        |        count(*) AS n FROM e GROUP BY event_type),
        |d AS (SELECT e.event_type, m.n, m.mu_cents, CAST(e.c - m.mu_cents AS HUGEINT) AS dv
        |      FROM e JOIN m USING (event_type)),
        |s AS (SELECT event_type, max(n) AS n, max(mu_cents) AS mu_cents,
        |        CAST(sum(dv * dv) AS DECIMAL(38,0)) AS s2,
        |        CAST(sum(dv * dv * dv) AS DECIMAL(38,0)) AS s3,
        |        CAST(sum(dv * dv * dv * dv) AS DECIMAL(38,0)) AS s4
        |      FROM d GROUP BY event_type)
        |SELECT event_type, n, mu_cents,
        |  CAST(s2 AS VARCHAR) AS s2, CAST(s3 AS VARCHAR) AS s3, CAST(s4 AS VARCHAR) AS s4,
        |  CASE WHEN s2 = 0 THEN NULL ELSE round(CAST(s3 AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / (CAST(s2 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE))), 4) END AS skewness,
        |  CASE WHEN s2 = 0 THEN NULL ELSE round(CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE) / (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)), 4) END AS kurtosis
        |FROM s""".stripMargin,
    "ev_value_mode" ->
      """WITH v AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v, count(*) AS cnt
        |           FROM events GROUP BY event_type, CAST(floor(value) AS BIGINT)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY cnt DESC, v ASC) AS rk FROM v),
        |nb AS (SELECT event_type, count(*) AS n_distinct_buckets FROM v GROUP BY event_type)
        |SELECT r.event_type, r.v AS mode_v, r.cnt AS n_mode, nb.n_distinct_buckets
        |FROM r JOIN nb USING (event_type) WHERE r.rk = 1""".stripMargin,
    "dedup_family_sizes" ->
      """WITH fam AS (SELECT md5(text) AS digest, count(*) AS family_size
        |             FROM documents GROUP BY md5(text)),
        |tot AS (SELECT count(*) AS n_total FROM documents)
        |SELECT family_size, count(*) AS n_families,
        |  CAST(family_size * count(*) AS BIGINT) AS n_docs,
        |  CAST(family_size * count(*) * 1000000 // max(tot.n_total) AS BIGINT) AS doc_share_ppm
        |FROM fam, tot GROUP BY family_size""".stripMargin,
    "cdc_watermark_advice" ->
      """WITH l AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM events),
        |d AS (SELECT event_type, event_id,
        |    greatest(CAST(0 AS BIGINT), coalesce(prev_max - ts_us, 0)) AS late_us FROM l),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY late_us, event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  min(CASE WHEN rnk = (50 * n + 99) // 100 THEN late_us END) AS p50_us,
        |  min(CASE WHEN rnk = (95 * n + 99) // 100 THEN late_us END) AS p95_us,
        |  min(CASE WHEN rnk = (99 * n + 99) // 100 THEN late_us END) AS p99_us,
        |  max(late_us) AS max_us,
        |  min(CASE WHEN rnk = (99 * n + 99) // 100 THEN late_us END) AS wm_advice_us
        |FROM r GROUP BY 1""".stripMargin,
    "ev_hour_profile" ->
      """WITH h AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour, count(*) AS n_events
        |           FROM events GROUP BY 1),
        |t AS (SELECT sum(n_events) AS total FROM h)
        |SELECT CAST(hour AS BIGINT) AS hour, n_events,
        |  CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(n_events * 1000000 // total - 1000000 // 24 AS BIGINT) AS dev_ppm
        |FROM h, t""".stripMargin,
    "ev_ab_cuped" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |md AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
        |p AS (SELECT user_id,
        |    CAST(sum(CASE WHEN day < md.mid THEN cents ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN day >= md.mid THEN cents ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 AS arm
        |  FROM e, md GROUP BY user_id),
        |s AS (SELECT count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS sx_a,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS sy_a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS sx_b,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS sy_b
        |  FROM p)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta,
        |  round(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b, 4) AS raw_diff_cents,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE round(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_b AS DOUBLE) / n_b - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b), 4) END AS adj_diff_cents,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 4) END AS rho2
        |FROM s""".stripMargin,
    "cdc_ivm_audit" ->
      s"""$logCte,
         |b AS (SELECT *,
         |        lag(value) OVER w AS before_value,
         |        lag(event_type) OVER w AS before_type,
         |        lag(operation) OVER w AS before_op,
         |        row_number() OVER (PARTITION BY user_id ORDER BY seq_us DESC, event_id DESC) AS rn_desc
         |      FROM log
         |      WINDOW w AS (PARTITION BY user_id ORDER BY seq_us, event_id)),
         |c AS (
         |  SELECT event_type AS grp, CAST(round(value, 2) AS DECIMAL(12,2)) AS delta, 1 AS drows
         |  FROM b WHERE operation <> 'DELETE'
         |  UNION ALL
         |  SELECT before_type AS grp, -CAST(round(before_value, 2) AS DECIMAL(12,2)) AS delta, -1 AS drows
         |  FROM b WHERE before_op IS NOT NULL AND before_op <> 'DELETE'),
         |ivm AS (SELECT grp AS event_type, CAST(round(sum(delta), 2) AS DOUBLE) AS value_ivm,
         |          CAST(sum(drows) AS BIGINT) AS rows_ivm FROM c GROUP BY 1),
         |direct AS (SELECT event_type,
         |          CAST(round(sum(CAST(round(value, 2) AS DECIMAL(12,2))), 2) AS DOUBLE) AS value_direct,
         |          count(*) AS rows_direct
         |        FROM b WHERE rn_desc = 1 AND operation <> 'DELETE' GROUP BY 1)
         |SELECT coalesce(i.event_type, d.event_type) AS event_type,
         |  CAST(coalesce(i.rows_ivm, 0) AS BIGINT) AS rows_ivm,
         |  CAST(coalesce(d.rows_direct, 0) AS BIGINT) AS rows_direct,
         |  coalesce(i.value_ivm, 0.0) AS value_ivm,
         |  coalesce(d.value_direct, 0.0) AS value_direct,
         |  CAST(coalesce(i.rows_ivm, 0) = coalesce(d.rows_direct, 0)
         |    AND coalesce(i.value_ivm, 0.0) = coalesce(d.value_direct, 0.0) AS BIGINT) AS consistent
         |FROM ivm i FULL OUTER JOIN direct d ON i.event_type = d.event_type""".stripMargin,
    "emb_centroid_drift" ->
      """WITH x AS (
        |  SELECT label, vec_id, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v_e6
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
        |d AS (SELECT label, dim,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN v_e6 ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN v_e6 ELSE 0 END) AS BIGINT) AS s1,
        |    count(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END) AS n0,
        |    count(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END) AS n1
        |  FROM x GROUP BY label, dim),
        |s AS (SELECT label, max(n0) AS n_a, max(n1) AS n_b,
        |    CAST(sum(CAST(s0 AS HUGEINT) * s1) AS DECIMAL(38,0)) AS dot,
        |    CAST(sum(CAST(s0 AS HUGEINT) * s0) AS DECIMAL(38,0)) AS nrm0,
        |    CAST(sum(CAST(s1 AS HUGEINT) * s1) AS DECIMAL(38,0)) AS nrm1
        |  FROM d GROUP BY label)
        |SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN nrm0 = 0 OR nrm1 = 0 THEN NULL ELSE round(CAST(dot AS DOUBLE) / (sqrt(CAST(nrm0 AS DOUBLE)) * sqrt(CAST(nrm1 AS DOUBLE))), 6) END AS centroid_cos
        |FROM s""".stripMargin,
    "cdc_props_profile" ->
      """WITH t AS (SELECT count(*) AS n_total FROM events),
        |k AS (SELECT unnest(json_keys(props)) AS key, props FROM events),
        |v AS (SELECT key, json_extract_string(props, '$.' || key) AS v FROM k),
        |a AS (SELECT key, count(*) AS n_present,
        |    count(DISTINCT v) AS n_distinct,
        |    CAST(sum(CASE WHEN try_cast(v AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
        |    min(try_cast(v AS BIGINT)) AS min_int,
        |    max(try_cast(v AS BIGINT)) AS max_int
        |  FROM v GROUP BY key)
        |SELECT key, n_present, n_distinct, n_numeric, min_int, max_int,
        |  CAST(n_present * 1000000 // t.n_total AS BIGINT) AS fill_ppm
        |FROM a, t""".stripMargin,
    "doc_token_fertility" ->
      """WITH w AS (SELECT lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
        |a AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_words) AS BIGINT) AS n_words,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM w GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_chars,
        |  CAST(n_words * 10000 // n_docs AS BIGINT) AS words_per_doc_e4,
        |  CAST(n_chars * 10000 // n_words AS BIGINT) AS chars_per_word_e4
        |FROM a""".stripMargin,
    "ev_peak_concurrency" ->
      """WITH iv AS (SELECT event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
        |  FROM events),
        |pts AS (SELECT event_id, s_us AS t_us, CAST(1 AS BIGINT) AS delta FROM iv
        |        UNION ALL SELECT event_id, e_us, CAST(-1 AS BIGINT) FROM iv),
        |c AS (SELECT *, sum(delta) OVER (ORDER BY t_us, delta, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pts)
        |SELECT t_us // 86400000000 AS day_idx,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
        |  CAST(max(cum) AS BIGINT) AS peak_concurrency
        |FROM c GROUP BY 1""".stripMargin,
    "ev_churn_hazard" ->
      """WITH life AS (SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 604800000000 AS week
        |  FROM events GROUP BY user_id),
        |pw AS (SELECT week, count(*) AS churned FROM life GROUP BY week),
        |t AS (SELECT CAST(sum(churned) AS BIGINT) AS n_total FROM pw),
        |ar AS (SELECT *, sum(churned) OVER (ORDER BY week DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk FROM pw)
        |SELECT week, CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(churned AS BIGINT) AS churned,
        |  CAST(churned * 1000000 // at_risk AS BIGINT) AS hazard_ppm,
        |  CAST((at_risk - churned) * 1000000 // n_total AS BIGINT) AS survival_ppm
        |FROM ar, t""".stripMargin,
    // censored-survival replay: censor flag vs the global max ts, exact
    // integer Nelson-Aalen cumsum (per-day positive DIV terms, integer
    // addition order-independent — no float product chain)
    "ev_survival_censored" ->
      """WITH oe AS (SELECT max(epoch_us(ts)) AS obs_us FROM events),
        |lifec AS (SELECT (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS day,
        |    CASE WHEN (SELECT obs_us FROM oe) - max(epoch_us(ts))
        |         < CAST(7 AS BIGINT) * 86400000000 THEN 1 ELSE 0 END AS censored
        |  FROM events GROUP BY user_id),
        |pd AS (SELECT day, count(*) AS n_ending,
        |    sum(censored) AS n_censored,
        |    sum(1 - censored) AS n_churned
        |  FROM lifec GROUP BY day),
        |arc AS (SELECT *, sum(n_ending) OVER (ORDER BY day DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk FROM pd),
        |hz AS (SELECT day, at_risk, n_churned, n_censored,
        |    n_churned * 1000000 // at_risk AS hazard_ppm FROM arc)
        |SELECT day, CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(n_churned AS BIGINT) AS n_churned,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  CAST(hazard_ppm AS BIGINT) AS hazard_ppm,
        |  CAST(sum(hazard_ppm) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hazard_ppm
        |FROM hz""".stripMargin,
    // Markov removal-effect attribution: the chain build is plain window
    // SQL; the absorption solve replays as ten matmul CTEs (T^1024 by
    // repeated squaring over (scenario, i, j, v) rows — CONV absorbing,
    // transitions to END/removed have no column), the identical
    // fixed-op-count arithmetic the Scala side runs. Probabilities are
    // exact integer ratios; outputs floor(x+0.5) to ppm/cents, coarser
    // by ~1e7× than cross-engine summation-order noise.
    "ev_markov_attribution" ->
      ("""WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events),
        |j AS (SELECT user_id, ts_us, event_id, event_type,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS purch_before
        |  FROM ev),
        |st AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_t
        |  FROM j WHERE purch_before = 0),
        |trans AS (
        |  SELECT 'START' AS src,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS dst
        |  FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT event_type,
        |    coalesce(CASE WHEN next_t = 'purchase' THEN 'CONV' ELSE next_t END, 'END')
        |  FROM st WHERE event_type <> 'purchase'),
        |cnt AS MATERIALIZED (SELECT src, dst, count(*) AS n FROM trans GROUP BY 1, 2),
        |outm AS (SELECT src, sum(n) AS outn FROM cnt GROUP BY 1),
        |chan AS MATERIALIZED (SELECT DISTINCT src AS c FROM cnt WHERE src <> 'START'),
        |scen AS (SELECT c AS removed FROM chan UNION ALL SELECT ''),
        |states AS MATERIALIZED (
        |  SELECT s.removed, x.state FROM scen s CROSS JOIN
        |    (SELECT 'START' AS state UNION ALL SELECT c FROM chan
        |     UNION ALL SELECT 'CONV') x
        |  WHERE x.state <> s.removed),
        |m0 AS MATERIALIZED (
        |  SELECT s1.removed, s1.state AS i, s2.state AS jj,
        |    CASE WHEN s1.state = 'CONV'
        |         THEN CASE WHEN s2.state = 'CONV' THEN 1.0 ELSE 0.0 END
        |         ELSE coalesce(CAST(c.n AS DOUBLE) / o.outn, 0.0) END AS v
        |  FROM states s1 JOIN states s2 USING (removed)
        |  LEFT JOIN cnt c ON c.src = s1.state AND c.dst = s2.state
        |  LEFT JOIN outm o ON o.src = s1.state),
        |""" +
        (1 to 10).map(k =>
          s"""m$k AS (SELECT a.removed, a.i, b.jj, sum(a.v * b.v) AS v
             |  FROM m${k - 1} a JOIN m${k - 1} b
             |    ON a.removed = b.removed AND a.jj = b.i
             |  GROUP BY 1, 2, 3),""".stripMargin).mkString("\n") +
        """
        |pconv AS (SELECT removed, v AS p FROM m10 WHERE i = 'START' AND jj = 'CONV'),
        |pfull AS (SELECT p FROM pconv WHERE removed = ''),
        |re AS (SELECT ch.c AS channel,
        |    CASE WHEN pfull.p <= 0 THEN 0.0
        |         ELSE greatest(0.0, 1.0 - pc.p / pfull.p) END AS re
        |  FROM chan ch JOIN pconv pc ON pc.removed = ch.c, pfull),
        |nc AS (SELECT coalesce(sum(n), 0) AS nconv FROM cnt WHERE dst = 'CONV'),
        |rs AS (SELECT sum(re) AS resum FROM re)
        |SELECT channel,
        |  CAST(floor(re * 1000000 + 0.5) AS BIGINT) AS removal_effect_ppm,
        |  CASE WHEN rs.resum <= 0 THEN 0
        |       ELSE CAST(floor(nc.nconv * re / rs.resum * 100 + 0.5) AS BIGINT)
        |       END AS attributed_conv_c2
        |FROM re, rs, nc""").stripMargin,
    "cdc_op_sequence_audit" ->
      s"""$logCte,
         |lg AS (SELECT *, lag(operation) OVER (
         |    PARTITION BY user_id ORDER BY seq_us, event_id) AS prev_op FROM log),
         |v AS (SELECT *, CASE
         |    WHEN prev_op IS NULL AND operation != 'INSERT' THEN 'create_missing'
         |    WHEN prev_op = 'DELETE' AND operation != 'INSERT' THEN 'post_delete_mutation'
         |    WHEN prev_op IN ('INSERT', 'UPDATE') AND operation = 'INSERT' THEN 'duplicate_create'
         |    END AS violation FROM lg)
         |SELECT violation, count(*) AS n_rows,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
         |  CAST(min(event_id) AS BIGINT) AS first_event_id
         |FROM v WHERE violation IS NOT NULL GROUP BY violation""".stripMargin,
    "cdc_incremental_snapshot" ->
      s"""$logCte,
         |mid AS (SELECT (min(seq_us) + max(seq_us)) // 2 AS t_mid FROM log),
         |l2 AS (SELECT l.*, m.t_mid FROM log l, mid m),
         |snap_rn AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY seq_us DESC, event_id DESC) AS rn FROM l2 WHERE seq_us <= t_mid),
         |snapshot AS (SELECT user_id, seq_us, value FROM snap_rn
         |  WHERE rn = 1 AND operation != 'DELETE'),
         |logside AS (SELECT * FROM l2 WHERE seq_us > t_mid),
         |log_rn AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY seq_us DESC, event_id DESC) AS rn FROM logside),
         |logfinal AS (SELECT user_id, seq_us, value FROM log_rn
         |  WHERE rn = 1 AND operation != 'DELETE'),
         |logkeys AS (SELECT DISTINCT user_id FROM logside),
         |kept AS (SELECT s.* FROM snapshot s LEFT JOIN logkeys k
         |  ON s.user_id = k.user_id WHERE k.user_id IS NULL),
         |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM logfinal),
         |all_rn AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY seq_us DESC, event_id DESC) AS rn FROM l2),
         |direct AS (SELECT user_id, seq_us, value FROM all_rn
         |  WHERE rn = 1 AND operation != 'DELETE'),
         |parity AS (SELECT coalesce(m.user_id, d.user_id) AS user_id,
         |    m.seq_us AS m_seq, d.seq_us AS d_seq, m.value AS m_val, d.value AS d_val
         |  FROM merged m FULL OUTER JOIN direct d ON m.user_id = d.user_id),
         |pstat AS (SELECT user_id // 100 AS chunk_id,
         |    CAST(sum(CASE WHEN m_seq IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
         |    CAST(sum(CASE WHEN m_seq IS NULL OR d_seq IS NULL OR m_seq != d_seq
         |      OR m_val != d_val THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
         |  FROM parity GROUP BY 1),
         |sstat AS (SELECT s.user_id // 100 AS chunk_id, count(*) AS n_snapshot,
         |    CAST(sum(CASE WHEN k.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_superseded
         |  FROM snapshot s LEFT JOIN logkeys k ON s.user_id = k.user_id GROUP BY 1)
         |SELECT coalesce(s.chunk_id, p.chunk_id) AS chunk_id,
         |  CAST(coalesce(s.n_snapshot, 0) AS BIGINT) AS n_snapshot,
         |  CAST(coalesce(s.n_superseded, 0) AS BIGINT) AS n_superseded,
         |  CAST(coalesce(p.n_final, 0) AS BIGINT) AS n_final,
         |  CAST(coalesce(p.n_mismatch, 0) AS BIGINT) AS n_mismatch
         |FROM sstat s FULL OUTER JOIN pstat p ON s.chunk_id = p.chunk_id""".stripMargin,
    "q_dsar_export" ->
      """WITH subj AS (SELECT c_custkey AS subject FROM customer
        |  WHERE c_custkey % 100 = 7),
        |cu AS (SELECT subject, 'customer' AS tbl, count(*) AS n_rows,
        |    CAST(NULL AS BIGINT) AS first_us, CAST(NULL AS BIGINT) AS last_us
        |  FROM customer JOIN subj ON c_custkey = subject GROUP BY subject),
        |oo AS (SELECT subject, 'orders' AS tbl, count(*) AS n_rows,
        |    min(epoch_us(o_orderdate)) AS first_us,
        |    max(epoch_us(o_orderdate)) AS last_us
        |  FROM orders JOIN subj ON o_custkey = subject GROUP BY subject),
        |li AS (SELECT s.subject, 'lineitem' AS tbl, count(*) AS n_rows,
        |    min(epoch_us(l_shipdate)) AS first_us,
        |    max(epoch_us(l_shipdate)) AS last_us
        |  FROM lineitem l JOIN (SELECT o_orderkey, subject FROM orders
        |    JOIN subj ON o_custkey = subject) s ON l.l_orderkey = s.o_orderkey
        |  GROUP BY s.subject)
        |SELECT subject, tbl, n_rows, first_us, last_us FROM cu
        |UNION ALL SELECT * FROM oo
        |UNION ALL SELECT * FROM li""".stripMargin,
    "ts_alert_episodes" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |thr AS (SELECT event_type,
        |    CAST(round(quantile_cont(n, 0.9)) AS BIGINT) AS p90
        |  FROM daily GROUP BY 1),
        |breach AS (SELECT d.event_type, d.day, d.n, t.p90 FROM daily d
        |  JOIN thr t ON d.event_type = t.event_type WHERE d.n > t.p90),
        |isl AS (SELECT *, day - row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) AS island FROM breach)
        |SELECT event_type, min(day) AS start_day, max(day) AS end_day,
        |  count(*) AS n_days, max(n) AS peak_n, max(p90) AS p90,
        |  CAST(sum(n - p90) AS BIGINT) AS excess,
        |  CAST(CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS BIGINT) AS actionable
        |FROM isl GROUP BY event_type, island""".stripMargin,
    "ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
        |    (label + 1) % 10 AS want_label
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce, label
        |  FROM embeddings),
        |p AS (SELECT qid, want_label, nid, list_cosine_similarity(qe, ce) AS cosr
        |      FROM q JOIN c ON label = want_label WHERE nid <> qid),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
        |        ORDER BY cosr DESC, nid) AS INT) AS rnk,
        |      count(*) OVER (PARTITION BY qid) AS n_candidates FROM p)
        |SELECT qid, want_label, nid, round(cosr, 4) AS cos, rnk, n_candidates
        |FROM r WHERE rnk <= 5""".stripMargin,
    "cdc_ivm_join_delta" ->
      """WITH j AS (SELECT c_nationkey,
        |    (o_orderkey % 4 = 0) AS da, (c_custkey % 5 = 0) AS dc
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_nationkey,
        |  CAST(sum(CASE WHEN NOT da AND NOT dc THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |  CAST(sum(CASE WHEN da AND NOT dc THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_a,
        |  CAST(sum(CASE WHEN NOT da AND dc THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_b,
        |  CAST(sum(CASE WHEN da AND dc THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_ab,
        |  count(*) AS n_view,
        |  CAST(0 AS BIGINT) AS mismatch
        |FROM j GROUP BY c_nationkey""".stripMargin,
    "ts_brown_forecast" -> graft.operators.TimeSeries.brownOracle,
    "ts_backtest" -> graft.operators.TimeSeries.backtestOracle,
    "cdc_topk_ivm" -> Cdc.topkIvmOracle(),
    "cdc_lww_merge" -> Cdc.lwwMergeOracle(logCte),
    "tbl_sort_advisor" -> graft.operators.Profile.sortRunsOracle(
      s"(SELECT * FROM lineitem WHERE l_orderkey < $SortAdvisorBlockKeyCap)",
      SortAdvisorCandidates, SortAdvisorPayloads, SortAdvisorTiebreak),
    "tbl_column_stats" ->
      """WITH tcs AS (SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
        |    CAST(o_custkey AS VARCHAR) AS o_custkey,
        |    o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS o_totalprice,
        |    strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |    o_orderpriority
        |  FROM orders),
        |tcu AS (
        |  SELECT 'o_orderkey' AS col_name, o_orderkey AS v FROM tcs
        |  UNION ALL SELECT 'o_custkey', o_custkey FROM tcs
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM tcs
        |  UNION ALL SELECT 'o_totalprice', o_totalprice FROM tcs
        |  UNION ALL SELECT 'o_orderdate', o_orderdate FROM tcs
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM tcs)
        |SELECT col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT v) AS ndv,
        |  min(v) AS min_val, max(v) AS max_val,
        |  CAST(CASE WHEN count(v) > 0
        |    THEN sum(length(v)) * 100 // count(v) ELSE 0 END AS BIGINT) AS avg_len_e2
        |FROM tcu GROUP BY 1""".stripMargin,
    "cdc_backlog_eta" ->
      s"""$registryCte,
         |thr AS (SELECT epoch_us(ts) // 60000000 AS m, count(*) AS n
         |  FROM events GROUP BY 1),
         |dr AS (SELECT CAST(round(quantile_cont(n, 0.5)) AS BIGINT) AS drain_per_min
         |  FROM thr),
         |b AS (SELECT name,
         |    CAST(round(update_frequency * coalesce(last_processed_hours, 48.0) * 100) AS BIGINT) AS pending_changes,
         |    CAST(round(update_frequency * coalesce(last_processed_hours, 48.0) * 100 * avg_row_size / 10485.76) AS BIGINT) AS backlog_mb_e2
         |  FROM p WHERE cdc_enabled)
         |SELECT name, pending_changes, backlog_mb_e2, drain_per_min,
         |  pending_changes * 60 // drain_per_min AS eta_s,
         |  CAST(pending_changes * 60 // drain_per_min > 3600 AS BIGINT) AS sla_breach
         |FROM b, dr""".stripMargin
  )
}
