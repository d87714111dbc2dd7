package graft.engine

import graft.SparkSpec
import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Scale-posture assertions on the PHYSICAL PLANS, not just results:
  * filters reach the parquet scan, small dims broadcast, bucketed tables
  * join without a shuffle, salting preserves semantics. */
class ScaleSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan (q06)") {
    val df = graft.SparkEntry.queries("q06_forecast_revenue")(spark, sf0001)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.05)") ||
      plan.contains("IsNotNull(l_discount)"), "l_discount filter not pushed")
  }

  test("column pruning: q06 scan reads only the needed columns") {
    val df = graft.SparkEntry.queries("q06_forecast_revenue")(spark, sf0001)
    val scan = planOf(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("l_extendedprice") && !scan.contains("l_orderkey"),
      scan)
  }

  test("dimension joins broadcast (q02)") {
    val df = graft.SparkEntry.queries("q02_revenue_by_nation")(spark, sf0001)
    assert(planOf(df).contains("BroadcastHashJoin"))
  }

  test("bucketed tables join with zero exchanges") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force a sort-merge join — broadcast would hide the shuffle question
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = new Project(spark, Target("dev", "buck", threads = 2))
      p.model("fact_a", ModelConfig(materialized =
        Materialization.BucketedTable(Seq("k"), 4, Seq("k")))) { ctx =>
        import ctx.spark.implicits._
        (1 to 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "a")
      }
      p.model("fact_b", ModelConfig(materialized =
        Materialization.BucketedTable(Seq("k"), 4, Seq("k")))) { ctx =>
        import ctx.spark.implicits._
        (1 to 1000).map(i => (i.toLong % 40, i.toLong * 2)).toDF("k", "b")
      }
      assert(p.run().ok)
      val joined = spark.table("buck.fact_a").join(spark.table("buck.fact_b"), "k")
        .groupBy("k").agg(sum(col("a")), sum(col("b")))
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")

      // the same join over plain tables MUST shuffle — proves the bucketed
      // layout (not some other property) removed the exchanges
      spark.table("buck.fact_a").write.mode("overwrite").saveAsTable("buck.plain_a")
      spark.table("buck.fact_b").write.mode("overwrite").saveAsTable("buck.plain_b")
      val plainPlan = planOf(
        spark.table("buck.plain_a").join(spark.table("buck.plain_b"), "k")
          .groupBy("k").agg(sum(col("a")), sum(col("b"))))
      assert(plainPlan.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("registry-wide plan lint: no hidden cartesian / nested-loop joins") {
    // Standing tripwire: every registered query's physical plan is walked,
    // and any CartesianProduct / BroadcastNestedLoopJoin outside the
    // justified allowlist fails the build — a future operator cannot ship
    // a hidden quadratic join. Justified exceptions:
    //  - x06: the labeled all-pairs exact-verification baseline (row-cap
    //    guarded; scale twin x31 is the production path)
    //  - x25: a SINGLE-ROW corpus-count table cross-joined under an
    //    explicit broadcast hint — a 1-row BNLJ is the cheapest way to
    //    attach a scalar to every row, not a quadratic join
    //  - x14: IVF cell assignment joins every vector against the
    //    BROADCAST nlist-row centroid table (index metadata, bounded by
    //    construction) — |corpus|·nlist work is the definition of IVF
    //    assignment, not an accidental cross join
    //  - x40/x45: same 1-row shape as x25 — the vocabulary-size scalar is
    //    attached via an explicit single-row broadcast (x45 composes x40)
    //  - x48: a GROUP-COUNT table (not corpus rows) cross-joins its own
    //    single-row weight total before broadcasting quotas
    //  - x51: same 1-row shape as x25/x40 — the corpus-totals scalar and
    //    the 1-row priors table attach via explicit single-row broadcasts
    //  - x57: composes the NB scorer, so it inherits x51's 1-row
    //    broadcast shapes inside its quality stage
    //  - x62: composes ivfTopK, so it inherits x14's broadcast
    //    centroid-assignment shape (|corpus|·nlist by construction)
    //  - x71/x72: the k exact top rows cross-join the ONE totals
    //    aggregate row via an explicit single-row broadcast — x25/x40's
    //    1-row shape
    //  - x76: the B-row bucket-stats table (not corpus rows) cross-joins
    //    its own single-row totals aggregate before broadcasting the
    //    log-ratio table — x48's group-count shape
    //  - x78: the S-row per-source totals cross-join the (K+1)-row
    //    corpus-bucket table (and its 1-row total) to build the FULL
    //    JS support grid — both sides bounded group-count tables
    //  - x81: the N/avgdl corpus-stats scalar attaches via an explicit
    //    single-row broadcast — x25/x40's 1-row shape
    //  - x84: inherits x78's support-grid shape over the merged drift
    //    ledger (S×(K+1)-row group-count tables)
    //  - x87: the k exact top rows cross-join the ONE sketch/totals
    //    aggregate row via an explicit single-row broadcast — x71's shape
    //  - x91: inherits x81's 1-row corpus-stats broadcast, plus the two
    //    BOUNDED top-K rank joins (K×K broadcast comparison joins over
    //    20-row retrieval lists — the deliberate no-global-window rank)
    //  - x96: the two corpus totals (unigram/bigram) attach via explicit
    //    single-row broadcasts — x25/x40's 1-row shape
    //  - x100: inherits x81's 1-row N/avgdl broadcast (the BM25 scoring
    //    chain, verbatim)
    //  - x107: composes the x51 scorer (its 1-row corpus-totals and
    //    priors broadcasts), then attaches the 1-row ECE-total aggregate
    //    to the BINS-sized frame via an explicit single-row broadcast —
    //    x25/x40's 1-row shape
    //  - x114: the SHARDS-sized frame cross-joins the 1-row unmatched
    //    count via an explicit single-row broadcast — x25/x40's shape
    //  - x112: the CLASSES-sized frame cross-joins its own single-row
    //    corpus-total aggregate via an explicit broadcast — x48's
    //    group-count shape
    //  - x108: composes the x40 scorer (its 1-row vocabulary scalar);
    //    group stats attach by key join, no new cross-join shapes
    //  - x106: composes the x40 scorer (its 1-row vocabulary scalar),
    //    then attaches the 1-row corpus-reference and boost-total
    //    aggregates to the DOMAINS-sized frame via explicit single-row
    //    broadcasts — x25/x40's 1-row shape
    val allow = Set("x06_embedding_neardups", "x25_tfidf_top_terms",
      "x14_ivf_ann", "x40_lm_bigram_nll", "x45_perplexity_buckets",
      "x48_temperature_resample", "x51_nb_quality_score",
      "x57_training_mix_pipeline", "x62_ivf_pq_ann",
      "x71_heavy_hitters", "x72_streaming_heavy_hitters",
      "x76_dsir_resample", "x78_source_js_drift", "x81_bm25_topk",
      "x84_streaming_source_drift", "x87_countmin_freq",
      "x91_hybrid_rrf", "x96_pmi_collocations", "x100_hard_negatives",
      "x106_doremi_mix", "x107_nb_calibration",
      "x108_quality_ensemble", "x112_k_anonymity",
      "x114_deletion_impact", "x115_streaming_suppression",
      // x119 composes the x51 scorer (its 1-row corpus-totals and priors
      // broadcasts) and adds its own 1-row × 1-row kappa-totals
      // cross-join — x25/x40's shape
      "x119_filter_agreement",
      // x125: the source_a < source_b pair join runs over the
      // GROUPS-sized centroid frame (S rows of index metadata, not
      // corpus rows) — x78's bounded-group-table join class
      "x125_source_similarity",
      // x132: the bigram-type-count scalar T attaches via an explicit
      // single-row broadcast — x25/x40's 1-row shape
      "x132_kneser_ney_nll",
      // x134: the 1-row funnel-entry count cross-joins the K-row report
      // frame via an explicit single-row broadcast — x25/x40's shape
      "x134_funnel",
      // x137: the 1-row key-count total cross-joins the key-cardinality
      // count table via explicit single-row broadcasts — x25/x40's shape
      "x137_skew_profile",
      // x168: the 1-row corpus-token total cross-joins the groups-sized
      // merged ledger via an explicit single-row broadcast — x25/x40's
      // shape
      "x168_streaming_token_ledger",
      // x175: the 1-row vocabulary total cross-joins the batches-sized
      // novelty frame via an explicit single-row broadcast — same shape
      "x175_streaming_novelty_ledger",
      // x195: GlobalOrder's bounded triangular super-offset join (the
      // x176/x188 class) + 1-row totals/max broadcasts — both
      // adjudicated shapes
      "x195_ks_drift",
      // x202: GlobalOrder's bounded triangular super-offset join, the
      // parts-sized (≤ 10-row) triangular cumulative self-join, and
      // the 1-row total/grand broadcasts — all adjudicated bounded
      // shapes (x176/x188 and x25/x40 classes)
      "x202_scorer_gains",
      // x201: the 1-row exact-distinct adjudicator cross-joins the
      // 1-row KMV estimate via an explicit single-row broadcast —
      // x25/x40's 1-row shape
      "x201_streaming_kmv_ledger",
      // x200: the 1-row raw-stage stats cross-join the 4-row stage
      // union via an explicit single-row broadcast — x25/x40's shape
      "x200_curation_funnel",
      // x194: the four capture/overlap/exact counts are all 1-row
      // aggregates combined via explicit single-row broadcasts —
      // x25/x40's 1-row shape
      "x194_capture_recapture",
      // x193: the 1-row observed-total aggregate cross-joins the
      // buckets-sized joined frame via an explicit single-row
      // broadcast — x25/x40's 1-row shape
      "x193_srm_check",
      // x176/x188: GlobalOrder's triangular super-offset join is a
      // deliberate non-equi self-join over the SUPER-PREFIX TOTALS
      // frame — bounded by |alphabet|^superChars (≤ 16² here), never
      // corpus rows — x125's bounded-group-table join class; it
      // replaces the banned global cumulative window
      "x176_sorted_neighborhood", "x188_global_rank",
      // x189: same triangular super-offset join (weighted), PLUS the
      // 1-row corpus-total aggregate cross-joining the
      // NDV-sized cumulative histogram via an explicit single-row
      // broadcast — x25/x40's 1-row shape
      "x189_range_splitters",
      // x184: the 1-row global-pool aggregate cross-joins the
      // classes-sized thin-cell frame via an explicit single-row
      // broadcast — x25/x40's 1-row shape
      "x184_post_stratification",
      // x178: the 1-row min/max normalization bounds cross-join the
      // corpus scan via an explicit single-row broadcast — x25/x40's
      // 1-row shape
      "x178_zorder_layout",
      // x143: composes x06's capped exact all-pairs edge baseline (the
      // loud require(<=100k) cross join); the triangle machinery itself
      // is equi-join-only — production edges come from the x31 LSH chain
      "x143_dup_graph_triangles",
      // x203: the recall verdict (1-row agg) cross-joins the scan
      // verdict (1-row agg) and ivfScanStats' 1-row corpus total
      // cross-joins the probe counts — all x25/x40's 1-row broadcast
      // shape; the ANN data path itself is equi-join-only
      "x203_ivf_bounded_scan",
      // x204: vocab ids ride GlobalOrder.cumulativeSums, whose
      // triangular super-offset join is the same
      // |alphabet|^superChars-bounded non-equi shape as x176/x188/x202;
      // the corpus encode path is equi-join-only
      "x204_bpe_encode",
      // x207: GlobalOrder's bounded triangular join (twice) PLUS the
      // depth-bounded X_d join (weights x m-histogram, both <= depth
      // <= 10000 rows by construction) — the x202 cumulative class
      "x207_rbo_ranking_agreement",
      // x208: the 1-row ledger-hygiene verdict AND the 1-row composed
      // rewrite verdict cross-join the per-doc re-admission frame via
      // explicit single-row broadcasts — x25/x40's 1-row shape; the
      // purge/ledger data path is equi/anti-join-only
      "x208_ledger_takedown_purge")
    // sweep from a defined cache state: cached relations left by earlier
    // tests (or by this sweep's own earlier queries) swap subplans for
    // InMemoryRelation and change plan text order-dependently
    spark.catalog.clearCache()
    def offenders(plan: String): Seq[String] =
      Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
    // the lint must see the offending operator through AQE plan wrappers —
    // prove it on a deliberately-broken fixture before trusting the sweep
    val fixture = spark.range(5).crossJoin(spark.range(5))
    assert(offenders(planOf(fixture)).nonEmpty,
      "lint fixture: cross join not visible in the plan string")
    val nonEqui = spark.range(10).toDF("a")
      .join(spark.range(10).toDF("b"), col("a") < col("b"))
    assert(offenders(planOf(nonEqui)).nonEmpty,
      "lint fixture: non-equi join not visible in the plan string")
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => allow.contains(q._1))
      .flatMap { case (name, fn) =>
        val off = offenders(planOf(fn(spark, sf0001)))
        if (off.isEmpty) Nil else Seq(s"$name: ${off.mkString("+")}")
      }
    assert(bad.isEmpty,
      s"unexpected quadratic join shapes:\n${bad.mkString("\n")}")
  }

  test("shuffle budgets: EVERY registered query declares one and holds it") {
    // Pins the EXCHANGE COUNT (shuffles, not broadcasts; counted by
    // graft.PlanAudit.shuffleCount, also a runnable dev main) of every
    // query in the registry — a regression adding a hidden shuffle to any
    // operator fails here, not in a 100x-scale incident. Budgets include
    // the final total-order sort; values are the measured plan of record
    // (PlanAudit at sf0.001). A NEW query must add its measured budget
    // here — the completeness assertion below makes omission a failure.
    val budgets = Map(
      // TPC-H-ish core: agg/join pipelines, usually partial+final agg
      // (or broadcast-joined scans) + the total-order sort
      "q01_pricing_summary" -> 2, "q02_revenue_by_nation" -> 2,
      "q03_top_open_orders" -> 1, "q04_priority_with_returns" -> 2,
      "q05_local_supplier_volume" -> 2, "q06_forecast_revenue" -> 1,
      "q07_promo_revenue_share" -> 1, "q08_market_share" -> 2,
      "q09_profit_by_nation_year" -> 2,
      "q10_returned_revenue_by_customer" -> 1,
      "q11_union_all_tiers" -> 1, "q12_union_by_name" -> 1,
      "q13_distinct_status_priority" -> 2,
      "q14_top3_orders_per_customer" -> 2,
      "q15_running_customer_spend" -> 2,
      "q16_customers_without_open_orders" -> 1,
      "q17_suppliers_with_bulk_lines" -> 1, "q18_frequent_customers" -> 2,
      "q19_rollup_status_priority" -> 2, "q20_events_json_extract" -> 2,
      "q21_events_daily" -> 2, "q22_intersect_customers" -> 2,
      "q23_except_customers" -> 2, "q24_pivot_status_counts" -> 3,
      "q25_scalar_functions" -> 1, "q26_group_by_all" -> 2,
      "q27_orders_above_customer_avg" -> 2, "q28_date_spine" -> 2,
      "q29_surrogate_key" -> 1, "q30_approx_distinct" -> 3,
      "q31_cheapest_open_order" -> 2, "q32_large_volume_orders" -> 2,
      "q33_datetime_functions" -> 1, "q34_string_null_functions" -> 1,
      "q35_listagg_priorities" -> 2, "q36_explode_type_words" -> 1,
      "q37_variant_nested" -> 1, "q38_grouping_sets" -> 2,
      "q39_unpivot_metrics" -> 1, "q40_percentiles" -> 2,
      "q41_stats_aggregates" -> 2, "q42_window_navigation" -> 2,
      // pipeline operators: per-row expression queries budget 1 (the
      // order-by), one-agg queries 2, banded/candidate joins 2-4,
      // iterative CC and multi-stage compositions higher (each stage's
      // agg/join/window + the final sort)
      "x01_dedup_exact" -> 2, "x02_jaccard_neardups" -> 5,
      "x03_minhash_lsh" -> 2, "x04_simhash_groups" -> 2,
      "x05_knn_cosine" -> 1, "x06_embedding_neardups" -> 1,
      "x07_text_quality" -> 1, "x08_token_counts" -> 1,
      "x09_winnow_fingerprints" -> 1, "x10_sessionize" -> 2,
      "x11_stream_hourly" -> 1, "x12_multimodal_meta" -> 1,
      // x13: pre-codec round-robin rebalance + the total-order sort
      "x13_multimodal_features" -> 2, "x14_ivf_ann" -> 9,
      "x15_asof_join" -> 2, "x16_variant_json" -> 1,
      "x17_range_join" -> 1, "x18_simhash_neardups" -> 2,
      "x19_dup_components" -> 4, "x20_langid" -> 1,
      "x21_stream_dedup" -> 2, "x22_hash_split" -> 3,
      "x23_quantize_embeddings" -> 1, "x24_stream_join" -> 2,
      "x25_tfidf_top_terms" -> 5, "x26_interval_overlap" -> 1,
      "x27_dedup_keeplist" -> 3, "x28_quality_filters" -> 1,
      "x29_stratified_cap" -> 2, "x30_containment_pairs" -> 5,
      "x31_embedding_lsh_pairs" -> 2, "x32_dup_components_star" -> 5,
      "x33_decontaminate" -> 3, "x34_pii_redaction" -> 1,
      "x35_pack_bins" -> 2, "x36_repeated_spans" -> 3,
      "x37_session_window" -> 2, "x38_remove_repeated_spans" -> 4,
      "x39_srp_lsh_production" -> 2, "x40_lm_bigram_nll" -> 5,
      "x41_weighted_sample" -> 2, "x42_chunk_documents" -> 1,
      "x43_embedding_dedup_keeplist" -> 4, "x44_streaming_table_model" -> 2,
      "x45_perplexity_buckets" -> 6, "x46_curation_pipeline" -> 5,
      "x47_corpus_stats" -> 3, "x48_temperature_resample" -> 5,
      // x49: two pre-codec rebalances (stills, animated GIFs) + the
      // total-order sort; the id joins AQE-broadcast at audit scale and
      // shuffle-join correctly at 100 TB (no broadcast hint — spec is
      // corpus-sized)
      "x49_multimodal_resize_frames" -> 3, "x50_incremental_dedup" -> 2,
      "x51_nb_quality_score" -> 7, "x52_bpe_merges" -> 1,
      "x53_bpe_token_counts" -> 2, "x54_payload_neardups" -> 2,
      "x55_url_domain_curation" -> 4,
      "x56_incremental_embedding_dedup" -> 2,
      "x57_training_mix_pipeline" -> 17,
      "x58_streaming_dedup_ledger" -> 2, "x59_repetition_signals" -> 1,
      "x60_source_overlap" -> 5, "x61_pq_codebooks" -> 2,
      "x62_ivf_pq_ann" -> 9, "x63_fused_dedup_keeplist" -> 4,
      // x65: the two-phase rank checkpoints its ranked corpus up front
      // (range shuffle happens at build time, before the returned plan),
      // so the registered plan is broadcast-join + manifest agg + sort
      "x64_streaming_embedding_ledger" -> 2, "x65_shard_manifest" -> 2,
      // x66: pack + header decode are map-side; the only exchange is the
      // final total-order sort
      "x66_image_decode" -> 1,
      // x67: the verdict harness reads the checkpointed assignment/pair
      // frames from several consumers (CC rounds + witness/independence
      // joins + final agg) — each consumer re-exchanges id-width rows
      "x67_semdedup" -> 15,
      // x68: one per-group percentile agg + the total-order sort (the
      // threshold join is broadcast)
      "x68_adaptive_quality" -> 2,
      // x69: corpus-postings distinct + per-bench-doc agg + the zero-row
      // left join + sort; the bench shingle side is broadcast
      "x69_contamination_report" -> 5,
      // x70: partial+final distinct-count agg + sort
      "x70_cardinality_sketch" -> 3,
      // x71: exact top-k agg + its order-by; the sketch side is ONE
      // map-side-summarized single-row agg (no shuffle of its own)
      "x71_heavy_hitters" -> 2,
      // x72: x71's two + the sketch-sized ledger merge, which now
      // dedups at-least-once replays on (batch_id, term) before the
      // groupBy-sum — the dedup exchange feeds both the summary and the
      // sentinel-totals consumers (all sketch-sized rows)
      "x72_streaming_heavy_hitters" -> 5,
      // x73: percentile agg + the rank-check re-agg + sort (the 5-row
      // per-source sketch table broadcasts into the rank scan)
      "x73_quantile_sketch" -> 3,
      // x74: decode-gate join + the dup-group agg + manifest agg/sort
      "x74_multimodal_curation" -> 3,
      // x75: bloom-pruned candidates join bench shingles + contaminated-id
      // distinct + sort; the bloom build itself is a driver-side sketch
      "x75_decontaminate_bloom" -> 3,
      // x76: bucket-stats agg (persisted; its 1-row totals agg reads the
      // cache) + the per-doc scoring agg + the post-TakeOrdered doc_id
      // sort (the log-ratio table broadcasts)
      "x76_dsir_resample" -> 3,
      // x77: CC label probe join + split map + the total-order sort (the
      // CC internals checkpoint before the registered plan)
      "x77_leakage_safe_split" -> 3,
      // x78: the corpus-sized exchanges are the vocab agg and the
      // per-source bucket agg; the other five (source totals, corpus
      // buckets, 1-row total, final agg, sort) move S×(K+1)-row tables
      "x78_source_js_drift" -> 7,
      // x79: pure per-row Column pipeline — the only exchange is the
      // total-order sort
      "x79_boilerplate_strip" -> 1,
      // x80: native DEFLATE map pass — the only exchange is the sort
      "x80_compression_signal" -> 1,
      // x81: query-term tf agg + |Q|-row df agg + the dl probe join +
      // the per-doc score agg + the post-TakeOrdered doc_id sort (N/avgdl
      // ride the 1-row broadcast)
      "x81_bm25_topk" -> 5,
      // x82: per-row normalization expressions — only the sort
      "x82_unicode_normalize" -> 1,
      // x83: labels×dim component agg + centroid rebuild + the two
      // salted bottom-k windows + the total-order sort (centroids
      // broadcast into the scoring join)
      "x83_label_outliers" -> 5,
      // x84: the streaming appends run at build time; the registered
      // plan is ledger-sized — replay dedup + the x78 JS tail, whose
      // grid/total aggs each re-exchange S×(K+1)-row tables (the
      // un-persisted merged ledger feeds three consumers)
      "x84_streaming_source_drift" -> 13,
      // x85: the persisted pair cache feeds CC + two audit joins; each
      // consumer re-exchanges id-width pair/assignment rows
      "x85_split_leakage_audit" -> 11,
      // x86: df agg + the per-doc rarest-first sort agg + the prefix
      // self-join's candidate distinct + verify joins + the final sort
      // (the persisted doc→shingles relation exchanges once)
      "x86_setsim_exact_join" -> 5,
      // x87: exact top-k agg + its order-by; the sketch is ONE
      // map-side-summarized single-row agg (x71's shape)
      "x87_countmin_freq" -> 2,
      // x88: shingle-df agg + per-doc agg + the shingleless left join
      // feeding the total-order sort
      "x88_memorization_risk" -> 3,
      // x89: key distinct + variant self-join candidate distinct + the
      // final sort (levenshtein verify is map-side)
      "x89_editdist_join" -> 3,
      // x90: the distributed pool selection + bounded-pool pairwise
      // cosines execute at BUILD time (x65's checkpoint pattern); the
      // registered plan is the k-row local result + its sort
      "x90_mmr_select" -> 1,
      // x91: the x81 BM25 chain (tf agg + df agg + dl join + score agg)
      // + the semantic TakeOrdered + the two bounded rank aggs + the
      // fused agg + sort (rank joins themselves broadcast)
      "x91_hybrid_rrf" -> 10,
      // x92: two persisted (id, v, nrm) bases exchange once each; the
      // bipartite band join, candidate distinct, contaminated distinct
      // and the anti-join + sort make up the rest
      "x92_semantic_decontaminate" -> 7,
      // x93: pre-codec rebalance + band join + candidate distinct + sort
      // over the persisted (id, phash) relation
      "x93_perceptual_neardups" -> 3,
      // x94: the streaming appends run at build time; the registered
      // plan is exact top-k agg + its order-by + the sketch-sized
      // ledger-merge dedup (the x72 shape minus the cross joins — the
      // counters ride in as a driver-pulled dense literal)
      "x94_streaming_countmin" -> 3,
      // x95: the 10 contribution-join + per-dst-agg rounds checkpoint at
      // build time (the CC iteration discipline); the registered plan is
      // the final checkpointed rank frame + its total-order sort
      "x95_pagerank" -> 1,
      // x96: bigram agg + unigram agg + the two word-keyed stat joins +
      // the post-TakeOrdered sort (totals ride 1-row broadcasts)
      "x96_pmi_collocations" -> 4,
      // x97: sketch groupBy(source) + the 1-row collect_list + the exact
      // index groupBy(h) + its derived totals + pair counts + the final
      // sort (the pair/exact attachments are tiny broadcasts)
      "x97_kmv_overlap" -> 6,
      // x98: the registered plan is the s-row driver-built allocation
      // table + its sort (the count agg runs at build time, bounded
      // collect — the x52 argmax precedent)
      "x98_unimax_mix" -> 1,
      // x99: one Aho-Corasick map pass (zero shuffles) + the sort
      "x99_blocklist_screen" -> 1,
      // x100: query-construction (explode + md5-rank window + regroup)
      // + the x81 scoring chain (tf/df aggs, dl join) + the two-phase
      // per-query top-k windows + the final sort — composition cost,
      // every window partitionSpec'd and bounded
      "x100_hard_negatives" -> 11,
      // x101: zero-shuffle projection map; the consecutive-id pair
      // joins broadcast at the audit SF, leaving only the final sort
      "x101_jl_projection" -> 1,
      // x102/x103: zero-shuffle expression-only generators + the sort
      "x102_ict_pairs" -> 1, "x103_span_corruption" -> 1,
      // x104: the registered plan is the grid-sized driver-built report
      // + its sort (truth/candidate counts run at build time — the
      // x52/x98 bounded-reduce precedent)
      "x104_lsh_tuning" -> 1,
      // x105: scoring map + (label,pred) cells agg + the cells-derived
      // totals agg (broadcast back; its own partial+final pair) + the
      // final sort — measured 4 at the audit SF
      "x105_langid_eval" -> 4,
      // x106: the x40 scoring chain (uni agg, bigram agg, two count
      // joins, per-doc agg) + the doc->domain join + the domains agg;
      // reference/boost totals derive from the persisted domains frame
      // — measured 9 at the audit SF
      "x106_doremi_mix" -> 9,
      // x107: the x51 scoring chain (tokenize agg, totals, word counts,
      // scoring join, per-doc agg) + the bins cells agg; the ECE total
      // derives from the persisted bins frame — measured 9 at the
      // audit SF
      "x107_nb_calibration" -> 9,
      // x108: the x40 scoring chain + doc->signals join + the
      // group-moments agg (stats broadcast back; its partial+final
      // pair) — measured 6 at the audit SF
      "x108_quality_ensemble" -> 6,
      // x109: (source,word) agg + its source rollup, (source,bigram)
      // agg + its rollup, the doc-count agg + the sources-sized joins
      // — measured 6 at the audit SF
      "x109_diversity_report" -> 6,
      // x110: the x35 shard-window exchange + the finer (shard,bin)
      // window exchange — measured 2 at the audit SF
      "x110_pack_boundaries" -> 2,
      // x111: bench distinct-shingle agg + per-doc hit-starts agg + the
      // left join back onto the corpus — measured 3 at the audit SF
      // (the corpus shingle stream itself is map-side into the
      // broadcast bench join)
      "x111_span_decontaminate" -> 3,
      // x112: the quasi-identifier classes agg (persisted; the corpus
      // total derives from it) + the final sort — measured 3 at the
      // audit SF
      "x112_k_anonymity" -> 3,
      // x113: one per-lang integer agg + the sort — measured 2
      "x113_tokenizer_fertility" -> 2,
      // x114: delete-list distinct + assignment join + per-shard agg +
      // the unmatched left_anti count — measured 5 at the audit SF
      "x114_deletion_impact" -> 5,
      // x115: the ledger runs execute at build time (x58's precedent);
      // the registered plan is the x114 report over the ledger table —
      // suppressionSet agg + assignment join + per-shard agg + the
      // unmatched anti count — measured 5 at the audit SF
      "x115_streaming_suppression" -> 5,
      // x116: one (bucket, source) count agg + the buckets-sized
      // cumulative window + the sort — measured 3 at the audit SF
      "x116_ablation_slices" -> 3,
      // x117: pack/decode are map-side mapPartitions where the bytes
      // live; the final sort is the only exchange
      "x117_audio_decode" -> 1,
      // x118: kNN generation is broadcast-scan (shuffle-free); the
      // exchanges are the two den aggs, their joins onto both candidate
      // sets, the two best-pair windows, and the sort — measured 7
      "x118_bitext_margin" -> 7,
      // x119: the x51 scorer chain (7) + kappa cell agg + the marginal
      // aggs/join over the PERSISTED classes²-sized cell table —
      // measured 11 (was 25 before the cells persist)
      "x119_filter_agreement" -> 11,
      // x120: cell assignment is map-side codegen'd dots; the cap
      // window on the cell key + the sort — measured 2
      "x120_semantic_cap" -> 2,
      // x121: x117's map-side shape plus the re-encode — sort only
      "x121_audio_trim" -> 1,
      // x122: decode side joins caption signals under AQE broadcast
      // (both sides prune to slim columns) — the sort is the exchange
      "x122_pair_curation" -> 1,
      // x123: the corpus (source,word) count agg; rank/mean windows and
      // the fit run on the vocab-sized frame (shared source partition),
      // + the final agg and sort — measured 3
      "x123_zipf_fit" -> 3,
      // x124: the corpus (source,word) agg + src-stats agg + rank
      // window + bucket agg/grid join + the sort — measured 5, all
      // frames after the first agg are vocab- or grid-sized
      "x124_vocab_coverage" -> 5,
      // x125: the embeddings-documents id join + the posexplode
      // centroid agg + sizes agg/join; the pair join runs on the
      // GROUPS-sized frame — measured 7
      "x125_source_similarity" -> 7,
      // x126: the broadcast-corpus top-k scan is shuffle-free; the
      // doc-label and query-label id joins + the per-query agg + the
      // group agg + the sort — measured 4, all post-run frames are
      // |queries|·k-sized or smaller
      "x126_retrieval_eval" -> 4,
      // x127: the seg_hash window + the per-doc cut-list agg + the
      // cut-list join back onto documents (sort folds into it) —
      // measured 3; shuffles carry md5+position, never segment text
      "x127_keep_first_dedup" -> 3,
      // x128: the x02 inverted-index candidate chain (postings keep +
      // sizes + pair agg) feeding two slim text-attach joins; all BLEU
      // math is per-row HOF work — measured 5
      "x128_bleu_pair_qa" -> 5,
      // x129: per-source doc-rank window + the corpus (source,word)
      // min-rank agg + the new-types join + points window + final agg —
      // measured 5; the OLS frame is <= log2(n_docs)+1 rows per source
      "x129_heaps_fit" -> 5,
      // x130: pack + decode + box-filter + re-encode are all map-side
      // mapPartitions where the bytes live; the sort is the only
      // exchange — measured 1 (the x117/x121 audio cost class)
      "x130_audio_resample" -> 1,
      // x131: the x128 candidate chain (shingle index + pair agg) + two
      // slim text joins; ALL chrF gram work is per-row HOFs — measured 5
      // (identical to x128's plan shape)
      "x131_chrf_pair_qa" -> 5,
      // x132: bigram-type agg + ctx/ends vocab aggs + scoring joins +
      // per-doc agg — measured 6 (x40's class + one more vocab agg;
      // the bigram stream and type table persist via CacheScope)
      "x132_kneser_ney_nll" -> 6,
      // x133: ONE blocked candidate equi-join (broadcast at this SF;
      // block-key shuffle at scale) + per-row literal sums + the sort —
      // measured 1
      "x133_record_linkage" -> 1,
      // x134: three user-keyed stage aggs + two stage joins over the
      // persisted slim events projection, then K-row report frames
      // (three 1-row count aggs + the prev/top joins) — measured 12,
      // every exchange either user-keyed or report-sized
      "x134_funnel" -> 12,
      // x135: first-event user agg, (user,week) distinct, the user-keyed
      // cohort join, the (cohort,offset) agg, and the weeks-sized size
      // join — measured 6
      "x135_cohort_retention" -> 6,
      // x136: one per-row assignment pass (O(M) md5 argmax on a
      // literal-sized shard list) + the (strategy,old,new) matrix agg +
      // the sort — measured 2
      "x136_shard_rebalance" -> 2,
      // x137: the key-count agg (persisted — three consumers), total
      // agg, TakeOrdered top keys, bucket agg + summary agg, final sort
      // — measured 8, all over the count table, never the corpus twice
      "x137_skew_profile" -> 8,
      // x138: the corpus hourly agg (persisted), the exploded-offset
      // epoch equi-join + baseline re-agg, the left join back, the sort
      // — measured 4, every exchange over the hours-bounded frame
      "x138_rate_anomalies" -> 4,
      // x139: two corpus-pass aggs (each collapsing map-side to
      // labels x dims partials; means join back by broadcast), the
      // tiny group rollup, the final sort — measured 4
      "x139_embedding_geometry" -> 4,
      // x140: the min/max single-row agg, the (column, value) count agg
      // (persisted — three consumers), rollup + maxc + mode-join aggs,
      // the final sort — measured 6, only the count agg is corpus-sized
      "x140_column_profile" -> 6,
      // x141: the (basket, item) distinct (persisted — five consumers),
      // item counts + the freq attach, the basket-keyed pair self-join
      // + pair agg, the final sort — measured 5; the size-guard and
      // basket-total counts run as separate bounded actions
      "x141_frequent_pairs" -> 5,
      // x142: the user-partitioned lead window, the (from, to) count
      // agg (persisted), the states-sized totals join, the final sort
      // — measured 4
      "x142_event_transitions" -> 4,
      // x143: edge canonicalize + distinct, degree agg, degree-attach
      // joins, the src-keyed wedge self-join + (v, w) closing join,
      // corner count agg, final sort — measured 14 static (the
      // persisted edge/degree chains recount per consumer pre-
      // execution), every frame edge-list-bounded
      "x143_dup_graph_triangles" -> 14,
      // x144: the (group, value) count agg (persisted), count-table
      // cumulative windows + median/MAD selections twice, the broadcast
      // flag join, final sort — measured 12 static, corpus shuffled once
      "x144_robust_outliers" -> 12,
      // x145: the REGISTERED plan is the merged-ledger z-test (ledger
      // groupBy + the x138 offset join/re-agg/left-join + sort) — the
      // streaming appends run before it as foreachBatch side effects;
      // measured 5, every exchange over the hours-bounded ledger
      "x145_streaming_anomaly" -> 5,
      // x153: x145's registered report plan over the compacted ledger —
      // same merged-ledger z-test shape, every exchange hours-bounded
      "x153_ledger_compaction" -> 5,
      // x154: neighborhood-candidate join (2) + segment-candidate join
      // (2) + shared candidate distinct + final sort — measured 6
      "x154_editdist_long_keys" -> 6,
      // x155: the (source, prio) histogram agg + histogram window + the
      // two class join-backs (full + cutoff tie window) + final sort —
      // measured 6, windows over the bounded histogram / cutoff slice
      "x155_token_budget_cap" -> 6,
      // x156: chunk-hash frequency agg + the hash-keyed join back +
      // per-doc agg/sort, plus the small-split spread's conditional
      // repartition (fires only when scan splits < cores — the local
      // single-file layout; never at warehouse scale) — measured 4
      "x156_cdc_chunk_dedup" -> 4,
      // x157: the (source, score) histogram agg + histogram window +
      // sizes agg + two join-backs + the tie window + sort — measured
      // 6, windows over the bounded histogram / tie class only
      "x157_quantile_normalize" -> 6,
      // x158: two x140 profile chains (per-slice stack/count aggs,
      // min-max rows, mode two-stage) + the columns-sized drift join —
      // measured 11, every exchange distinct-counts-sized
      "x158_profile_drift" -> 11,
      // x159: the REGISTERED plan is the merged-ledger two-slice drift
      // (per-slice dedup/groupBy through reportFromCounts rollup + mode
      // two-stage, then the columns-sized drift join) — the streaming
      // appends run before it as foreachBatch side effects; measured
      // 11, every exchange ledger-count-table-sized
      "x159_streaming_profile_drift" -> 11,
      // x160: the REGISTERED plan is the ledger verdict rollup
      // (groupBy doc + sort) — the two incremental ledger steps run
      // before it as model-run side effects; measured 2
      "x160_incremental_cdc_dedup" -> 2,
      // x161: x160's verdict rollup over the offset-log-cursored
      // streaming ledger — same 2-exchange report plan
      "x161_streaming_cdc_ledger" -> 2,
      // x162: candidate distinct + the (batches x n)-bounded re-rank
      // window + final sort — measured 3; the per-batch top-n windows
      // run as streaming side effects over bounded batches
      "x162_streaming_sample_ledger" -> 3,
      // x163: (group, md5-prefix bucket) histogram agg + histogram
      // windows + three class join-backs (train/holdout/straddle tie
      // window over one bucket slice) + union sort — measured 14
      // static (the unpersisted base scan re-shuffles per class
      // consumer at stats-less sf0.001; the class frames are
      // histogram-sized and broadcast at scale)
      "x163_stratified_split" -> 14,
      // x146: the (user, day) distinct (persisted), three bin-join
      // explode + distinct + count chains (fan-out 1/7/28, never a
      // range scan), the observed-days joins, final sort — measured 9
      "x146_rolling_active" -> 9,
      // x147: the member-count agg, the (cluster, attr, value) count
      // agg (persisted — three consumers), the two-stage mode stats +
      // join aggs, final sort — measured 5
      "x147_golden_record" -> 5,
      // x148: ONE brand-partitioned sort serves both skyline windows,
      // the final order — measured 2, no dominance self-join anywhere
      "x148_pareto_frontier" -> 2,
      // x149: the corpus (type, day) count agg (persisted), the means
      // re-agg + centered-sums agg, final sort — measured 3
      "x149_volume_trend" -> 3,
      // x150: ONE part-partitioned sort serves prefix-sum, prefix-min
      // and the lag window, then the per-part summary agg — measured 2
      "x150_clamped_balance" -> 2,
      // x151: the (metric, user, arm) distinct + per-metric agg and the
      // final sort — measured 3; arm sizes are a bounded 2-row collect
      "x151_ab_test" -> 3,
      // x152: one tuple-keyed count agg + single-row collapse per
      // candidate (4), the union sort — measured 8; the row count is
      // a bounded count action shared by all candidates
      "x152_key_candidates" -> 8,
      // x164: ONE key-keyed full-outer join (both twin sides derive
      // map-side from the same scan) + the final sort — measured 3,
      // no windows, output bounded by the disagreement
      "x164_relation_diff" -> 3,
      // x165: the registered plan is the converged pointer-jumping
      // state (localCheckpoint-truncated per round, so only the final
      // sort is static); each of the O(log depth) rounds is one
      // id-keyed self-join — measured 1
      "x165_hierarchy_flatten" -> 1,
      // x166: one map-side-combined (group, ctx) agg (fan-out =
      // |contexts| literal lengths, no joins) + the final sort —
      // measured 2
      "x166_context_fit" -> 2,
      // x175: the REGISTERED plan is the first-batch min-agg + the
      // per-batch count + the 1-row broadcast share join + sort over
      // the shingle ledger (streaming appends ran before it) —
      // measured 6 static (the unpersisted ledger scan re-shuffles per
      // consumer at stats-less sf0.001), batches-sized report frames
      "x175_streaming_novelty_ledger" -> 6,
      // x173: ONE (class, sensitive) count agg + the classes-sized
      // rollup re-agg + sort — measured 3
      "x173_l_diversity" -> 3,
      // x174: one stacked pass + the (column, digit) count agg + the
      // 9-rows-per-column totals re-agg/join + sort — measured 4
      "x174_benford_audit" -> 4,
      // x170: the (group, value) weighted-histogram agg + histogram
      // cumulative window + groups-sized totals join + the per-pct
      // selection agg + sort — measured 5, windows over the histogram
      "x170_weighted_quantiles" -> 5,
      // x171: one key-count agg per side + the count-table equi-join +
      // the TakeOrdered top slice + the 1-row total union + sort —
      // measured 5, the corpora never join
      "x171_join_explosion_audit" -> 5,
      // x172: the REGISTERED plan is the merged activity distinct +
      // cohort min-agg + cohort join + cell agg + weeks-sized size join
      // + sort over the ledger (the streaming appends ran before it) —
      // measured 6, every exchange (user x week)-bounded
      "x172_streaming_retention_ledger" -> 6,
      // x169: ONE user-partitioned session window chain (the x10 class)
      // + the per-session assembly groupBy + sort — measured 2; the
      // hot-session guard runs as a separate bounded action
      "x169_session_transcripts" -> 2,
      // x168: the REGISTERED plan is the merged-ledger totals + the
      // 1-row broadcast share join + sort — the two streaming appends
      // run before it as side effects; measured 6 static (dedup +
      // group-sum over the groups-sized ledger re-shuffle per consumer
      // at stats-less sf0.001), every exchange groups-sized
      "x168_streaming_token_ledger" -> 6,
      // x207: TWO GlobalOrder positioning chains over the unpersisted
      // scored base (histogram + super-offset + rank window each, and
      // the stats-less static plan re-shuffles the base per consumer —
      // the x163 class) + the id equi-join + depth-bounded X_d frames
      "x207_rbo_ranking_agreement" -> 34,
      // x206: the merged-histogram re-agg + the x170 selection chain
      // (cumulative window over the histogram, totals join, per-pct
      // selection agg) + the total-order sort — all histogram-sized
      "x206_streaming_quantile_ledger" -> 7,
      // x203: kmeans assignment/probe aggs + the ADC candidate join +
      // refine/exact rank windows + the scan-stats aggs — all over the
      // persisted 4k fixture; the adjudication legs, not the data path,
      // carry most of the exchanges. +5 when ivfScanStats grew its
      // exactness legs (n_queries pre-join agg + the self-pair id-equi
      // join, each probes-sized)
      "x203_ivf_bounded_scan" -> 17,
      // x204: x52's training chain (word-freq agg + per-round argmax
      // reads are driver-side; the registered plan re-aggregates the
      // word table) + vocab cumulative decomposition + the doc-keyed
      // reassembly + the total-order sort
      "x204_bpe_encode" -> 12,
      // x208: the one-batch ledger build (postings persist + history/
      // peer joins + sentinel anti-join), the purge anti-join, the
      // re-submission ledger step over the deletes-sized batch, the
      // kept_before/readmitted doc aggs + id joins, and the TWO 1-row
      // verdict broadcasts (ledger hygiene + the composed x205 rewrite
      // verdict over the driver-built shards report) — ledger rows are
      // the widest frame; the corpus rewrite itself ran at build time
      "x208_ledger_takedown_purge" -> 12,
      // x209: training runs locally on the collected head (r16); the
      // registered plan is the encode — distinct-words local-Viterbi
      // mapPartitions + broadcast id join + doc reassembly + the
      // total-order sort. The object boundary of the mapPartitions
      // pass drops the distinct's hash partitioning, so the piece
      // reassembly re-exchanges ONCE more than the old in-plan HOF —
      // a vocab-sized (distinct-word) shuffle bought deliberately: the
      // per-word Viterbi DP no longer runs as interpreted candidate
      // expressions (r16 optimization log)
      "x209_unigram_encode" -> 4,
      // x210: both tokenizers trained at build time; the plan is one
      // corpus word explode + two broadcast word-table joins + the
      // per-lang agg + sort
      "x210_tokenizer_fertility_compare" -> 3,
      // x211: the two streaming batches AND the retraction's semi-join
      // sketch pass ran at build time (driver-held depth×width rows);
      // the registered plan is the x94 report class — merged-counter
      // reads + the clean-events exact top-k + the ranked report
      "x211_countmin_retraction" -> 4,
      // x212: x209's encode class — distinct-words fallback Viterbi +
      // broadcast id join + doc reassembly + total-order sort (the
      // byte branch is per-row expression work); +1 for the same
      // vocab-sized mapPartitions re-exchange as x209 (r16)
      "x212_unigram_byte_fallback" -> 4,
      // x213: ledger batches + the retraction partial ran at build
      // time (groups-sized); the plan is the replay-collapse merge
      // (dropDuplicates + group sum) + the total-order sort
      "x213_token_ledger_retraction" -> 3,
      // x214: the trained segmentations, the checkpointed vocab ids
      // and the mapPartitions merge-application all resolve at build
      // time; the registered plan is the unseen anti-join + broadcast
      // id joins + doc reassembly + total-order sort
      "x214_bpe_byte_fallback" -> 4,
      // x215: the netted merge (replay collapse + (g,v) net) + the
      // x170 quantile machinery + total-order sort; ledger build and
      // the retraction partial ran at build time
      "x215_quantile_ledger_retraction" -> 9,
      // x205: the report is now driver-built (shards-sized) from the
      // single discovery scan + the blast-radius-scoped recount, both
      // of which ran at build time; the registered plan is just the
      // total-order sort over the local report rows
      "x205_takedown_rewrite" -> 1,
      // x202: GlobalOrder's positioning chain + the id-keyed outcome
      // join + the persisted parts-sized bucket table (triangular
      // cumulative) + 1-row total/grand broadcasts + sort
      "x202_scorer_gains" -> 13,
      // x201: the REGISTERED plan is the merged bottom-k estimate +
      // the exact-distinct adjudicator agg + the 1-row cross; the
      // streaming writer's per-batch TakeOrdered ran in its own
      // query executions
      "x201_streaming_kmv_ledger" -> 3,
      // x200: the persisted tokenized scan + per-stage one-row stats
      // (a filter chain + one md5 keep-first join) + the union + the
      // 1-row raw broadcast + sort
      "x200_curation_funnel" -> 6,
      // x199: x19's inverted-index pair chain + component labeling
      // (the x167/x186 compound class) + the per-cluster lang rollup
      "x199_cross_lingual_dups" -> 3,
      // x198: the x10 user-partitioned session window feeding x141's
      // Apriori chain (its budget class + the session window)
      "x198_session_baskets" -> 8,
      // x197: the REGISTERED plan is the boundary-stitch merge (replay
      // collapse + one user-partitioned lag window + rollup + sort)
      // over the users×batches ledger
      "x197_streaming_burstiness_ledger" -> 3,
      // x196: the REGISTERED plan is the interval-merge view (replay
      // collapse + two user-partitioned windows on one sort + the
      // rollup); the streaming writer's per-batch sessionizations ran
      // in their own query executions
      "x196_streaming_session_ledger" -> 3,
      // x195: one (key, slice) histogram agg + the cumulativeSums
      // offset chain over the persisted NDV-sized CDF table + 1-row
      // totals/max broadcasts + the argmax
      "x195_ks_drift" -> 13,
      // x194: two filtered capture distincts, the capture equi-join,
      // the exact-distinct adjudicator agg, three 1-row broadcasts
      "x194_capture_recapture" -> 9,
      // x193: one bucket-count agg; the declared-weights full join,
      // 1-row total broadcast, and summary all ride the persisted
      // buckets-sized frame; + the sort
      "x193_srm_check" -> 6,
      // x192: one (group, value) histogram agg, the histogram-bounded
      // cumulative window, the per-group rollup; + the sort
      "x192_gini_concentration" -> 3,
      // x191: x180's user-partitioned window + x170's quantile chain
      // (histogram agg, histogram-bounded cum window, totals join,
      // selection agg) + the sort
      "x191_convert_time_quantiles" -> 7,
      // x190: ONE user-partitioned sort carries the RANGE-frame count,
      // the per-user max, and the report agg; + the total-order sort
      "x190_rate_ceiling" -> 2,
      // x188: GlobalOrder's positioning chain — bucket histogram +
      // super totals + triangular offsets + the rank window + pos sort
      "x188_global_rank" -> 7,
      // x189: the weighted-histogram offset chain over the persisted
      // NDV-sized cum table + the 1-row total broadcast + the interval
      // filter + sort
      "x189_range_splitters" -> 11,
      // x187: one daily-count agg, the groups-sized mean broadcast
      // back, both CUSUM windows ride one group-partitioned sort; +
      // the total-order sort
      "x187_cusum_changepoint" -> 5,
      // x186: x19's inverted-index pair chain + component labeling
      // (the x167 compound class) + the per-cluster agg + the
      // histogram-sized rollups and totals union + sort
      "x186_dedup_savings" -> 10,
      // x185: one user-partitioned lag window (the x10 class) + one
      // integer-sums agg; σ/μ are per-group-row expressions; + sort
      "x185_interarrival_burstiness" -> 2,
      // x184: two stratum-count aggs (population + sample), then the
      // persisted classes-sized cell table feeds fat/thin splits,
      // source pools, and the 1-row global pool; + the sort
      "x184_post_stratification" -> 5,
      // x183: the REGISTERED plan is the batches-sized lateness report
      // (dedup + totals union + sort); each writer batch was one 1-row
      // agg in its own query execution
      "x183_late_arrival_audit" -> 4,
      // x182: the REGISTERED plan is the merged net-position rollup
      // over the groups×batches ledger (replay collapse + signed sum +
      // sort); the streaming writer's per-batch aggs run in their own
      // query executions
      "x182_streaming_retraction_ledger" -> 3,
      // x181: one stacked pass → the persisted (cand, lhs, rhs) cell
      // agg; per-LHS and per-candidate margins re-aggregate the
      // classes-sized cells; + the sort
      "x181_fd_audit" -> 4,
      // x180: ONE user-partitioned running-last window (the x10 class)
      // + the total-order sort — no touch×conversion join exists
      "x180_last_touch_attribution" -> 2,
      // x179: one (user, day) distinct, the user-partitioned island
      // window + streak/report aggs ride the same key, + the sort
      "x179_activity_streaks" -> 3,
      // x178: the 1-row min/max agg (broadcast back), the zero-shuffle
      // Morton expression pass + the buckets-sized agg + the sort
      "x178_zorder_layout" -> 3,
      // x177: one stacked pass → the persisted (pair, a, b) cell agg;
      // margins/totals/dims re-aggregate the classes-sized cell table
      // and broadcast back into the contribution join; + the sort
      "x177_chi2_independence" -> 10,
      // x176: prefix-bucket positioning (bucket histogram + super
      // totals + triangular offsets + the persisted rank window) + the
      // two shifted-tiling lead windows + the total-order sort; every
      // window partitioned, candidates O(n·window)
      "x176_sorted_neighborhood" -> 9,
      // x167: x19's inverted-index pair chain + component labeling
      // (checkpoint-truncated rounds) feeding the two-stage argmax
      // (group-max agg, join back, group-min agg) + sort — measured 9,
      // same corpus-side shape as x19/x27
      "x167_best_in_cluster" -> 9)
    // completeness both ways: a new query without a declared budget (or a
    // stale entry for a removed query) is itself a failure
    val names = graft.SparkEntry.queries.keySet
    assert((names -- budgets.keySet).isEmpty,
      s"queries missing a shuffle budget: ${(names -- budgets.keySet).toSeq.sorted}")
    assert((budgets.keySet -- names).isEmpty,
      s"stale budget entries: ${(budgets.keySet -- names).toSeq.sorted}")
    // the counter must actually catch a busted budget: this fixture's
    // agg + windowed rank + order-by is 3 shuffles, over any 1-budget
    import spark.implicits._
    val busting = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
      .groupBy("k").agg(sum(col("v")).as("s"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("s"))))
      .orderBy(col("r"))
    assert(graft.PlanAudit.shuffleCount(busting) > 1,
      "lint fixture: counter failed to see the extra shuffles")
    val over = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        // per-query defined cache state (PlanAudit's rule): a prior
        // query's persisted relation would otherwise swap this query's
        // subtrees for InMemoryRelation order-dependently
        spark.catalog.clearCache()
        val n = graft.PlanAudit.shuffleCount(fn(spark, sf0001))
        if (n <= budgets(name)) Nil
        else Seq(s"$name: $n shuffles (budget ${budgets(name)})")
      }
    assert(over.isEmpty, s"shuffle budgets exceeded:\n${over.mkString("\n")}")
  }

  test("iterative-round plans: broadcast joins + exchange budgets hold " +
      "per round (PageRank, CC star)") {
    // r16/r17 verdict item: the loops localCheckpoint every round, so a
    // whole-query explain is blind to the per-round plan shape. These
    // are the REPRESENTATIVE round frames the loops actually run
    // (factored loop bodies — starRound/distributedRound), asserted in
    // both join regimes; graft.RoundPlans dumps the same frames for
    // plans/.
    import spark.implicits._
    val bcast: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      org.apache.spark.sql.functions.broadcast
    val ident: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      identity
    def plan(df: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out))(df.explain("formatted"))
      out.toString
    }
    val edgesUV = Seq((5L, 1L), (7L, 2L), (9L, 1L)).toDF("u", "v")
    val starB = graft.operators.Dedup.starRound(edgesUV, bcast)
    assert(plan(starB).contains("BroadcastHashJoin"),
      "star round: mins not broadcast under the hint")
    // 6 static Exchange nodes: the two min-agg subtrees each appear
    // twice in the tree (smallStar reads its mins in the join AND the
    // union; largeStar's output feeds both) — at runtime ReusedExchange
    // collapses the duplicates, so the round executes 3 distinct
    // shuffles (two min-aggs + the output distinct). The budget pins
    // the STATIC count; a regression adding a per-round shuffle shows
    // up as 8 (one more node + its duplicate).
    assert(graft.PlanAudit.shuffleCount(starB) <= 6,
      s"star round broadcast regime: ${graft.PlanAudit.shuffleCount(starB)} " +
        "static exchanges (budget 6 = 3 distinct after ReusedExchange)")
    val ewd = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("node", "dst", "outd")
    val ranks = Seq((1L, 0.5), (2L, 0.5)).toDF("node", "rank")
    val nodes = Seq(Tuple1(1L)).toDF("node")
    val prB = graft.operators.PageRank.distributedRound(ewd, ranks, nodes,
      0.075, 0.85, bcast)
    assert(plan(prB).contains("BroadcastHashJoin"),
      "pagerank round: rank vector not broadcast under the hint")
    assert(graft.PlanAudit.shuffleCount(prB) <= 1,
      s"pagerank round broadcast regime: " +
        s"${graft.PlanAudit.shuffleCount(prB)} shuffles (budget 1: the " +
        "per-dst aggregation)")
    // the shuffle regime must still be a valid plan (the > cap path);
    // on literal-sized test frames the planner may auto-broadcast, so
    // only plan validity is asserted here, not strategy
    assert(graft.PlanAudit.shuffleCount(
      graft.operators.Dedup.starRound(edgesUV, ident)) >= 1)
  }

  test("registry-wide plan lint: no single-partition window funnels") {
    // Standing tripwire for the scale-killer class VERDICT r8 caught in
    // x65: `row_number() OVER (ORDER BY ...)` with no PARTITION BY plans
    // as Exchange SinglePartition + a WindowExec over ALL rows on one
    // task. PlanAudit.globalWindowCount walks the physical tree (through
    // AQE wrappers and cached subtrees, like the shuffle counter) and
    // counts WindowExec nodes with an empty partitionSpec. Allowlist is
    // EMPTY: no registered query needs a global window — x65's shard
    // rank is a distributed two-phase rank, and BPE's vocab-bounded
    // window runs inside Bpe.train's driver loop, never in a registered
    // plan. A future query that does need one must argue its bound here.
    val allow = Set.empty[String]
    // prove the counter sees the offending shape before trusting a
    // clean sweep — including through the AQE wrapper
    import spark.implicits._
    val fixture = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
    assert(graft.PlanAudit.globalWindowCount(fixture) == 1,
      "lint fixture: global window not visible to the counter")
    val partitioned = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("v"))))
    assert(graft.PlanAudit.globalWindowCount(partitioned) == 0,
      "lint fixture: partitioned window wrongly flagged")
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => allow.contains(q._1))
      .flatMap { case (name, fn) =>
        spark.catalog.clearCache()
        val n = graft.PlanAudit.globalWindowCount(fn(spark, sf0001))
        if (n == 0) Nil else Seq(s"$name: $n global window(s)")
      }
    assert(bad.isEmpty,
      s"single-partition window funnels:\n${bad.mkString("\n")}")
  }

  test("registry-wide lint: round() never applied to a decimal-cast " +
      "double") {
    // Standing tripwire for the x100/x51 class (BASELINE.md round-8/11
    // live hits): `round(CAST(x AS DOUBLE), k)` on a decimal aggregate
    // flips engine-dependently when the exact sum lands on the
    // .5·10^-k grid; the safe form rounds the decimal FIRST. The walk
    // resolves aliases, so the hazard is caught even when the cast
    // hides behind a projection, and ignores rounds over transcendental
    // results (never grid-exact). Allowlist is EMPTY — no registered
    // query has a legitimate need to round a decimal-cast double.
    import spark.implicits._
    val rows = Seq((1, BigDecimal("1.00005")), (2, BigDecimal("2.00015")))
      .toDF("k", "d")
    val haz = rows.groupBy("k")
      .agg(round(sum(col("d")).cast("double"), 4).as("r"))
    assert(graft.PlanAudit.roundAfterDecimalCastSites(haz).nonEmpty,
      "lint fixture: direct hazard not visible to the walker")
    val hidden = rows.groupBy("k").agg(sum(col("d")).as("s"))
      .select(col("k"), col("s").cast("double").as("sd"))
      .select(col("k"), round(col("sd"), 4).as("r"))
    assert(graft.PlanAudit.roundAfterDecimalCastSites(hidden).nonEmpty,
      "lint fixture: alias-hidden hazard not visible to the walker")
    val safe = rows.groupBy("k")
      .agg(round(sum(col("d")), 4).cast("double").as("r"))
    assert(graft.PlanAudit.roundAfterDecimalCastSites(safe).isEmpty,
      "lint fixture: round-before-cast wrongly flagged")
    val logOk = rows.groupBy("k")
      .agg(round(log(sum(col("d")).cast("double")), 4).as("r"))
    assert(graft.PlanAudit.roundAfterDecimalCastSites(logOk).isEmpty,
      "lint fixture: transcendental round wrongly flagged")
    // divide discrimination (r13, ADVICE item): sum/3 leaves the
    // .5·10^-k grid — flagging round-after-divide-by-3 was a false
    // positive; divide by a literal power of ten keeps the grid and
    // stays in the hazard class
    val divOk = rows.groupBy("k")
      .agg(round(sum(col("d")).cast("double") / 3.0, 4).as("r"))
    assert(graft.PlanAudit.roundAfterDecimalCastSites(divOk).isEmpty,
      "lint fixture: round-after-divide-by-3 wrongly flagged")
    val divHaz = rows.groupBy("k")
      .agg(round(sum(col("d")).cast("double") / 10.0, 4).as("r"))
    assert(graft.PlanAudit.roundAfterDecimalCastSites(divHaz).nonEmpty,
      "lint fixture: grid-exact divide-by-ten hazard not visible")
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        spark.catalog.clearCache()
        graft.PlanAudit.roundAfterDecimalCastSites(fn(spark, sf0001))
          .map(s => s"$name: $s")
      }
    assert(bad.isEmpty,
      s"round-after-decimal-cast hazards:\n${bad.mkString("\n")}")
  }

  test("shuffle BYTE budgets: heavy queries hold their traffic ceilings") {
    // An exchange COUNT can stay flat while traffic through it explodes
    // (lost partial agg, un-broadcast dim, wider rows). Meter check
    // first: two one-exchange plans over the same rows — partial-agg
    // (64 combined groups cross the wire) vs repartition-then-agg (every
    // row crosses). A byte cap calibrated on the lean plan must trip the
    // inflated one even though shuffleCount can't tell them apart.
    import spark.implicits._
    val base = (1 to 20000).map(i => (i % 64, i)).toDF("k", "v")
    val lean = base.groupBy("k").agg(sum(col("v")).as("s"))
    val fat = base.repartition(col("k")).groupBy("k")
      .agg(sum(col("v")).as("s"))
    val leanB = graft.PlanAudit.executedShuffleBytes(lean)
    val fatB = graft.PlanAudit.executedShuffleBytes(fat)
    assert(graft.PlanAudit.shuffleCount(lean) ==
      graft.PlanAudit.shuffleCount(fat), "fixtures must tie on count")
    assert(leanB > 0, "meter read zero bytes from an executed exchange")
    assert(fatB > 8 * leanB,
      s"inflated fixture did not trip: lean=$leanB fat=$fatB")
    // Ceilings for the heaviest banded/candidate-join queries, ~8x their
    // measured shuffle-bytes-written (generous: catches order-of-
    // magnitude inflation — a lost broadcast, a dropped partial agg —
    // ignores codec/partition-count jitter). Measured at sf0.01, NOT
    // sf0.001: x31 returns zero pairs at sf0.001 and AQE's
    // empty-relation propagation collapses the whole executed plan to
    // EmptyRelation — nothing left to meter. Operator-internal persisted
    // builds (postings/sig caches) execute before the registered plan
    // and are out of the meter's scope — budgeted here is the returned
    // plan's own traffic. Measured: x03=1.6KB, x31=226KB, x63=13KB,
    // x67=18KB, x75=83KB. x75's ceiling IS its scale claim: the bloom
    // prune must keep candidate traffic shingle-sliver-sized — a broken
    // bloom (every shingle a candidate) inflates the verify join past it.
    // Round-11 heavies measured the same way: x86=2.1MB (the exact
    // truth join — candidate pairs ARE the workload), x89=8KB (banded
    // edit-distance candidates), x92=25KB (cell-bounded semantic
    // candidates), x100=291KB (per-query scoring postings), x111=127KB
    // (hit positions only — the no-corpus-shuffle claim: a dropped
    // bench broadcast would push the whole shingle stream through).
    val sf001 = "/root/testdata/sf0.01"
    val caps = Seq(
      ("x03_minhash_lsh", 64L << 10),
      ("x31_embedding_lsh_pairs", 2L << 20),
      ("x63_fused_dedup_keeplist", 128L << 10),
      ("x67_semdedup", 160L << 10),
      ("x75_decontaminate_bloom", 768L << 10),
      ("x86_setsim_exact_join", 16L << 20),
      ("x89_editdist_join", 64L << 10),
      ("x92_semantic_decontaminate", 256L << 10),
      ("x100_hard_negatives", 4L << 20),
      ("x111_span_decontaminate", 2L << 20),
      // x143 measured 19KB at sf0.01: wedge + closing-join traffic stays
      // edge-list-sized — a broken orientation (wedges at every corner)
      // or a lost degree broadcast inflates it quadratically
      ("x143_dup_graph_triangles", 256L << 10),
      // x154 measured 15KB at sf0.01: segment+neighborhood candidate
      // postings stay match-volume-sized — a broken probe window
      // (all positions) would inflate the posting join ~len-fold
      ("x154_editdist_long_keys", 256L << 10),
      // x156 measured 98KB at sf0.01: only (doc, hash, len) chunk rows
      // cross the wire — a chunking bug that ships texts, or a lost
      // partial agg, inflates this past the ceiling
      ("x156_cdc_chunk_dedup", 1L << 20),
      // x176 measured 205KB at sf0.01: candidate traffic must stay
      // O(n·window) — a broken shifted tiling that emits quadratic
      // pairs, or a positioning bug that funnels rows, inflates it
      ("x176_sorted_neighborhood", 2L << 20),
      // x188 measured 50KB at sf0.01: only (id, key, bucket) rows +
      // histogram offsets cross the wire — positions never shuffle
      // more than once
      ("x188_global_rank", 512L << 10),
      // x189 measured 2.2MB at sf0.01: the weighted histogram IS
      // NDV-sized and the price key is near-unique here (continuous
      // keys pay their NDV); the ceiling catches a lost broadcast or
      // a corpus-sized re-shuffle on top of it
      ("x189_range_splitters", 16L << 20),
      // x195 measured 16KB at sf0.01: the doc-length histogram is
      // value-range-bounded — a lost histogram agg would push doc
      // rows through the CDF chain instead
      ("x195_ks_drift", 256L << 10))
    val readings = caps.map { case (name, cap) =>
      spark.catalog.clearCache()
      val b = graft.PlanAudit.executedShuffleBytes(
        graft.SparkEntry.queries(name)(spark, sf001))
      (name, b, cap)
    }
    info(readings.map { case (n, b, _) => s"$n=$b" }.mkString(" "))
    for ((name, b, cap) <- readings) {
      assert(b > 0, s"$name: meter read zero shuffle bytes")
      assert(b <= cap, s"$name: $b shuffle bytes exceeds ceiling $cap")
    }
  }

  test("bucketed dedup ledger: history probe joins without re-shuffling history") {
    // Dedup.dedupBatchLedger's scaladoc says the ledger should be
    // bucketed by (band, key) at warehouse scale so the probe co-locates.
    // Measure it: with the ledger a BucketedTable on those keys, the
    // left_semi probe must shuffle ONLY the incoming batch's postings —
    // the (huge) history side scans in place.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = new Project(spark, Target("dev", "ledgerb", threads = 2))
      p.model("ledger", ModelConfig(materialized =
        Materialization.BucketedTable(Seq("band", "key"), 4,
          Seq("band", "key")))) { ctx =>
        import ctx.spark.implicits._
        (1 to 1000).map(i => (i % 4, s"k${i % 50}", i.toLong, i % 3 != 0))
          .toDF("band", "key", "doc", "kept")
      }
      assert(p.run().ok)
      import spark.implicits._
      val kept = spark.table("ledgerb.ledger")
        .filter(col("kept") && col("band") >= 0).select("band", "key")
      val posts = (1 to 100).map(i => (i % 4, s"k${i % 50}", 10000L + i))
        .toDF("band", "key", "doc")
      val plan = planOf(posts.join(kept, Seq("band", "key"), "left_semi"))
      assert(plan.contains("SortMergeJoin"), plan)
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1,
        s"expected only the batch side to shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("AQE skew-join split fires on a genuinely skewed key; salting matches") {
    // One key owns 90% of the left side. Under a forced sort-merge join
    // the hot key lands in one shuffle partition ~40x its peers; with
    // the skew thresholds scaled to fixture size, AQE's
    // OptimizeSkewedJoin must SPLIT that partition — visible as
    // `skew=true` on the executed SMJ node. Payload is md5 (roughly
    // incompressible) so partition byte sizes track row counts.
    import spark.implicits._
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      val left = spark.range(200000).select(
        when(pmod(col("id"), lit(10)) < 9, 0L)
          .otherwise(pmod(col("id"), lit(99)) + 1).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val right = (0L to 99L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n${plan.take(2000)}")
      // and the explicit salting path (for shapes AQE can't split)
      // agrees with the plain join on the same skewed fixture
      val saltedAgg = Skew.saltedJoin(left, right, "k", factor = 8)
        .groupBy("k").agg(count(lit(1)).as("n"), max(col("name")).as("name"))
      val plainAgg = joined
        .groupBy("k").agg(count(lit(1)).as("n"), max(col("name")).as("name"))
      assert(saltedAgg.exceptAll(plainAgg).isEmpty &&
        plainAgg.exceptAll(saltedAgg).isEmpty)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals the plain join") {
    import spark.implicits._
    val left = (1 to 2000).map(i => (if (i % 3 == 0) 1L else i.toLong % 100, i))
      .toDF("k", "v")
    val right = (0L to 99L).map(k => (k, s"dim$k")).toDF("k", "name")
    val got = Skew.saltedJoin(left, right, "k", factor = 8)
      .select("k", "v", "name")
    val want = left.join(right, "k").select("k", "v", "name")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == want.count())
  }

  test("two-phase aggregation equals direct aggregation") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 7L, i.toLong)).toDF("k", "v")
    val got = Skew.twoPhaseAgg(df, "k", factor = 4,
      partial = Seq(("v", "sum"), ("v", "count")),
      finalAgg = Seq(("total", "sum"), ("cnt", "sum")))
    val want = df.groupBy("k").agg(sum("v").as("total"), count(lit(1)).as("cnt"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("concurrent insert-overwrite builds don't leak dynamic mode") {
    // Two InsertOverwrite models racing under threads=4 next to a plain
    // Table model: the SessionConf lock must (a) keep each dynamic
    // overwrite correct (other partitions survive), (b) leave the
    // session conf at its original value afterwards.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    var batch = Seq(("p1", 1L), ("p2", 2L))
    def proj(): Project = {
      val p = new Project(spark, Target("dev", "confrace", threads = 4))
      for (i <- 1 to 2)
        p.model(s"iow_$i", ModelConfig(materialized =
          Materialization.InsertOverwrite(Seq("part")))) { ctx =>
          import ctx.spark.implicits._
          batch.toDF("part", "v")
        }
      p.model("plain_tbl",
        ModelConfig(materialized = Materialization.Table)) { ctx =>
        import ctx.spark.implicits._
        Seq(1, 2, 3).toDF("x")
      }
      p
    }
    assert(proj().run().ok)
    batch = Seq(("p2", 42L)) // second run: rewrite p2 only, keep p1
    assert(proj().run().ok)
    for (i <- 1 to 2) {
      val rows = spark.table(s"confrace.iow_$i").select("part", "v")
        .orderBy("part")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq("p1" -> 1L, "p2" -> 42L), s"iow_$i: $rows")
    }
    assert(spark.table("confrace.plain_tbl").count() == 3)
    assert(spark.conf.getOption(key) == before,
      "partitionOverwriteMode leaked into the session")
  }

  test("insert-overwrite incremental rewrites only incoming partitions") {
    var day = "2024-01-01"
    def proj(): Project = {
      val p = new Project(spark, Target("dev", "iow", threads = 2))
      p.model("daily", ModelConfig(materialized =
        Materialization.InsertOverwrite(Seq("day")))) { ctx =>
        import ctx.spark.implicits._
        Seq((1L, day)).toDF("v", "day")
      }
      p
    }
    assert(proj().run().ok)
    day = "2024-01-02"
    assert(proj().run().ok)
    // rewrite day 2 with a new value; day 1 must survive untouched
    val p3 = new Project(spark, Target("dev", "iow", threads = 2))
    p3.model("daily", ModelConfig(materialized =
      Materialization.InsertOverwrite(Seq("day")))) { ctx =>
      import ctx.spark.implicits._
      Seq((42L, "2024-01-02")).toDF("v", "day")
    }
    assert(p3.run().ok)
    val rows = spark.table("iow.daily").orderBy("day")
      .collect().map(r => (r.getAs[String]("day"), r.getAs[Long]("v")))
    assert(rows.toSeq == Seq("2024-01-01" -> 1L, "2024-01-02" -> 42L))
  }
}
