"""Plan-quality pins: pushdown, pruning, broadcast — the properties that
keep these queries viable at 100 TB — asserted against the real optimizer
output so a regression (e.g. a UDF blocking pushdown) fails CI."""

from __future__ import annotations

from smfg_datawarehouse_spark import queries as qmod
from smfg_datawarehouse_spark.plans import (
    assert_no_cartesian,
    broadcast_join_count,
    exchange_count,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_q01_scan_prunes_and_pushes(spark):
    df = qmod.all_queries()["q01_pricing_summary"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # 7 of lineitem's 16 columns read — pruning reaches the parquet scan
    assert len(schemas[0]) == 7
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q04_all_dim_joins_broadcast(spark):
    df = qmod.all_queries()["q04_revenue_by_nation"](spark, SF)
    assert broadcast_join_count(df) == 4  # orders/customer/nation/region
    assert_no_cartesian(df)


def test_q17_compiled_plan_pushes_incremental_filter(spark):
    df = qmod.all_queries()["q17_config_driven_extraction"](spark, SF)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # IncludeFlag pruning: the 6 configured source columns + the filter
    # column — not lineitem's full 16-column schema
    schemas = read_schemas(df)
    assert schemas and len(schemas[0]) == 7


def test_q40_decorrelated_subquery_broadcasts_both_joins(spark):
    # brand partkeys broadcast into both lineitem branches and the per-part
    # averages broadcast back: lineitem is never shuffled — the only
    # exchanges are the tiny avgs groupBy and the final global agg
    df = qmod.all_queries()["q40_small_quantity_revenue"](spark, SF)
    assert broadcast_join_count(df) == 3
    assert exchange_count(df) == 2
    assert_no_cartesian(df)


def test_q39_first_agg_reuses_join_partitioning(spark):
    # join shuffle (2 sides) + final distribution agg = 3 exchanges; a 4th
    # would mean the custkey groupBy re-shuffled the join output
    df = qmod.all_queries()["q39_customer_order_distribution"](spark, SF)
    assert exchange_count(df) <= 3


def test_q42_single_shuffle_window(spark):
    df = qmod.all_queries()["q42_rolling_hour_user_value"](spark, SF)
    assert exchange_count(df) == 1


def test_no_cartesian_in_relational_queries(spark):
    qs = qmod.all_queries()
    for name in ["q03_join_customer_orders", "q06_window_top_order_per_customer",
                 "q15_semi_join_active_parts", "q19_merge_upsert"]:
        assert_no_cartesian(qs[name](spark, SF))


def test_x49_cms_counters_broadcast(spark):
    # the fixed 4x256 counter grid must broadcast into the top-k probe join
    # (a shuffled counters join would defeat the sketch's whole point)
    df = qmod.all_queries()["x49_cms_heavy_hitters"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_x50_tfidf_df_table_broadcast(spark):
    # the df-capped vocabulary table joins broadcast (vocab is sublinear in
    # corpus); the only big shuffles are tf groupBy and the pair dot groupBy
    df = qmod.all_queries()["x50_tfidf_cosine_pairs"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_x23_winnowing_single_doc_shuffle_numeric_key(spark):
    # one exchange for the per-doc window; min-key is a BIGINT (numeric
    # pack), never the 15-char string encoding
    from smfg_datawarehouse_spark.operators.text_analysis import (
        winnowing_fingerprints,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fp = winnowing_fingerprints(docs)
    assert dict(fp.dtypes)["fp_hash"] == "bigint"
    # repartition + doc_id window + distinct partial/final — a bounded,
    # corpus-linear shuffle count (exact count shifts ±1 with session
    # shuffle-partition conf; what must never appear is a join/cartesian)
    assert exchange_count(fp) <= 4
    assert_no_cartesian(fp)


def test_q64_funnel_single_user_shuffle(spark):
    # one window pass over events: the three staged MINs share a single
    # user_id hash exchange, the per-user rollup reuses that partitioning
    # (no second exchange), and only the final 1-row agg adds one more —
    # the former staged shape re-scanned events 3x with 9 exchanges
    df = qmod.all_queries()["q64_event_funnel"](spark, SF)
    assert exchange_count(df) <= 3
    assert_no_cartesian(df)


def test_x36_divergence_reuses_token_count_shuffle(spark):
    # the (source, token) count is cached: per-source totals, per-token
    # totals, corpus total, and the final join all read the cache instead
    # of replaying tokenize+shuffle (12 exchanges before the reuse pass).
    # clearCache first: an earlier test materializing the same logical
    # plan would otherwise swap in InMemoryTableScan blocks and change
    # the formatted plan's exchange census (order-dependence)
    spark.catalog.clearCache()
    df = qmod.all_queries()["x36_source_divergence"](spark, SF)
    assert exchange_count(df) <= 6
    assert_no_cartesian(df)


def test_x57_kmeans_assignment_is_scan_side(spark):
    # centroids ride the numpy task closure (r10): assignment adds NO
    # join/shuffle — the exchanges are the final per-cluster aggregation
    # plus (at test scale) the gated scan-width repartition feeding the
    # cached corpus (ensure_min_parallelism fires because the fixture
    # scan is one split; at a wide real scan it adds nothing)
    # (the repartition appears twice in the census — the cached
    # relation's AQE subtree prints both Initial and Final plans)
    df = qmod.all_queries()["x57_kmeans_lloyd"](spark, SF)
    assert exchange_count(df) <= 3
    assert_no_cartesian(df)


def test_x58_eval_gram_probe_broadcasts(spark):
    # the eval gram set must broadcast into the training-gram scan —
    # a sort-merge here would shuffle the whole exploded corpus
    df = qmod.all_queries()["x58_eval_gram_decontamination"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_x59_sq8_rerank_joins_broadcast(spark):
    # candidate set (Q×50) and query vectors both broadcast: the corpus
    # is never shuffled for the rerank
    df = qmod.all_queries()["x59_sq8_rerank_topk"](spark, SF)
    assert broadcast_join_count(df) == 2
    assert_no_cartesian(df)


def test_x60_gopher_gates_zero_shuffle(spark):
    df = qmod.all_queries()["x60_gopher_quality_gates"](spark, SF)
    assert exchange_count(df) == 0


def test_x61_incremental_band_join_broadcasts_batch(spark):
    # arrival-batch band rows broadcast into the corpus band table; the
    # best-match join back to the batch also broadcasts
    df = qmod.all_queries()["x61_incremental_minhash_dedup"](spark, SF)
    assert broadcast_join_count(df) == 2
    assert_no_cartesian(df)


def test_l04_bucketed_join_has_no_join_exchange(spark):
    # both tables bucketed by the join key: the sort-merge join reads
    # co-located buckets — the ONLY exchange is the final 5-row agg
    df = qmod.all_queries()["l04_bucketed_colocated_join"](spark, SF)
    assert exchange_count(df) == 1
    assert broadcast_join_count(df) == 0
    assert "SortMergeJoin" in df._jdf.queryExecution().executedPlan().toString()
    assert_no_cartesian(df)


def test_x62_weight_table_broadcasts(spark):
    # the fixed 1024-row bucket-weight table must broadcast back into the
    # token stream; the corpus is never shuffled for the weight lookup
    df = qmod.all_queries()["x62_dsir_importance_weights"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_x65_datacard_single_shuffle(spark):
    # one corpus scan, one source-keyed shuffle of aggregated rows
    df = qmod.all_queries()["x65_corpus_datacard"](spark, SF)
    assert exchange_count(df) == 1
    assert_no_cartesian(df)


def test_q79_scd2_windows_share_one_exchange(spark):
    # the change-compression lag and the interval lead both partition by
    # user_id: one shuffle feeds both window passes
    df = qmod.all_queries()["q79_scd2_user_history"](spark, SF)
    assert exchange_count(df) == 1
    assert_no_cartesian(df)


def test_x66_group_split_zero_join(spark):
    # split key is a scan-side hash expression: no join, one stats agg
    df = qmod.all_queries()["x66_group_split_by_source"](spark, SF)
    assert broadcast_join_count(df) == 0
    assert exchange_count(df) == 1


def test_l05_scan_is_partition_pruned(spark):
    # the source='src0' predicate must resolve against partition
    # DIRECTORIES at planning time (PartitionFilters), not as a row filter
    from smfg_datawarehouse_spark.plans import partition_filters

    df = qmod.all_queries()["l05_partition_pruned_lake"](spark, SF)
    pf = [f for f in partition_filters(df) if "src0" in f]
    assert pf, "source predicate did not reach PartitionFilters"
    # and the pruned scan reads only the data columns it needs
    schemas = read_schemas(df)
    assert schemas and all("text" not in s for s in schemas)


def test_q80_point_in_time_join_no_cartesian(spark):
    # equi-join on user_id with the interval containment as residual —
    # never a cartesian/BNLJ over fact × dim
    df = qmod.all_queries()["q80_scd2_point_in_time"](spark, SF)
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_x67_rate_table_broadcasts(spark):
    # the |sources|-row rate table broadcasts into the admit scan (its
    # one join), and the whole plan holds at 3 exchanges: per-source
    # rollup, the tiny-window single partition, the admit rollup — the
    # corpus itself is tokenized once and shuffles zero rows
    df = qmod.all_queries()["x67_mixture_sampling_apply"](spark, SF)
    assert broadcast_join_count(df) == 1
    assert exchange_count(df) <= 3
    assert_no_cartesian(df)


def test_x68_unigram_tables_broadcast(spark):
    # vocab-sized unigram count tables broadcast into the bigram rollup
    df = qmod.all_queries()["x68_collocation_lift"](spark, SF)
    assert broadcast_join_count(df) >= 2
    assert_no_cartesian(df)


def test_x69_covariance_shuffles_only_partials(spark):
    # the corpus folds into per-partition d×d integer partials inside
    # mapInPandas; only |partitions|·d(d+1)/2 partial rows reach the
    # merge groupBy — the vectors themselves shuffle once (repartition)
    df = qmod.all_queries()["x69_embedding_covariance"](spark, SF)
    assert exchange_count(df) <= 2
    assert_no_cartesian(df)


def test_x70_thresholds_broadcast(spark):
    # the |langs|-row tercile table must broadcast back onto the doc-score
    # stream, and NO join anywhere in the query may sort-merge (the vocab
    # and total joins inside the cached doc-score subplan broadcast too,
    # but the InMemoryRelation hides them from the formatted-plan census —
    # so pin the absence of shuffle joins rather than a broadcast count)
    df = qmod.all_queries()["x70_lm_score_buckets"](spark, SF)
    assert broadcast_join_count(df) >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert_no_cartesian(df)


def test_q81_bloom_probe_is_scan_side(spark):
    # k bit-marker joins + the exact-marker join all broadcast; the fact
    # table reaches the single-row aggregate without ever shuffling
    df = qmod.all_queries()["q81_bloom_join_pushdown"](spark, SF)
    assert broadcast_join_count(df) == 5  # k=4 bit probes + exact marker
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(df)


def test_q86_consistency_join_not_cartesian(spark):
    # per-order charge groupBy + left join on the same key: the join must
    # be a real equi-join (hash/sort-merge), never a cartesian, and the
    # lineitem scan must prune to the 5 consumed columns
    df = qmod.all_queries()["q86_order_consistency_audit"](spark, SF)
    assert_no_cartesian(df)
    schemas = read_schemas(df)
    li = [s for s in schemas if any("l_orderkey" in f for f in s)]
    assert li and len(li[0]) <= 5


def test_x81_alignment_is_single_join(spark):
    # documents LEFT JOIN embeddings then one rollup — at most the
    # canonical shuffle set (2 join sides + final agg), no extra exchanges
    df = qmod.all_queries()["x81_embedding_alignment"](spark, SF)
    assert_no_cartesian(df)
    assert exchange_count(df) <= 4


def test_q84_transitions_two_logical_shuffles(spark):
    # user-window shuffle + type-pair groupBy (+ tiny matrix window);
    # a jump above 4 exchanges means the lag window stopped sharing its
    # partitioning with downstream stages
    df = qmod.all_queries()["q84_event_transitions"](spark, SF)
    assert exchange_count(df) <= 4
    assert_no_cartesian(df)


def test_q87_latency_profile_no_self_join(spark):
    # forward-asof via window, NOT a range self-join: exactly one events
    # scan in the plan
    df = qmod.all_queries()["q87_conversion_latency_profile"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    assert_no_cartesian(df)


def test_l15_diff_is_one_full_outer_join(spark):
    # snapshot diff = two snapshot scans into ONE join (full outer SMJ or
    # AQE-chosen hash) — one exchange per side, no cartesian, and the
    # change classification stays in the projection (no extra shuffle)
    df = qmod.all_queries()["l15_snapshot_diff"](spark, SF)
    assert_no_cartesian(df)
    assert exchange_count(df) <= 2


def test_x84_sampler_broadcasts_source_stats(spark):
    # the per-source probability table must broadcast onto the corpus
    # scan (it is |sources|-sized); a sort-merge join here would shuffle
    # the whole corpus by source — the exact skew this op must not have
    df = qmod.all_queries()["x84_weighted_bernoulli_sample"](spark, SF)
    assert broadcast_join_count(df) >= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(df)


def test_x85_pq_rerank_joins_broadcast(spark):
    # PQ-ADC mirrors x59's skeleton: coarse candidate set (Q×50) and
    # query vectors both broadcast for the rerank — the corpus is never
    # shuffled pair-shaped; codebook training/encoding are scan-side
    df = qmod.all_queries()["x85_pq_adc_topk"](spark, SF)
    assert broadcast_join_count(df) == 2
    assert_no_cartesian(df)


def test_x85_widens_the_corpus_once(spark):
    # the ADC scan encodes each Arrow batch itself, so the returned plan
    # widens the corpus in one round-robin Exchange; the rest are the
    # top-k window's and the rerank's
    df = qmod.all_queries()["x85_pq_adc_topk"](spark, SF)
    assert exchange_count(df) <= 3


def test_x86_substring_anchor_join_no_cartesian(spark):
    # the anchor self-join must key on the anchor text (Σ df² candidate
    # pattern), never degrade to a cartesian pair enumeration
    df = qmod.all_queries()["x86_substring_dedup"](spark, SF)
    assert_no_cartesian(df)


def test_x87_domain_reweighting_broadcasts(spark):
    # vocab-sized probability table and domain-sized rollups broadcast;
    # the only corpus-sized exchange is the (source, token) count groupBy
    df = qmod.all_queries()["x87_domain_reweighting"](spark, SF)
    assert broadcast_join_count(df) >= 3
    assert_no_cartesian(df)


def test_x89_png_roundtrip_no_join(spark):
    # generate → decode is a pure two-stage Arrow pipeline: no joins at
    # all, one repartition exchange per mapInPandas stage
    df = qmod.all_queries()["x89_png_decode_roundtrip"](spark, SF)
    assert broadcast_join_count(df) == 0
    assert_no_cartesian(df)


def test_x90_intra_repeat_self_join_keyed(spark):
    # the in-doc position self-join must key on (doc_id, anchor) — the
    # occ²-bounded candidate pattern — never a positional cross product
    df = qmod.all_queries()["x90_intra_doc_repetition"](spark, SF)
    assert_no_cartesian(df)


def test_x91_wav_roundtrip_no_join(spark):
    # synth → decode is the same pure two-stage Arrow pipeline as x89
    df = qmod.all_queries()["x91_wav_decode_roundtrip"](spark, SF)
    assert broadcast_join_count(df) == 0
    assert_no_cartesian(df)


def test_x92_boilerplate_join_keyed_on_gram(spark):
    # windows↔boilerplate-set join is keyed on the gram; the n_docs
    # total is the only (one-row) broadcast
    df = qmod.all_queries()["x92_boilerplate_coverage"](spark, SF)
    assert_no_cartesian(df)


def test_l19_salted_join_result_plan_no_cartesian(spark):
    df = qmod.all_queries()["l19_salted_skew_join"](spark, SF)
    assert_no_cartesian(df)


def test_q92_lateral_decorrelates_to_broadcast_join(spark):
    # the correlated LATERAL ORDER BY/LIMIT must decorrelate: one ranked
    # window over orders joined back broadcast — NOT a per-customer
    # nested-loop re-scan (the difference between O(N+M) and O(N·M))
    df = qmod.all_queries()["q92_lateral_top_orders"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert broadcast_join_count(df) == 1
    assert "NestedLoopJoin" not in plan
    assert_no_cartesian(df)


def test_q90_attribution_single_user_shuffle(spark):
    # both ignorenulls window expressions share one user-keyed exchange;
    # the channel rollup is the only other shuffle
    df = qmod.all_queries()["q90_last_touch_attribution"](spark, SF)
    assert exchange_count(df) <= 2
    assert_no_cartesian(df)


def test_x93_inverted_index_reuses_term_partitioning(spark):
    # (term,doc) count shuffle + term window/rollup reuse + top-N: the
    # postings groupBy must NOT add a fourth exchange over the window's
    df = qmod.all_queries()["x93_inverted_index"](spark, SF)
    assert exchange_count(df) <= 3
    assert_no_cartesian(df)


def test_x96_udtf_chunking_no_shuffle(spark):
    # the UDTF multiplies rows in place on scan partitions — any exchange
    # means the explode stopped being embarrassingly parallel
    df = qmod.all_queries()["x96_token_chunking_udtf"](spark, SF)
    assert exchange_count(df) == 0


def test_x98_bm25_query_term_filter_reaches_scan(spark):
    # the 3-term query filter must land before the postings groupBy — the
    # shuffle carries query-term postings only, never the vocabulary
    df = qmod.all_queries()["x98_bm25_rational_topk"](spark, SF)
    assert_no_cartesian(df)
    from smfg_datawarehouse_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-10, no global sort


def test_q95_bitmap_build_is_two_exchanges(spark):
    # window by chunk + (chunk,word) agg + final chunk rollup: the bitmap
    # build must stay one scan with partial bit_or combine, no joins
    df = qmod.all_queries()["q95_bitmap_index_intersection"](spark, SF)
    assert exchange_count(df) <= 2
    assert_no_cartesian(df)


def test_q96_all_layouts_share_one_scan_shuffle(spark):
    # explode fans each row to its 3 (layout, file) assignments in place;
    # a per-layout re-aggregation of the base table would triple the scans
    df = qmod.all_queries()["q96_zorder_skipping_audit"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) <= 2  # stats agg + base pass


def test_x99_projection_stays_scan_local(spark):
    # JL projection is a select expression; the only exchanges are the
    # partial-topk rollup and the two candidate-fetch joins
    df = qmod.all_queries()["x99_jl_projection_topk"](spark, SF)
    assert_no_cartesian(df)


def test_x101_pair_generation_single_token_pass(spark):
    # explode-based pair emission: the windowed token stream is consumed
    # once — the 4-way unionAll shape re-ran scan+join+window per branch
    df = qmod.all_queries()["x101_skipgram_pairs"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan, scan_count

    assert scan_count(df) <= 2  # vocab pass + pair pass
    assert "TakeOrderedAndProject" in formatted_plan(df)  # top-50, no global sort
    assert_no_cartesian(df)


def test_x102_chi2_is_single_scan(spark):
    # the O^2/E - n identity + grid windows: ONE scan of documents
    df = qmod.all_queries()["x102_length_drift_chi2"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) == 1


def test_x103_no_corpus_sized_single_partition_window(spark):
    # global ordinals come from band offsets + per-band windows; the only
    # unpartitioned window runs over band-level counts (grid-sized)
    df = qmod.all_queries()["x103_quantile_normalization"](spark, SF)
    assert_no_cartesian(df)


def test_q98_band_join_is_hash_not_nested_loop(spark):
    # the whole point of the bucket expansion: the non-equi band predicate
    # must ride an equi-join, never BroadcastNestedLoopJoin over groups
    df = qmod.all_queries()["q98_band_join_bucketed"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "NestedLoopJoin" not in plan
    assert_no_cartesian(df)


def test_q99_skyline_no_quadratic_self_join(spark):
    # sort-based skyline: two keyed windows + one broadcast join back;
    # the dominance NOT EXISTS shape would be a nested loop
    df = qmod.all_queries()["q99_skyline_pareto"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "NestedLoopJoin" not in plan
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_q100_histogram_no_single_partition_data_window(spark):
    # global ordinals via band offsets: the only unpartitioned windows are
    # band-level (offset cumsum) and the grid-sized total
    df = qmod.all_queries()["q100_equi_depth_histogram"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) <= 2  # offsets pass + ordinal pass
    assert_no_cartesian(df)


def test_x111_triangle_joins_stay_keyed(spark):
    # degree-ordered orientation: wedge + closure ride keyed joins; a
    # nested-loop or cartesian here would be the all-pairs failure mode
    df = qmod.all_queries()["x111_triangle_count"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "NestedLoopJoin" not in plan
    assert_no_cartesian(df)
    # LSH + orientation are checkpointed: downstream replays stay bounded
    assert exchange_count(df) <= 16


def test_x112_rrf_fuse_is_rank_sized(spark):
    # three retriever lists (one corpus scan each) + one fuse groupBy;
    # the fuse operates on lists x k rows, never corpus-shaped joins
    df = qmod.all_queries()["x112_rank_fusion_rrf"](spark, SF)
    assert_no_cartesian(df)
    assert exchange_count(df) <= 8


def test_x113_grid_stays_broadcast(spark):
    # cells x sources grid: both grid sides are aggregated tiny frames and
    # must broadcast — a shuffled grid join would imply row-shaped inputs
    df = qmod.all_queries()["x113_t_closeness"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_x114_randomized_response_single_scan_single_shuffle(spark):
    # the LDP mechanism is scan-local: one pass, one map-combined groupBy
    df = qmod.all_queries()["x114_randomized_response"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) == 1
    assert exchange_count(df) == 1


def test_x115_label_spread_rounds_stay_keyed(spark):
    # two vote rounds over a checkpointed edge list: node-keyed joins only
    df = qmod.all_queries()["x115_label_spread"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan

    assert "NestedLoopJoin" not in formatted_plan(df)
    assert_no_cartesian(df)
    assert exchange_count(df) <= 10


def test_q103_window_runs_over_brand_rollup(spark):
    # lineitem joins part then aggregates BEFORE the cumulative window:
    # the unpartitioned window sees one row per brand, and the plan's only
    # exchanges are the rollup + the window's single-partition collapse
    df = qmod.all_queries()["q103_pareto_abc"](spark, SF)
    assert exchange_count(df) <= 3
    assert_no_cartesian(df)


def test_x116_linkage_join_is_block_keyed(spark):
    # Fellegi-Sunter pairs come ONLY from the blocking-key equi-join;
    # a nested loop would mean the blocking collapsed to all-pairs
    df = qmod.all_queries()["x116_record_linkage_fs"](spark, SF)
    from smfg_datawarehouse_spark.plans import formatted_plan

    assert "NestedLoopJoin" not in formatted_plan(df)
    assert_no_cartesian(df)


def test_x117_windows_reuse_rollup_partitioning(spark):
    # one corpus shuffle to the (type, hour) rollup; the type-partitioned
    # windows run over 24-rows-per-type aggregates, not raw events
    df = qmod.all_queries()["x117_seasonality_index"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) == 1
    assert exchange_count(df) <= 2


def test_q104_window_and_rollup_share_one_shuffle(spark):
    # the latest-wins window keys on (user, day) and the daily rollup
    # groups by day: one corpus exchange for the window + one day-keyed
    # rollup exchange, nothing more
    df = qmod.all_queries()["q104_semi_additive_balance"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) == 1
    assert exchange_count(df) <= 2
    assert_no_cartesian(df)


def test_x118_sketch_and_truth_single_scan_each(spark):
    # the estimator's cost model: CMS cells then row sums, key counts then
    # the square sum — two scan branches, no key-shaped join anywhere
    df = qmod.all_queries()["x118_join_size_estimate"](spark, SF)
    from smfg_datawarehouse_spark.plans import scan_count

    assert scan_count(df) == 2
    assert exchange_count(df) <= 5


def test_x120_knn_graph_single_keyed_shuffle(spark):
    # cell assignment + probing are scan-side literal-centroid expressions;
    # the only data shuffle is the probe-cell equi-join plus the per-query
    # rank window — no N×N pair space, no cartesian
    df = qmod.all_queries()["x120_knn_graph"](spark, SF)
    assert_no_cartesian(df)
    assert exchange_count(df) <= 3
    assert broadcast_join_count(df) >= 1


def test_x121_bigram_scan_prunes_documents(spark):
    # tokenization should read only (doc_id, source, text) — not n_chars/lang
    df = qmod.all_queries()["x121_bigram_lm_score"](spark, SF)
    assert_no_cartesian(df)
    schemas = read_schemas(df)
    assert schemas and all(len(s) <= 3 for s in schemas)


def test_q105_attribution_is_interval_equijoin(spark):
    # the touch join must be a user-keyed equi-join (interval predicate as
    # a post-join filter), never a cartesian range join
    df = qmod.all_queries()["q105_position_attribution"](spark, SF)
    assert_no_cartesian(df)
    assert any("event_type" in f for f in pushed_filters(df))


def test_q94_windows_key_on_bucket_not_type_alone(spark):
    """The r5 perf-weak fix: the rolling-OLS frame is decomposed over
    (event_type, 86400-s bucket), so NO Window operator may partition on
    event_type alone — that shape caps parallelism at ~|types| tasks on
    a corpus-sized frame."""
    import re

    from smfg_datawarehouse_spark.plans import formatted_plan

    df = qmod.all_queries()["q94_rolling_trend_slope"](spark, SF)
    plan = formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected Window operators in the q94 plan"
    for spec in specs:
        keys = [s for s in spec.split(", ") if "#" in s and "ASC" not in s
                and "DESC" not in s and "window" not in s]
        assert len(keys) >= 2, f"window keyed on a single column: {spec}"
    assert_no_cartesian(df)


def test_x128_packing_no_corpus_scale_global_window(spark):
    """The running token offset must come from band-offset partial sums:
    the only unpartitioned window may be the bands-sized offset cumsum
    (≤ |bands| rows), never a corpus-sized ORDER BY doc_id window, and
    the offsets table must broadcast back."""
    import re

    df = qmod.all_queries()["x128_sequence_packing"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an unpartitioned window ordering by doc_id would be the corpus-sized
    # global cumsum; every doc_id-ordered window must carry a partition key
    bad = [
        s
        for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if s.lstrip().startswith("doc_id#")
    ]
    assert not bad, f"unpartitioned corpus-order window: {bad}"
    assert broadcast_join_count(df) >= 1
    assert_no_cartesian(df)


def test_x129_novelty_keyed_joins_only(spark):
    df = qmod.all_queries()["x129_ngram_novelty_curve"](spark, SF)
    assert_no_cartesian(df)


def test_q109_window_funnel_one_user_exchange(spark):
    """q109's three stacked window MINs must share q64's single user_id
    hash exchange (the per-row time bounds add zero shuffles)."""
    df = qmod.all_queries()["q109_window_funnel"](spark, SF)
    assert_no_cartesian(df)
    assert exchange_count(df) <= 3  # user window + depth rollup (+AQE read)


def test_x139_retrieval_joins_are_keyed_or_broadcast(spark):
    """x139's candidate join must be term-keyed with the query side
    broadcast — never a pair enumeration."""
    df = qmod.all_queries()["x139_tfidf_cosine_retrieval"](spark, SF)
    assert_no_cartesian(df)
    assert broadcast_join_count(df) >= 2  # df table + query vectors


def test_x140_aqp_single_scan(spark):
    """x140 computes exact AND sample aggregates in ONE lineitem scan —
    conditional aggregation, no second pass."""
    df = qmod.all_queries()["x140_aqp_sample_estimate"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1  # one scan feeds both estimators
    assert exchange_count(df) <= 1


def test_x142_assignment_broadcasts_centroids(spark):
    """x142's argmin assignment must broadcast the |labels|-row centroid
    table against the corpus scan (a shuffled pair join would be wrong)."""
    from smfg_datawarehouse_spark.plans import formatted_plan

    df = qmod.all_queries()["x142_centroid_label_eval"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q110_rolling_distinct_fanout_shape(spark):
    """q110's sliding COUNT DISTINCT must run as the fan-out rewrite:
    keyed exchanges only, no 7-way self-join of the corpus."""
    df = qmod.all_queries()["q110_rolling_distinct_users"](spark, SF)
    assert_no_cartesian(df)
    assert broadcast_join_count(df) >= 1  # observed-days filter broadcast


def test_l36_mv_serving_reads_mv_artifact(spark):
    """l36 must serve from the reloaded MV parquet + a tail scan — two
    scans total, with the decimal partial sums surviving the roundtrip."""
    df = qmod.all_queries()["l36_mv_tail_serving"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 2  # MV artifact + orders tail
    assert any(any("rev_partial" in f for f in s) for s in schemas)


def test_q112_band_width_invariance(spark):
    """q112's revenue bands are pure decomposition: any band width must
    produce the identical class table (the decimal offsets + within-band
    runs always compose to the same global cumsum)."""
    from smfg_datawarehouse_spark.operators.warehouse_suite import (
        q112_abc_classification,
    )

    wide = sorted(
        map(tuple, q112_abc_classification(spark, SF, band_width=10000.0)
            .collect())
    )
    narrow = sorted(
        map(tuple, q112_abc_classification(spark, SF, band_width=137.0)
            .collect())
    )
    assert wide == narrow


def test_x144_maxmin_sequence_non_increasing(spark):
    """Gonzalez greedy invariant: each selected point's min-distance to
    the prior selection never increases along the selection order (the
    frontier only shrinks as points are added)."""
    df = qmod.all_queries()["x144_maxmin_diversity_sample"](spark, SF)
    rows = sorted(df.collect(), key=lambda r: r.sel_rank)
    dists = [r.mind for r in rows if r.mind is not None]
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists
