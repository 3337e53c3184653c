"""Plan-shape contracts: pin the physical properties that matter at 100 TB.

Plan *shape* is scale-independent for the pinned properties — a broadcast
hint, a pushed filter, or a map-side partial aggregate appears in the
sf0.001 plan iff it appears in the sf0.1 plan (hints and pushdown don't
depend on statistics; only UNhinted join selection does, which is why the
contracts assert minimum broadcast counts on the HINTED dimension joins and
upper bounds elsewhere).  Nothing here executes a job: all assertions read
``EXPLAIN FORMATTED`` text.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from spark_fuse_spark.catalog import load_all
from spark_fuse_spark.plans import (
    PlanExpectation,
    check_plan,
    codegen_span_count,
    exchange_count,
    join_strategies,
    physical_plan,
    pushed_filter_names,
    scan_summaries,
)

# query name -> contract.  Bounds are the plan we WANT, not the first plan
# that passed: dims broadcast, filters pushed, unused fact columns pruned,
# grouped aggs partial first.
CONTRACTS = {
    # scan-heavy agg: date filter must reach parquet; join-key columns of
    # lineitem are dead here and must be pruned from the scan
    "q01_pricing_summary": PlanExpectation(
        pushed_filters_include={"lineitem": {"l_shipdate"}},
        pruned_columns={"lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"}},
        require_partial_agg=True,
        max_exchanges=2,  # one hash for the groupBy, one range for the orderBy
    ),
    # 6-way star join: every dimension hop is hinted broadcast — the only
    # shuffles the query NEEDS are the fact-fact join and the final agg
    "q05_region_revenue": PlanExpectation(
        min_broadcast_joins=4,
        require_partial_agg=True,
    ),
    "q07_nation_volume": PlanExpectation(
        min_broadcast_joins=2,  # the two hinted nation-dim joins
        pushed_filters_include={"orders": {"o_orderkey"}, "lineitem": {"l_orderkey"}},
        require_partial_agg=True,
    ),
    "q09_profit_by_nation_year": PlanExpectation(
        min_broadcast_joins=3,  # part, supplier, nation all hinted
        pushed_filters_include={"part": {"p_name"}},
        require_partial_agg=True,
    ),
    "q16_supplier_cnt": PlanExpectation(
        min_broadcast_joins=2,  # anti-probe (bad suppliers) + part dim
        pushed_filters_include={"part": {"p_brand", "p_type", "p_size"}},
        require_partial_agg=True,
    ),
    "q21_waiting_suppliers": PlanExpectation(
        min_broadcast_joins=3,  # supplier, nation, region
        pushed_filters_include={"orders": {"o_orderstatus"}},
    ),
    # salted two-phase agg exists precisely to add ONE pre-shuffle on the
    # salted key before the final combine — partial aggs on both phases
    "x_salted_agg": PlanExpectation(require_partial_agg=True),
    # ---- dedup family: the quadratic step must stay confined to buckets;
    # shuffle budgets pin the O(docs)-shaped exchanges (fingerprint agg /
    # shingle join / band groupBy), and the catalog-wide sweep below pins
    # "no cartesian" for all of them
    "d_dedup_exact": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # exact jaccard now rides the prefix filter (hot-shingle guard): the
    # freq/set/candidate/verify stages are lineage-truncated by the eager
    # localCheckpoint (shape pinned by the identity test vs the plain
    # inverted index + the hot-shingle candidate contract); the final plan
    # may only sort the checkpointed pairs
    "d_ngram_jaccard": PlanExpectation(max_exchanges=1),
    "d_simhash": PlanExpectation(max_exchanges=4),
    # LSH near-dup: candidate pairs are explicitly broadcast into the
    # verify joins (the corpus must never shuffle for verification)
    "d_embedding_neardup": PlanExpectation(min_broadcast_joins=1, max_exchanges=5),
    # ---- vector search: queries broadcast over one corpus scan; only the
    # (|Q|·k)-sized ranked rows may shuffle
    "v_ann_bruteforce": PlanExpectation(max_exchanges=2),
    "v_ivf_topk": PlanExpectation(min_broadcast_joins=1, max_exchanges=2),
    # one hash Exchange for the bucket groupBy, one range for the
    # driver-compare orderBy (added with the differential oracle)
    "v_lsh_buckets": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    "v_vector_norms": PlanExpectation(max_exchanges=1),
    # ---- event/batch-twin windows: map-side partial aggregation before
    # the one window-key shuffle (session windows emit partial_merge)
    "e_tumbling_window": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    "e_sliding_window": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    "e_session_window": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    "e_first_event_dedup": PlanExpectation(max_exchanges=2),
    # JSON extraction and the mapInPandas multimodal path add NO shuffle
    # beyond the deterministic output ordering
    "e_json_props": PlanExpectation(max_exchanges=1),
    "m_binary_metadata": PlanExpectation(max_exchanges=1),
    "c_scd2_snapshot": PlanExpectation(max_exchanges=2),
    "t_corpus_build": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "t_stratified_sample": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # ---- pipeline suite: CC's iterative rounds are lineage-truncated by
    # localCheckpoint, so the FINAL plan is label-broadcast + one window
    # partition + sort; the corpus never re-shuffles for labeling
    "d_dedup_clusters": PlanExpectation(min_broadcast_joins=1, max_exchanges=4),
    # two-phase prefix sum: range partition + local windows + bounded
    # offsets broadcast — the contract is that the offsets JOIN is a
    # broadcast (no data-sized shuffle to attach offsets)
    "t_pack_sequences": PlanExpectation(min_broadcast_joins=1, max_exchanges=6),
    # contamination: eval side broadcast, training side never shuffled
    # before the pair groupBy
    "t_contamination": PlanExpectation(min_broadcast_joins=1, require_partial_agg=True, max_exchanges=2),
    # scan-speed text ops: output ordering is the only exchange
    "t_pii_redact": PlanExpectation(max_exchanges=1),
    "t_chunk_documents": PlanExpectation(max_exchanges=1),
    "t_repetition": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # prefix-filtered exact jaccard: the freq/set/candidate/verify stages
    # are lineage-truncated by the eager localCheckpoint (their shape is
    # pinned by the identity test vs the plain inverted index); the final
    # plan may only sort the checkpointed pairs
    "d_jaccard_prefix": PlanExpectation(max_exchanges=1),
    # incremental dedup: one anti-join + one fingerprint agg, nothing else
    "d_incremental_dedup": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    "t_source_quality": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # funnel: three chained conditional window-mins REUSE one user-key
    # exchange; then the per-user rollup and the output sort
    "e_funnel": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "e_retention": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    "t_sentiment": PlanExpectation(max_exchanges=1),
    # mixing: per-row gate + explode, then one partial-agg rollup
    "t_mix_resample": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # two-pass corpus statistics: token-freq agg shuffle, broadcast-back,
    # per-doc rollup, output sort
    # 5 exchanges: token-freq agg, the 1-row total agg, per-doc rollup,
    # output sort, plus the broadcast exchange for the freq table
    "t_unigram_surprisal": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=5
    ),
    "q_hll_sketch": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # --- round-3 curation suite: every join broadcast, no shuffle joins ---
    # single scan, one multi-distinct agg (Expand), output sort
    "q_profile_stats": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # one user_id window shuffle + output sort
    "q_forward_fill": PlanExpectation(max_exchanges=2),
    # gram explode → hash groupBy (partial-agg'd) → output sort
    "d_duplicate_spans": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # blocked linkage: ONE broadcast join, no shuffle join, one sort
    "d_record_linkage": PlanExpectation(min_broadcast_joins=1, max_exchanges=1),
    # cutoff agg, 1-row broadcast-back, bucket rollup (declared NLJ)
    "t_length_buckets": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # clicks⋈views broadcast on user_id+range, per-click rollup, sort
    "e_interval_join": PlanExpectation(min_broadcast_joins=1, max_exchanges=2),
    # per-source percentile agg broadcast back onto the scan, sort
    "t_winsorize": PlanExpectation(min_broadcast_joins=1, max_exchanges=2),
    # lag + cumsum + rollup all REUSE one user_id exchange; output sort
    "e_sessionize_gap": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # posexplode → centroid agg → broadcast-back distance join → top-k
    "v_centroid_outliers": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    # narrow token count + vocab-table TakeOrdered (declared 1-row NLJ)
    "t_vocab_coverage": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # bigram + unigram freq tables broadcast back over the bigram stream
    "t_bigram_surprisal": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=4
    ),
    # two tiny grouped aggs broadcast back; the events table never shuffles
    "e_anomaly_mad": PlanExpectation(min_broadcast_joins=3, max_exchanges=4),
    # key-count agg + 1-row stats + bounded top-N (declared 1-row NLJ)
    "x_key_skew_profile": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # contamination join (eval broadcast) -> flagged-id broadcast anti ->
    # per-source rollup; the training scan itself never shuffles
    "t_decontaminate": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=4
    ),
    # hourly rollup (partial-agg'd), then two windows over the tiny
    # (hours x types) table + output sort
    "e_top_k_trending": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # narrow reshape; pushdown carries the orderkey filter, sort only
    "q_unpivot": PlanExpectation(
        pushed_filters_include={"lineitem": {"l_orderkey"}}, max_exchanges=1
    ),
    # LATERAL decorrelates to broadcast joins + window top-k, no shuffle join
    "q_lateral_topk": PlanExpectation(min_broadcast_joins=2, max_exchanges=2),
    # lang-partition window + single global aggregate
    "t_dataset_card": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # pure codegen slice/fold arithmetic; output sort is the only exchange
    "v_matryoshka_truncate": PlanExpectation(max_exchanges=1),
    # row-level checks share ONE aggregate; unique adds a groupBy, ref an
    # anti-join; the 1-row totals join each check result (declared NLJ)
    "q_data_checks": PlanExpectation(min_broadcast_joins=1, require_partial_agg=True, max_exchanges=7),
    # all seven analytic functions share ONE window spec -> one WindowExec
    # over one custkey exchange; output sort is the second
    "q_window_suite": PlanExpectation(max_exchanges=2),
    # (user,bucket) rollup -> span agg -> grid join -> fill window + sort;
    # every shuffle is on the user key family and partial-agg'd
    "e_resample_1h": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # ---- round-5 additions.  market basket: ONE basket-keyed shuffle of
    # the fact (collect_set), pair expansion within-row, frequency/total
    # panels broadcast back (static explain counts the shared basket-agg
    # subtree once per consumer; at runtime AQE reuses the exchange)
    # basket rules are eagerly checkpointed inside association_rules (the
    # basket-set subtree has 4 consumers), so the query's visible plan may
    # only top-k the checkpointed rule table; the broadcast-join/partial-agg
    # shape is pinned on the un-truncated builder in
    # test_plan_basket_builder_shape / the executed-metrics basket test
    "q_market_basket": PlanExpectation(max_exchanges=1),
    # SQ8: the min/max training panel is ONE partial-aggregated fold;
    # scoring broadcasts panels over a single corpus scan
    "v_sq8_topk": PlanExpectation(require_partial_agg=True, max_exchanges=5),
    # incremental view maintenance: base view + two narrow changelog
    # projections into one grouped sum — churn-sized, never a rescan
    "c_incremental_agg": PlanExpectation(require_partial_agg=True, max_exchanges=7),
    # A-ES weighted sample: one stratum window shuffle + output sort
    "t_weighted_sample": PlanExpectation(max_exchanges=2),
    # BM25: token stream pruned to the term set pre-shuffle; df/avgdl
    # panels broadcast; one doc-keyed agg + dl join + output sort
    "t_bm25_topk": PlanExpectation(require_partial_agg=True, max_exchanges=6),
    "v_hybrid_rrf": PlanExpectation(require_partial_agg=True, max_exchanges=6),
    # markov: one user-keyed window sort + pair agg + broadcast totals
    # (static explain re-counts the shared pairs subtree under the
    # row-total branch; runtime exchange reuse collapses it)
    "e_markov_transitions": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=6
    ),
    "q_psi_drift": PlanExpectation(require_partial_agg=True),
    "e_seasonal_anomaly": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=3
    ),
    # gram hash agg + dup-set broadcast back + island windows + rollup +
    # totals join + sort — the inverted-index family's exchange budget
    "d_span_regions": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=6
    ),
    # bucket-stats agg + 1-row totals (declared NLJ) + doc rollup + sort
    "t_dsir_weights": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=7
    ),
    # pure per-row Catalyst signals; output sort is the only exchange
    "t_filter_audit": PlanExpectation(max_exchanges=1),
    # ONE co-partitioned full-outer join (both sides hash to the key) + sort
    "c_snapshot_diff": PlanExpectation(max_shuffle_joins=1, max_exchanges=3),
    # one partial-agg'd scan; the share window runs over 16 rows
    "t_shard_manifest": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # per-batch max agg + tiny running-max window + broadcast-back + rollup
    "e_watermark_audit": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=5
    ),
    # LSH pairs lineage-truncated by CC checkpoints; final plan is
    # label-broadcast + cluster-size window + sort (d_dedup_clusters shape)
    "d_semantic_dedup": PlanExpectation(min_broadcast_joins=1, max_exchanges=5),
    # ---- round-6 layout/governance suite.  z-order: one scan, the 1-row
    # lattice panel's global agg (SinglePartition exchange over partials),
    # one partial-agg'd rollup + sort
    "x_zorder_layout": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # compaction: month rollup + two-phase prefix (range repartition,
    # __pid totals agg, bounded offsets window) + bin rollup + sort;
    # static explain re-counts the shared prefix subtree under both the
    # local-window and totals branches (runtime exchange reuse collapses it)
    "x_compaction_plan": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=9
    ),
    # attribution: conversions broadcast into the touch scan twice
    # (hits + credit), |conversions| rollup, |types| rollup, sort
    "e_attribution_linear": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=4
    ),
    # leakage matrix: distinct (hash, source) then an equi self-join on
    # the hash — the inverted-index family's shape, never docs^2
    "d_cross_source_leakage": PlanExpectation(require_partial_agg=True, max_exchanges=5),
    # endpoint sweep: type-partitioned running sum + peak panel join + sort
    "e_peak_concurrency": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # distinct (user, type) + user-keyed self-join + broadcast size panels
    # (static explain re-counts the shared distinct subtree per consumer)
    "e_audience_overlap": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=8
    ),
    # daily rollup reused under mean panel / sweep / peak panel branches
    "e_cusum_changepoint": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=9
    ),
    # hash-gate BEFORE the explode; gram-hash agg; two 1-row panels
    "d_dedup_sample_extrapolation": PlanExpectation(
        require_partial_agg=True, max_exchanges=4
    ),
    # one scan, one rollup + sort; no explode (separator counting)
    "t_token_fertility": PlanExpectation(require_partial_agg=True, max_exchanges=2),
    # predicate as keys-only semi-join BEFORE scoring; queries broadcast
    "v_ann_filtered": PlanExpectation(min_broadcast_joins=1, max_exchanges=2),
    # two user-keyed grouped aggs sharing one key family + 1-row rollup
    "e_funnel_latency": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # inverted-index pair stage + 20-row histogram x 3-row config panel
    "d_lsh_band_planner": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # ---- round-3 stats/graph suite.  OLS: broadcast dims, ONE nation-keyed
    # partial-agg'd shuffle, sort
    "q_ols_trend": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=4
    ),
    # triangle: edge/orientation frames are localCheckpointed (Scan
    # ExistingRDD has no stats, so static explain plans SMJ and re-counts
    # the panel branches; AQE broadcasts + reuses at runtime — executed
    # plan measured at 30 exchanges incl. reuse)
    "x_triangle_count": PlanExpectation(require_partial_agg=True, max_exchanges=40),
    # bloom prune: bucket panel + dim broadcast into both semi-joins;
    # static explain re-counts the orders scan under each count panel
    "x_bloom_join_prune": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=14
    ),
    # ewma: ONE user-keyed window partition exchange + output sort
    "e_ewma_smooth": PlanExpectation(max_exchanges=4),
    # kmeans step: 512-row centroid panel broadcast into assignment and
    # shift branches; every groupBy partial-agg'd; static re-count of the
    # quantized scan under assign/update/inertia branches
    "v_kmeans_step": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=16
    ),
    # bfs: final rollup over checkpointed per-level frontiers (the loop's
    # joins/distincts already ran eagerly into the checkpoints)
    "x_bfs_levels": PlanExpectation(require_partial_agg=True, max_exchanges=6),
    # KM: user-keyed lifetime agg + 1-row cutoff panel + single-row step
    # fold; the panel branches re-count the grouped scan statically
    "e_survival_curve": PlanExpectation(require_partial_agg=True, max_exchanges=10),
    # flow conformance: ONE user-keyed shuffle + ordered fold + sort
    "e_flow_conformance": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # DiD: (arm, post) partial-agg'd rollup to a 4-row panel, then 1-row agg
    "e_did_estimate": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # preference pairs: two lang-PARTITIONED rank windows (never global),
    # k-bounded top/bottom join; the quality scan re-counts per branch
    "t_preference_pairs": PlanExpectation(min_broadcast_joins=1, max_exchanges=8),
    # payload neardup: corpus-centered signature + interleaved block band
    # join; static explain replays the signature subtree under both band
    # arms and the verify (runtime exchange reuse collapses them)
    "m_payload_neardup": PlanExpectation(min_broadcast_joins=2, max_exchanges=52),
    # histogram quantiles: span/quantile panels broadcast; (status, bin)
    # partial-agg'd counts; all windows partition by status[, q] over
    # <= 256 bin rows; static replays the scan under est/exact branches
    "x_histogram_quantiles": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=30
    ),
    # per-group-span variant: the brand span panel broadcast into binning
    # and the estimate; quantile panel is the declared 3-row BNLJ cross
    "q_brand_price_histogram": PlanExpectation(
        min_broadcast_joins=3, require_partial_agg=True, max_exchanges=10
    ),
    # blocked edit distance: ONE equi join on the block key (never
    # all-pairs), zero shuffle joins, the quadratic stage bounded per block
    "d_levenshtein_blocked": PlanExpectation(
        min_broadcast_joins=1, max_shuffle_joins=0, max_exchanges=2
    ),
    # survivorship: CC labels checkpointed + broadcast back; quality join
    # broadcast; rank/size windows partition by cluster_id
    "d_cluster_survivorship": PlanExpectation(min_broadcast_joins=1, max_exchanges=12),
    # rolling retention: distinct (user, day) partial-agg'd, user-keyed
    # banded self-join, day-keyed rollup; static re-counts the distinct
    # subtree under both join arms
    "e_rolling_retention": PlanExpectation(require_partial_agg=True, max_exchanges=12),
    # power panel: one user-keyed partial-agg'd shuffle to a 1-row panel
    "e_power_analysis": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    # BQ: 8-query word panel broadcast over one corpus code scan; only
    # |Q| x 50 candidates join back to full vectors (both joins broadcast)
    "v_bq_topk": PlanExpectation(
        min_broadcast_joins=3, require_partial_agg=True, max_exchanges=20
    ),
    # b-bit minhash: band-groupBy candidates + candidate-restricted exact
    # verify, both lineage-truncated by the eager localCheckpoint (shape
    # pinned by the band/verify tests + the oracle); the final plan may
    # only sort the checkpointed pairs
    "d_minhash_bbit": PlanExpectation(max_exchanges=1),
    # Lorenz deciles: two-phase prefix rank (range partition + local
    # windows + bounded offsets broadcast); the cumulative step is now the
    # 10-cell prefix_panel fold (round 7) — the triangular decile
    # self-join and its BroadcastHashJoin are gone; static explain
    # re-counts the spend rollup under the rank/panel/decile branches
    # (runtime exchange reuse collapses them)
    "q_revenue_concentration": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=58
    ),
    # Poisson bootstrap: x32 posexplode partial-aggregates map-side into
    # the (priority, replicate) shuffle; point-estimate branch + broadcast
    # panel join
    "e_bootstrap_ci": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    # round-7 query pins — shuffle/exchange budgets at the probed shape
    # (the checkpointed truss rounds keep the final plan to the stats
    # panels; the vocab inverted-index join hashes, never nested-loops)
    "x_ktruss": PlanExpectation(max_shuffle_joins=0, max_exchanges=6),
    "t_vocab_overlap": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=9
    ),
    "q_hhi_concentration": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    "m_vad_segments": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "v_embedding_drift": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "e_bass_diffusion": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    "q_kendall_tau": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "t_readability": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "e_fourier_harmonics": PlanExpectation(require_partial_agg=True, max_exchanges=3),
    "q_levene_test": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    # chi-square: ONE fact reduce to the contingency cells
    # (localCheckpointed), everything downstream is panel joins
    "q_chi2_independence": PlanExpectation(
        require_partial_agg=True, max_exchanges=7
    ),
    # KMV: dedup shuffle + salted two-phase bottom-k windows + broadcast
    # kth-min join back onto the exact counts
    "x_kmv_sketch": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    # correlation matrix: single scan, single reduce, 3-row unpivot —
    # ONE exchange total
    "q_corr_matrix": PlanExpectation(require_partial_agg=True, max_exchanges=1),
    # KS: per-value agg + two-phase prefix CDF (range shuffle + bounded
    # offsets) + exact-integer max; static explain re-counts the cells
    # subtree under the cum/panel branches
    "q_ks_2sample": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=12
    ),
    # KMV set algebra: dedup shuffle + salted bottom-k; the merged-sketch
    # window runs over <= 2k checkpointed rows
    "x_kmv_setops": PlanExpectation(
        min_broadcast_joins=2, require_partial_agg=True, max_exchanges=6
    ),
    # Mann-Whitney: per-value agg + checkpointed prefix pass + one-row
    # moment reduce
    "q_mann_whitney": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    # geo: the grid projection is per-row, so density is ONE agg exchange
    "g_geo_cells": PlanExpectation(require_partial_agg=True, max_exchanges=1),
    # blocked radius join: cell equi-join (hash, never cartesian) + one
    # per-supplier agg; the 9-offset explode adds no exchange
    "g_grid_neighbor_join": PlanExpectation(
        require_partial_agg=True, max_exchanges=4
    ),
    "g_haversine_nearest": PlanExpectation(
        require_partial_agg=True, max_exchanges=4
    ),
    # Moran's I: cell agg + exploded-offset adjacency EQUI-join (the OR
    # formulation plans a nested-loop all-pairs) + two 1-row reduces
    "g_moran_autocorr": PlanExpectation(require_partial_agg=True, max_exchanges=6),
    # Theil-Sen: the monthly rollup is the only data-sized shuffle; the
    # pair self-join and months panel ride the tiny aggregated frame
    "q_theil_sen": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=6
    ),
    # Benford: one 9-bucket map-side-combined agg + a 1-row total panel
    "q_benford_audit": PlanExpectation(require_partial_agg=True, max_exchanges=4),
    # weighted deciles: per-value partial agg -> checkpointed prefix ->
    # broadcast total + broadcast 9-row decile panel (theta-join on the
    # crossing condition is nested-loop BY DESIGN: 9 broadcast rows)
    "q_weighted_deciles": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=6
    ),
    # ACF: day-keyed rollup + bounded 7-lag explode equi-join on the
    # checkpointed calendar-sized frame + two 1-row reduces
    "e_acf_daily": PlanExpectation(
        min_broadcast_joins=1, require_partial_agg=True, max_exchanges=4
    ),
    # incremental join IVM: two snapshot diffs (key-copartitioned
    # full-outer SMJs), the view⋈Δdim refresh, fact-churn anti-join, and
    # the O(Δ) dim probe — data-sized exchanges all ride the key family
    "c_incremental_join": PlanExpectation(
        require_partial_agg=True, max_exchanges=14, max_shuffle_joins=6
    ),
    # rerank: first-stage bm25 + candidate joins stay broadcast — the
    # mapInPandas provider stage adds no data-sized shuffle join
    "t_rerank_topk": PlanExpectation(
        min_broadcast_joins=3, require_partial_agg=True, max_exchanges=12,
        max_shuffle_joins=0,
    ),
}


@pytest.mark.parametrize("name", sorted(CONTRACTS))
def test_plan_contract(spark, sf_small, name):
    df = load_all()[name].spark(spark, sf_small)
    problems = check_plan(df, CONTRACTS[name])
    assert not problems, f"{name}:\n" + "\n".join(problems) + "\n\n" + physical_plan(df)


# query name -> max Spark jobs to build the DataFrame and collect it on the
# test tier, AQE query-stage jobs included.  At small scale a job's fixed
# cost outweighs its data work, so these budgets are performance contracts.
JOB_BUDGETS = {
    "c_mor_upsert_read": 13,
    "c_scd2_point_in_time": 21,
    "c_scd2_temporal_join": 23,
    "d_containment": 17,
    "d_dedup_clusters": 31,
    "d_lsh_recall_audit": 20,
    "d_minhash_bbit": 19,
    "d_minhash_incremental": 18,
    "d_minhash_lsh": 16,
    "x_hits_suppliers": 32,
    "x_label_propagation": 21,
    "x_modularity": 33,
    "x_pagerank_exact": 43,
    "x_pagerank_suppliers": 63,
    "x_ppr_segment": 23,
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget(spark, sf_small, name):
    sc = spark.sparkContext
    group = f"job-budget:{name}"
    sc.setJobGroup(group, group)
    try:
        load_all()[name].spark(spark, sf_small).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOB_BUDGETS[name], f"{name}: {jobs} jobs > budget {JOB_BUDGETS[name]}"


def test_scd2_batch_is_one_keyed_window(spark):
    """A parquet-backend SCD2 mini-batch rewrites the table from ONE
    window over history ∪ batch, keyed on the business keys — no join."""
    import datetime

    from spark_fuse_spark.cdc.scd import _apply_scd2_batch
    from spark_fuse_spark.cdc.store import TableStore

    ts1, ts2 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
    tgt = spark.createDataFrame(
        [(1, "berlin", "h1", ts1, ts1, None, True, 1)],
        "id long, city string, row_hash string, load_ts timestamp,"
        " effective_start_ts timestamp, effective_end_ts timestamp,"
        " is_current boolean, version int",
    )
    batch = spark.createDataFrame(
        [(1, "madrid", "h2", ts2), (2, "oslo", "h3", ts2)],
        "id long, city string, row_hash string, load_ts timestamp",
    )
    written = []

    class CapturingStore(TableStore):
        def exists(self, spark, target):
            return True

        def read(self, spark, target):
            return tgt

        def overwrite(self, df, target):
            written.append(df)

    _apply_scd2_batch(spark, batch, "/t", ["id"], CapturingStore())
    (df,) = written
    plan = physical_plan(df)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert join_strategies(df) == {}, plan
    rows = sorted((r["id"], r["city"], r["version"], r["is_current"]) for r in df.collect())
    assert rows == [(1, "berlin", 1, False), (1, "madrid", 2, True), (2, "oslo", 1, True)]


def test_scan_summaries_parse(spark, sf_small):
    df = load_all()["q01_pricing_summary"].spark(spark, sf_small)
    scans = scan_summaries(df)
    assert len(scans) == 1
    scan = scans[0]
    assert "lineitem.parquet" in scan.location
    assert "l_returnflag" in scan.read_columns
    assert any("l_shipdate" in f for f in scan.pushed_filters)


def test_join_strategy_counts(spark, sf_small):
    df = load_all()["q05_region_revenue"].spark(spark, sf_small)
    joins = join_strategies(df)
    assert sum(joins.values()) == 5  # six tables, five joins
    assert joins.get("BroadcastHashJoin", 0) >= 4


def test_exchange_count_monotone(spark, sf_small):
    """A plain global agg needs strictly fewer exchanges than agg+sort."""
    from pyspark.sql import functions as F

    from spark_fuse_spark.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    assert exchange_count(agg) == 1
    assert exchange_count(agg.orderBy("q")) == 2


def test_codegen_spans_present(spark, sf_small):
    df = load_all()["q01_pricing_summary"].spark(spark, sf_small)
    assert codegen_span_count(df, execute=True) >= 1


def test_pushed_filter_names_scoped_by_table(spark, sf_small):
    df = load_all()["q07_nation_volume"].spark(spark, sf_small)
    # lineitem scan gets the join-key IsNotNull pushdown at minimum
    assert "l_orderkey" in pushed_filter_names(df, "lineitem")
    # scoping: nation-scan filters are not attributed to lineitem
    assert "n_nationkey" not in pushed_filter_names(df, "lineitem")


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin —
# each is either a 1-row broadcast build (scalar subquery pattern) or an
# intentionally non-equi join.  Everything else in the catalog must join
# hash- or sort-merge-based; a new entry here needs a reason.
NESTED_LOOP_OK = {
    "q_conformal_interval": "<=48-row calendar-bounded residual-rank theta self-join + 1-row panel crosses",
    "t_group_holdout": "1-row leakage panel crossed into the 1-row split panel",
    "q_calibration_bins": "1-row broadcast weight panel over the GD and scoring scans (q_logistic_gd's declared shape)",
    "q_logistic_gd2": "1-row 3-weight panel broadcast over each GD-pass scan + the accuracy scan",
    "q_event_study": "1-row pre-period baseline panel crossed into the 13-row gap table",
    "t_trigram_backoff": "1-row broadcast (T, V) total panel over the eval trigram stream",
    "t_mix_temperature": "1-row broadcast token-total/normalizer panel over the bounded source table",
    "q11_important_parts": "1-row broadcast global-total threshold",
    "q22_idle_customers": "1-row broadcast global average",
    "q_asof_join": "non-equi as-of condition",
    "q_cross_join_small": "intentional cross join of two tiny dims",
    "q_range_join": "non-equi range condition",
    "v_ann_bruteforce": "broadcast query-vector panel x corpus scan",
    "v_rp_topk": "broadcast query-projection panel x corpus projection scan (v_ann_bruteforce's declared shape)",
    "v_rank_metrics": "broadcast query panels x corpus scans for the system and truth rankings",
    "t_unigram_surprisal": "1-row broadcast corpus-total for the surprisal denominator",
    "t_tfidf_keywords": "1-row broadcast doc-count for the idf numerator",
    "t_length_buckets": "1-row broadcast decile-cutoff panel",
    "q_cohens_kappa": "1-row chance-agreement panel crossed into the 1-row totals panel",
    "x_ktruss": "1-row n_nodes and prev-round-count panels crossed into the 1-row truss stats",
    "q_capture_recapture": "1-row n2 and m count panels crossed into the 1-row n1 panel",
    "e_retention_halflife": "1-row week-0 cohort-size panel crossed into the week cells",
    "t_dsir_weights": "1-row broadcast target/source token totals",
    "v_pq_topk": "broadcast ADC lookup-table panel x corpus code scan",
    "t_vocab_coverage": "1-row broadcast corpus token total",
    "x_key_skew_profile": "1-row broadcast total/n_keys stats panel",
    "v_mips_topk": "1-row broadcast max-norm panel folded into each hash-table branch",
    "v_sq8_topk": "1-row broadcast min/span panel + broadcast query panel x corpus code scan",
    "q_market_basket": "1-row broadcast basket-total panel for support/lift denominators",
    "t_bm25_topk": "1-row broadcast N/avgdl stats panel",
    "v_hybrid_rrf": "1-row broadcast stats + query-vector panels in the fused rankings",
    "q_psi_drift": "1-row broadcast cohort-total and PSI-fold panels",
    "d_lsh_recall_audit": "1-row count panels crossed into the single audit row",
    "t_kfold_assign": "1-row broadcast doc-total panel for the share denominator",
    "t_class_balance": "1-row broadcast minority-target panel for the per-class fractions",
    "q_asof_nearest": "intentional broadcast of the 7-row calendar-mark panel",
    "v_matryoshka_cascade": "broadcast query panel x corpus scan in the coarse stage",
    "v_ann_recall_audit": "broadcast query/min-span panels in both audited rankings",
    "x_triangle_count": "1-row node/edge/wedge/triangle count panels crossed into the audit row",
    "x_bloom_join_prune": "1-row count panels crossed into the single pruning-audit row",
    "e_survival_curve": "1-row censoring-cutoff panel broadcast into the per-user lifetimes",
    "e_diff_in_diff": "1-row time-midpoint panel broadcast into the purchase scan (attach_scalar_panel)",
    "e_weibull_fit": "inherits e_survival_curve's 1-row cutoff panel; the fit itself is a 1-row fold",
    "m_payload_neardup": "1-row corpus-total panel crossed into the signature quantization",
    "x_histogram_quantiles": "1-row min/max span panel + 2-row quantile panel crossed into binning",
    "q_brand_price_histogram": "3-row quantile panel crossed into the <=64-bins-per-brand cumulative table",
    "q_price_index": "1-row base-month panel crossed into the (month, brand) cell table",
    "v_bq_topk": "8-row query word panel crossed over the corpus code scan",
    "q_revenue_concentration": "1-row n/total panel crossed into decile cut and shares",
    "q_chi2_independence": "1-row total/dims panels crossed into the tiny contingency-cell table",
    "q_ks_2sample": "1-row n_a/n_b panel crossed into the CDF diff and the stat fold",
    "x_kmv_setops": "1-row sketch-estimate panels crossed into the final audit row",
    "t_contrastive_triplets": "1-row broadcast doc-count panel for the negative hash offset",
    "q_data_checks": "1-row broadcast row-count panels joined to the unique/ref check results",
    "x_zorder_layout": "1-row broadcast min/max lattice panel over the fact scan",
    "v_ann_filtered": "broadcast query-vector panel x filtered corpus scan",
    "d_lsh_band_planner": "3-row broadcast config panel x 20-row histogram",
    "d_dedup_sample_extrapolation": "1-row broadcast pair-count panel x 1-row doc-count panel",
    "g_moran_autocorr": "1-row moment panels (base x edges) crossed into the single statistic row",
    "q_benford_audit": "1-row broadcast total panel over the 9-digit count table",
    "q_weighted_deciles": "1-row total panel + 9-row decile panel theta-joined on the crossing condition",
    "e_acf_daily": "7-row lag panel over the calendar-sized day rollup + 1-row moment panel",
    "v_cluster_nmi": "1-row total/MI/entropy/purity panels crossed into the single audit row (all reductions of the checkpointed <=160-cell contingency table)",
    "t_rerank_topk": "1-row bm25 N/avgdl stats panels inside the first-stage scorer (t_bm25_topk's declared shape)",
    "e_dow_seasonality": "1-row total/fit-SS panel crossed into the 7-row dow table",
    "x_kcore": "1-row previous-round count panel crossed into the single core-summary row",
    "q_rfm_segments": "1-row max-date/n panels + three 4-element quintile-boundary arrays broadcast into the customer rollup; boundary hits theta-join on the crossing condition",
    "e_skipgram_pairs": "1-row broadcast pair-total panel for the lift denominator",
    "v_mmr_topk": "broadcast query panel x corpus scan + <>-joined pool-bounded pairwise panel (25 rows/side)",
    "e_next_event_accuracy": "1-row broadcast split-point panel over the transition stream",
    "q_wasserstein_drift": "1-row n_a/n_b panel crossed into the CDF-gap integral and the final ratio",
    "q_gini_spend": "1-row n/total panel crossed into the rank-sum fold and the final ratio",
    "t_heaps_fit": "10-row decile-cut panel broadcast over the vocab first-occurrence table + 1-row total/vocab panels",
    "t_token_budget_select": "1-row broadcast token-budget panel over the prefix-summed doc stream",
    "v_diversity_audit": "broadcast query panel x corpus scan (both arms) + 1-row coverage panels crossed into the audit row",
    "x_degree_powerlaw": "1-row node-count panel over the per-degree cells and the final moment row",
    "x_edge_churn": "1-row per-year edge-count panels crossed into the single churn row",
    "x_modularity": "1-row broadcast edge-count panel crossed into the per-community rows",
    "q_fdr_bh": "24-row p-value panel: rank theta-self-join + 1-row k* panel + 1-row total panel",
    "e_cross_correlation": "7-row lag panel crossed over the calendar-sized daily rollup",
    "q_runs_test": "1-row flip/count panels crossed into the single statistic row",
    "v_pca_power": "64-row matrix x 1-row vector panels per power-iteration round + 1-row n/lambda panels",
    "v_pca_project": "same panel iteration + broadcast (component, means, n) panels over the corpus scoring scan",
    "e_ab_conversion_test": "1-row mean panel crossed over the per-user rollup + 1-row stat panels",
    "q_logistic_gd": "1-row weight panel broadcast over each GD-pass scan + the accuracy scan",
    "q_woe_iv": "1-row total panel crossed over the |bins|-row cell table",
    "q_abc_xyz": "25-brand panel: rank-cumsum theta-self-join + 1-row revenue-total panel",
    "q_mahalanobis_outliers": "1-row covariance-moment panel (attach_scalar_panel) broadcast over the per-customer rollup",
}


# Queries whose plan legitimately contains a GLOBAL (unpartitioned) window
# over an input the static detector can't prove bounded — each input is an
# aggregate whose group count is structurally tiny.  Everything else in the
# catalog must partition its windows or bound their input with a constant-k
# limit / partition-count offsets table; a new entry here needs a reason.
GLOBAL_WINDOW_OK = {
    "e_watermark_audit": "running max over per-BATCH maxes — rows = number of ingest batches, not events",
    "t_shard_manifest": "share window over the 16-row shard table (constant shard count)",
}


def test_no_unbounded_global_window(spark, sf_small):
    """Catalog-wide scale discipline: no WindowExec may receive the whole
    relation in a single partition.  This is the gate behind the round-2
    stragglers (bm25_topk / t_contrastive_triplets / q_skyline_parts, all
    rewritten as TakeOrdered / two-phase-prefix shapes) — any future query
    that plans an unpartitioned, unbounded window fails here."""
    from spark_fuse_spark.plans import unbounded_global_windows

    problems = []
    for name, spec in sorted(load_all().items()):
        if name in GLOBAL_WINDOW_OK:
            continue
        for v in unbounded_global_windows(spec.spark(spark, sf_small)):
            problems.append(f"{name}: unbounded global window: {v[:200]}")
    assert not problems, "\n".join(problems)


def test_executed_metrics_bm25_topk_shuffles_stay_small(spark, sf_small):
    """Measured contract for the rewritten bm25_topk: the ranking cutoff is
    a distributed TakeOrdered, so shuffle records stay O(matching docs)
    from the tf aggregate — never re-shuffling the corpus into one task —
    and the plan has NO unbounded global window."""
    from spark_fuse_spark.plans import shuffle_summary, unbounded_global_windows

    df = load_all()["t_bm25_topk"].spark(spark, sf_small)
    assert unbounded_global_windows(df) == []
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 500
    # term-pruned (doc, term) partials + dl rows + k ranked rows only
    assert 0 < s["shuffle_records"] < 3 * s["rows_scanned"]


def test_executed_metrics_triplets_rank_is_distributed(spark, sf_small):
    """Measured contract for the rewritten t_contrastive_triplets: the
    corpus rank rides the two-phase prefix sum (range partition + bounded
    offsets), so no single exchange carries the corpus into one partition
    and the plan has NO unbounded global window."""
    from spark_fuse_spark.plans import (
        executed_metrics,
        shuffle_summary,
        unbounded_global_windows,
    )

    df = load_all()["t_contrastive_triplets"].spark(spark, sf_small)
    assert unbounded_global_windows(df) == []
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 500
    # per-exchange partition usage: no data-sized exchange may write all
    # its records into a single partition (the offsets table is exempt —
    # it is <= num_partitions rows by construction)
    for n in executed_metrics(df):
        if n["node"] != "Exchange":
            continue
        rec = n["metrics"].get("shuffleRecordsWritten", 0)
        parts = n["metrics"].get("numPartitions", None)
        assert rec <= 1000 or (parts is None or parts > 1), n


def test_no_accidental_cartesian_or_nested_loop(spark, sf_small):
    """Catalog-wide scale discipline: no CartesianProduct ever; nested-loop
    joins only where declared (plan-only — nothing executes)."""
    problems = []
    for name, spec in sorted(load_all().items()):
        joins = join_strategies(spec.spark(spark, sf_small))
        if joins.get("CartesianProduct"):
            problems.append(f"{name}: CartesianProduct in plan")
        if joins.get("BroadcastNestedLoopJoin") and name not in NESTED_LOOP_OK:
            problems.append(f"{name}: undeclared BroadcastNestedLoopJoin ({joins})")
    assert not problems, "\n".join(problems)


def test_runtime_bloom_filter_reduces_selective_shuffle_join(spark, sf_small):
    """Scale capability pin: a selective fact ⋈ filtered-dim join that
    CANNOT broadcast still gets a runtime bloom filter injected on the
    fact side (pre-shuffle semi-join reduction).  At 100 TB the 10GB
    application-side default fires on its own; here the threshold is
    lowered to demonstrate the plan shape, and restored after."""
    from pyspark.sql import functions as F

    from spark_fuse_spark.session import enable_runtime_filters

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_filters(spark, application_side_threshold="0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_small}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = physical_plan(j)
        assert "bloom_filter_agg" in plan or "might_contain" in plan, plan[:2000]
        # and it is a reduction, not a semantics change
        n_with = j.count()
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        assert j.count() == n_with
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_metadata_only(spark, sf_small):
    """Scale capability pin: through the DSv2 parquet path, whole-table
    MIN/MAX/COUNT resolve from row-group footer statistics
    (PushedAggregation) — a metadata-only read that answers in O(files)
    instead of O(rows) at any corpus size.  Values must match the
    ordinary scan exactly."""
    from pyspark.sql import functions as F

    key = "spark.sql.sources.useV1SourceList"
    saved = spark.conf.get(key, None)
    li_path = f"{sf_small}/lineitem.parquet"
    aggs = lambda df: df.agg(  # noqa: E731
        F.min("l_orderkey").alias("lo"),
        F.max("l_shipdate").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    want = aggs(spark.read.parquet(li_path)).collect()[0]
    try:
        spark.conf.set(key, "")
        df = aggs(spark.read.parquet(li_path))
        # EXPLAIN FORMATTED elides scan pushdown info for DSv2 BatchScan;
        # the simple-mode physical string carries PushedAggregation
        simple = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in simple, simple[:2000]
        got = df.collect()[0]
        assert (got.lo, got.hi, got.n) == (want.lo, want.hi, want.n)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_executed_metrics_quantify_partial_aggregation(spark, sf_small):
    """The measured counterpart of require_partial_agg: q01's scan rows
    collapse to a handful of shuffle records because map-side combine
    ran BEFORE the exchange."""
    from spark_fuse_spark.plans import executed_metrics, shuffle_summary

    df = load_all()["q01_pricing_summary"].spark(spark, sf_small)
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] > 1000          # the lineitem scan
    assert 0 < s["shuffle_records"] <= 200   # partial-agg'd groups only
    assert s["shuffle_bytes"] > 0
    nodes = executed_metrics(df)
    assert any(n["node"].startswith("Scan") for n in nodes)
    assert any(n["node"] == "Exchange" for n in nodes)


def test_executed_metrics_basket_one_fact_shuffle(spark, sf_small):
    """Measured scale contract for the round-5 market basket: the fact
    table shuffles ONCE into the basket collect_set (records ≈ distinct
    (basket, item) rows, far below scanned lineitem rows even though the
    static plan re-counts the shared subtree per consumer), and the
    pair/frequency relations add only small shuffles on top.

    Built with ``materialize=False`` (the plan-inspection escape hatch):
    the registered query eagerly checkpoints the rule table, which
    truncates lineage and hides the scans/shuffles from metrics readers;
    the lazy builder exposes the identical logical plan un-truncated."""
    from spark_fuse_spark.operators.basket import association_rules
    from spark_fuse_spark.plans import shuffle_summary
    from spark_fuse_spark.tables import load_table

    line = load_table(spark, sf_small, "lineitem")
    part = load_table(spark, sf_small, "part")
    baskets = line.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        line["l_partkey"] == part["p_partkey"],
    ).select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    df = association_rules(baskets, "basket", "item", min_support=50, materialize=False)
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] > 1000
    # the dominant shuffle carries collect_set partials + pair rows —
    # bounded by a small multiple of scanned rows, never pairs x rows
    # (the un-truncated plan re-executes the basket subtree per consumer,
    # so the bound allows those replays; the registered query's runtime
    # shape shares it via persist + checkpoint)
    assert 0 < s["shuffle_records"] < 12 * s["rows_scanned"]


def test_plan_basket_builder_shape(spark, sf_small):
    """The broadcast-join/partial-agg contract the checkpointed
    q_market_basket can no longer show on its truncated plan, pinned on
    the un-truncated builder instead: both item-frequency legs broadcast
    onto the pair relation and the basket aggregation is map-side
    partial."""
    from spark_fuse_spark.operators.basket import association_rules
    from spark_fuse_spark.tables import load_table

    line = load_table(spark, sf_small, "lineitem")
    part = load_table(spark, sf_small, "part")
    baskets = line.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        line["l_partkey"] == part["p_partkey"],
    ).select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    df = association_rules(baskets, "basket", "item", min_support=50, materialize=False)
    problems = check_plan(
        df, PlanExpectation(min_broadcast_joins=2, require_partial_agg=True)
    )
    assert not problems, "\n".join(problems)


def test_executed_metrics_sq8_corpus_never_shuffles(spark, sf_small):
    """SQ8 ANN's measured contract: scoring broadcasts panels over the
    corpus scan, so shuffle records stay O(queries x candidates) — a
    sliver of the corpus — and never the corpus itself."""
    from spark_fuse_spark.plans import shuffle_summary

    df = load_all()["v_sq8_topk"].spark(spark, sf_small)
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 500            # corpus (+ rerank re-scan)
    assert s["shuffle_records"] <= 1000        # top-k rows only


def test_executed_metrics_containment_inverted_index(spark, sf_small):
    """Measured contract for the containment candidate stage (the verify
    stage is lineage-truncated by containment_pairs' eager checkpoint, so
    it is measured here on the exposed candidate builder): the shuffle
    carries exploded shingle-hash rows (O(total shingles), ~12 per scanned
    doc at this SF) plus the prefix-join output — NEVER the all-pairs
    matrix (which would be ~500k records for 1k docs)."""
    from spark_fuse_spark.operators.dedup import (
        _containment_prefix_candidates,
        _exploded_shingles,
        _shingle_sets,
    )
    from spark_fuse_spark.plans import shuffle_summary
    from spark_fuse_spark.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    e = _exploded_shingles(docs, "text", "doc_id", 3)
    cand = _containment_prefix_candidates(e, _shingle_sets(e), 0.9)
    n_docs = docs.count()
    assert cand.count() < n_docs * 5  # candidates near-linear in docs
    cand.collect()
    s = shuffle_summary(cand)
    assert s["rows_scanned"] >= 500
    assert 0 < s["shuffle_records"] < 30 * s["rows_scanned"]


def test_executed_metrics_kmeans_step_broadcast_assignment(spark, sf_small):
    """Measured contract for v_kmeans_step: the centroid panel broadcasts,
    so shuffles carry only grouped partials over the skinny (vec, pos)
    stream — bounded well below rows x K x dims (the naive assignment
    shuffle would be 500 x 8 x 64 = 256k records)."""
    from spark_fuse_spark.plans import shuffle_summary

    df = load_all()["v_kmeans_step"].spark(spark, sf_small)
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 500
    assert 0 < s["shuffle_records"] < 20_000


def test_executed_metrics_payload_neardup_no_allpairs(spark, sf_small):
    """Measured contract for m_payload_neardup: shuffle records are the
    byte-histogram partials + banded candidates (~50 per scanned doc at
    this SF), never the raw char stream (~500 chars/doc) nor all-pairs."""
    from spark_fuse_spark.plans import shuffle_summary

    df = load_all()["m_payload_neardup"].spark(spark, sf_small)
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 500
    assert 0 < s["shuffle_records"] < 60 * s["rows_scanned"]


def test_executed_metrics_radius_join_never_allpairs(spark, sf_small):
    """Measured contract for the grid-blocked spatial join: shuffle
    records stay within a small multiple of the scanned points (the 9×
    probe explode + per-supplier partials), never the |S|×|C| all-pairs
    a cross join would move."""
    from spark_fuse_spark.plans import shuffle_summary

    df = load_all()["g_grid_neighbor_join"].spark(spark, sf_small)
    df.collect()
    s = shuffle_summary(df)
    n_sup = spark.read.parquet(f"{sf_small}/supplier.parquet").count()
    n_cust = spark.read.parquet(f"{sf_small}/customer.parquet").count()
    assert s["rows_scanned"] == n_sup + n_cust
    # 9x explode on the supplier side + customer cells + bounded agg rows
    assert 0 < s["shuffle_records"] < 12 * (n_sup + n_cust)
    assert s["shuffle_records"] < n_sup * n_cust  # the cross-join bound


def test_executed_metrics_pca_corpus_pass_is_constant_width(spark, sf_small):
    """Measured contract for v_pca_power: the only data-sized stage is the
    moment reduce — shuffle records are bounded by the CONSTANT cell/panel
    count (2,080 triangle cells + 64-row panels per round, partial-agg'd
    map-side), never by corpus size, and no unbounded global window."""
    from spark_fuse_spark.plans import shuffle_summary, unbounded_global_windows

    df = load_all()["v_pca_power"].spark(spark, sf_small)
    assert unbounded_global_windows(df) == []
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 50  # the embeddings corpus
    # triangle cells x partial-agg partitions + iteration panels; far
    # below corpus x dims^2 (which would be >= 50 * 4096 = 204,800)
    assert 0 < s["shuffle_records"] < 40_000, s


def test_executed_metrics_hard_negatives_stay_indexed(spark, sf_small):
    """Measured contract for t_hard_negatives: candidates ride the
    inverted shingle index (documents meet only on shared shingles), so
    shuffle volume is O(exploded shingles + candidate pairs) — never the
    all-pairs corpus square — and the argmax window is anchor-partitioned."""
    from spark_fuse_spark.plans import shuffle_summary, unbounded_global_windows

    df = load_all()["t_hard_negatives"].spark(spark, sf_small)
    assert unbounded_global_windows(df) == []
    df.collect()
    s = shuffle_summary(df)
    assert s["rows_scanned"] >= 50
    n_docs = 50  # sf0.001 documents
    # all-pairs would be ~n_docs^2 pair rows before filtering; the
    # inverted index keeps total shuffled rows well under that square
    assert 0 < s["shuffle_records"] < 40 * n_docs * n_docs, s


def test_prefix_guard_kills_hot_shingle_candidates(spark):
    """Measured contract for the hot-shingle guard under
    ngram_jaccard_pairs / containment_pairs: a corpus-stopword shingle
    shared by EVERY document may not detonate the inverted-index
    self-join.  400 docs share one 3-shingle ("common stop phrase"); the
    plain index would put C(400,2) = 79,800 candidate rows behind that
    single join key, while the prefix guard ranks it LAST in every
    document's rarest-first order and excludes it from every prefix —
    candidate volume stays O(docs × prefix): here, exactly the one true
    near-dup pair."""
    from spark_fuse_spark.operators.dedup import (
        _containment_prefix_candidates,
        _exploded_shingles,
        _jaccard_prefix_candidates,
        _shingle_sets,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    rows = [
        (i, "common stop phrase " + " ".join(f"u{i}w{j}" for j in range(10)))
        for i in range(398)
    ]
    # one genuine duplicate pair so the guard provably keeps true positives
    rows += [(1000, "common stop phrase alpha beta gamma delta"),
             (1001, "common stop phrase alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    e = _exploded_shingles(docs, "text", "doc_id", 3)

    jac_cand = _jaccard_prefix_candidates(_shingle_sets(e), 0.5).count()
    con_cand = _containment_prefix_candidates(e, _shingle_sets(e), 0.9).count()
    # O(docs × prefix), not O(df²): the hot shingle contributes nothing
    assert jac_cand < 50, f"jaccard candidates exploded: {jac_cand}"
    assert con_cand < 50, f"containment candidates exploded: {con_cand}"

    jac = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert jac == {(1000, 1001)}
    con = {
        (r.id_contained, r.id_container)
        for r in containment_pairs(docs, k=3, threshold=0.9).collect()
    }
    assert con == {(1000, 1001)}


def test_mutual_knn_graph_blocked_equals_unblocked(spark, sf_small):
    """Exactness contract for the blocked shard-kNN: hash-splitting each
    label shard into ceil(n/cap) blocks (bounded join tasks) returns the
    IDENTICAL edge set as the single-block all-pairs plan, because the
    hierarchical top-k equals the global top-k."""
    from spark_fuse_spark.operators.similarity import mutual_knn_graph
    from spark_fuse_spark.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    one_block = mutual_knn_graph(emb, cap=1_000_000)
    blocked = mutual_knn_graph(emb, cap=7)
    assert blocked.count() > 0
    assert one_block.exceptAll(blocked).union(blocked.exceptAll(one_block)).count() == 0


def test_mutual_knn_graph_block_size_bounded(spark, sf_small):
    """Size contract for the blocked shard-kNN pair stage: with the same
    ceil(n/cap) hash-block assignment the operator uses, no (shard, block)
    cell holds more than a small multiple of cap vectors — so no join task
    ever compares more than O(cap²) pairs, whatever the shard size."""
    from pyspark.sql import functions as F

    from spark_fuse_spark.tables import load_table

    cap = 7
    emb = load_table(spark, sf_small, "embeddings")
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    nb = F.greatest(F.lit(1), F.ceil(F.col("n") / cap)).cast("int")
    cells = (
        emb.join(F.broadcast(sizes), "label")
        .select("label", F.pmod(F.xxhash64("vec_id"), nb).cast("int").alias("blk"))
        .groupBy("label", "blk")
        .count()
    )
    max_cell = cells.agg(F.max("count")).collect()[0][0]
    assert max_cell <= 4 * cap, f"hash blocks badly skewed: max cell {max_cell}"
