"""Physical-plan rules, checked by tools/check_correctness.py on the
executed (AQE-final) plan of every non-streaming query it runs:

- no CartesianProduct / BroadcastNestedLoopJoin unless the query is
  explicitly whitelisted (join_cross is a deliberate cross join; the
  scalar-subquery pattern broadcasts a 1-row aggregate);
- no row-at-a-time Python eval outside the three whitelisted
  API-coverage queries;
- no partition-less Window (``Window.orderBy`` without partitionBy —
  a single-reducer sort of its whole input) unless the query is
  whitelisted as running it over a bounded aggregate (vocab-, bucket-,
  or status-sized), so the gate log's WindowExec warnings can't mask
  a real single-partition regression on a fact table;
- the partition-pruning, pushed-filter and bucket-pruning queries show
  their required pattern in the plan text. The PushedFilters patterns
  need untruncated metadata (``spark.sql.maxMetadataStringLength``
  1000, which the sweep's session sets).
"""

from __future__ import annotations

import re

from tools import plan_fingerprint

#: Queries allowed to plan a nested-loop/cartesian: deliberate cross
#: joins of tiny inputs (dims, 1-row aggregates, broadcast query sets).
NL_WHITELIST = {
    "join_cross",
    "scalar_subquery",
    "ridge_cv_one_pass",  # 1-row totals broadcast onto the K=4-row fold-moment table
    "cosine_topk_embeddings",
    "int8_quantized_topk",  # same 5-query broadcast BNLJ as cosine_topk, over int8 codes
    "binary_sign_hamming_topk",  # same 5-query broadcast BNLJ, over two packed sign words (16 B/vector)
    "matryoshka_truncated_recall",  # inherits cosine_topk's brute-force BNLJ ground truth + the truncated-dim twin
    "lsh_bands_recall_sweep",  # 1-row count scalars (per-config totals + union total) broadcast onto 3 sweep rows
    "ann_recall_at_k",  # inherits cosine_topk's intended brute-force BNLJ ground truth
    "pq_recall_at_k",  # same: brute-force cosine ground-truth branch
    "tfidf_top_terms",
    "unigram_surprisal_scores",  # 1-row corpus-total broadcast onto the vocab
    "bigram_lm_perplexity",  # 1-row vocab-size broadcast onto the scorer
    "dynamic_length_filter",  # 1-row percentile threshold broadcast onto the scan
    "q22_dormant_customers",  # 1-row avg-acctbal scalar broadcast onto the pool
    "q11_important_parts",  # 1-row group-total threshold broadcast onto the groups
    "temperature_sample_by_source",  # 1-row max-weight scalar broadcast onto the source table
    "pq_adc_topk_embeddings",  # broadcast query-set fan-out, the intended ADC scan shape
    "triangle_count_copurchase",  # 1-row triangle-count x 1-row wedge-count scalar join
    "compact_small_files",  # 1-row observed-file-count scalars joined onto the 1-row summary
    "file_metadata_scan",  # 1-row corpus-total broadcast onto the per-file subtotal table
    "contrastive_negative_pairs",  # broadcast anchor-set theta fan-out, the intended shape
    "dataset_drift_psi",  # 1-row window-totals broadcast onto the 10-row bin table
    "chi2_categorical_drift",  # 1-row window-totals broadcast onto the 5-row category table
    "bm25_topk_docs",  # 1-row corpus-stats broadcast onto the query-term postings
    "knn_classify_embeddings",  # inherits cosine_topk's intended brute-force BNLJ scoring
    "assoc_rules_copurchase",  # 1-row basket-total broadcast onto the rule table
    "token_log_odds_by_source",  # 1-row corpus-totals broadcast onto the vocabulary table
    "ann_ndcg_at_k",  # inherits cosine_topk's intended brute-force BNLJ ground truth
    "grouped_split_by_user",  # 1-row event-total broadcast onto the 3-row split summary
    "mutual_information_source_lang",  # 1-row totals/entropies broadcast onto cell tables
    "rfm_segmentation",  # 1-row reference-date/user-count broadcasts onto the customer aggregate
    "skyline_parts_price_size",  # broadcast dominance anti-join over the skyline-sized candidate set (post local-prune), the intended two-phase skyline verify
    "benford_digit_test",  # 1-row digit-total broadcast onto the 9-row digit table
    "k_anonymity_audit",  # 1-row total/min broadcast onto the class-size table
    "ivf_recall_vs_probes",  # 3-row probes table broadcast onto ground truth + inherited cosine shape
    "heaps_law_vocab_growth",  # 5-row checkpoint table broadcast onto vocab/doc aggregates
    "dataset_card_summary",  # 1-row vocab count broadcast onto the 1-row corpus summary
    "asof_join_pandas_api",  # Spark's own AsOfJoin rewrite (ps.merge_asof -> _joinAsOf) plans an inequality join; input deliberately sliced to 10% of users, and operators.joins.asof_join is the documented at-scale path
    "spatial_grid_density",  # 1-row point-total broadcast onto the ~200-row cell table
    "theta_sketch_shingle_overlap",  # source-pair generation is an inequality self-join over the k-bounded sketch META table (|sources| rows, KB); corpus rows never enter a non-equi join — the sketch exists precisely to shrink the pairwise stage to broadcast size
    "kmv_merge_global_distinct",  # three 1-row aggregates (source count, exact count, merged-sketch meta) cross-joined into the single summary row
    "sequential_pattern_support",  # 1-row total-user-count broadcast onto the 25-row pattern-support table
    "two_proportion_ztest",  # segment-pair generation is an inequality self-join over the |segments|-row (5) aggregate — fact rows never enter the non-equi join
    "ks_two_sample_acctbal",  # same 5-row segment-pair inequality self-join; the ECDF walk itself is equi-keyed and window-partitioned by pair
    "wasserstein_doc_lengths",  # |sources|-row (20) pair-generation inequality self-join; histogram legs join equi on source and the ECDF walk is window-partitioned by pair
    "markov_entropy_rate",  # 1-row grand-total transition count broadcast onto the |types|^2-row transition table
    "permutation_test_mean_diff",  # 5-row segment-pair inequality self-join; members/replicates join equi on the pair key
    "jackknife_source_loo",  # three 1-row broadcasts (grand totals, across-source mean, squared-deviation sum) onto the |sources|-row LOO table
    "kaplan_meier_retention",  # 1-row dataset-horizon (max order date) broadcast onto the per-customer lifetime aggregate
    "nelson_aalen_hazard",  # same 1-row horizon broadcast as kaplan_meier_retention
    "js_divergence_sources",  # |sources| x top-500-support grid product (~10k rows) with the support broadcast; corpus rows only feed the combinable (source, token) count
    "rrf_hybrid_retrieval",  # inherits bm25_topk_docs' whitelisted 1-row corpus-stats broadcast (the query composes bm25 verbatim)
    "theta_sketch_anotb_difference",  # same inequality self-join over the k-bounded sketch META table as theta_sketch_shingle_overlap; anti-join legs run on broadcast sketch rows
    "t_closeness_audit",  # class x band grid cross join is DOMAIN-sized (|classes|*|bands| rows) by construction, plus 1-row (N, m) totals broadcast
    "dsir_importance_selection",  # two 1-row token-total broadcasts (target N, raw N) onto the 4096-row bucket table
    "pmi_token_cooccurrence",  # 1-row document-count broadcast onto the pair-count table
    "ams_f2_skew_events",  # 1-row sketch summary x 1-row exact-F2 scalar join
    "negative_sampling_unigram",  # inverse-CDF draw: interval-containment join of sample ids against the BROADCAST 500-row vocab CDF — bounded 500 x samples, corpus-independent
    "logistic_regression_gd",  # per-step 1-row MODEL broadcast onto the feature scan — the data-parallel GD shape; gradients cross the wire as 3 decimal sums
    "kneser_ney_perplexity",  # 1-row bigram-type-total broadcast onto the scorer (same shape as bigram_lm_perplexity's vocab broadcast)
    "bh_fdr_segment_tests",  # inherits permutation_test_mean_diff's whitelisted 5-row pair join, plus two 1-row broadcasts (m, k_star) onto the 10-row p-value table
    "quantile_normalize_lengths",  # integer interval-containment join of nearest-rank targets against the BROADCAST distinct-length histogram (hundreds of rows), plus the 1-row grand-total broadcast
    "user_feature_matrix",  # 1-row dataset-horizon broadcast onto the event scan (recency feature), same shape as time_decayed_engagement
    "time_decayed_engagement",  # 1-row dataset-horizon broadcast onto the event scan (same shape as kaplan_meier_retention)
    "naive_bayes_source_classify",  # |sources|-row class list + 1-row vocab/doc totals broadcast onto the doc-token table; the model join itself is equi-keyed on (source, token)
    "pagerank_copurchase",  # r13: per-round 1-row node-count broadcast (teleport term) now VISIBLE in the final plan — the per-round lineage cuts that used to hide it were removed (each round is consumed once; see operators/graph.py)
    "hits_hubs_authorities",  # r13: per-half-step 1-row max-norm broadcast now visible in the final plan for the same reason (cut moved to the raw aggregate)
}
#: The deliberate row-at-a-time Python evals (API coverage: F.udf,
#: spark.udf.register for SQL, and the TABLE-argument UDTF whose
#: BatchEvalPythonUDTF operator name substring-matches the row-UDF
#: detector — a UDTF IS the Python table-function surface, not a
#: hot-path scalar UDF).
PYUDF_WHITELIST = {
    "udf_priority_class",
    "udf_sql_registered",
    "udtf_table_argument_digest",
}
#: Queries allowed a partition-less Window: each one runs the window
#: over a BOUNDED aggregate/sample, never a fact table. Any new
#: partition-less window must either be re-shaped (two-phase bucketed
#: rank, see global_shuffle_positions) or argued onto this list.
UNPARTITIONED_WINDOW_WHITELIST: dict[str, str] = {
    "yoy_growth_by_month": "lag over the month-level aggregate (tens of rows)",
    "ps_rolling_weekly_cents": "rolling count over the DAY-level aggregate (~366 rows/year; the fact-table roll-up upstream is the scale stage); the pandas rolling API itself lowers to the same bounded window",
    "negative_sampling_unigram": "rank + cumulative-mass CDF over the top-500 vocabulary aggregate (hard-capped by the rn <= 500 filter; the corpus only feeds the combinable token count)",
    "quantile_normalize_lengths": "cumulative counts over the DISTINCT-length histogram (hundreds of rows; the per-doc ranks are source-partitioned)",
    "bh_fdr_segment_tests": "rank over the m = C(|segments|,2) = 10-row p-value table (the permutation test upstream is the scale-shaped stage)",
    "bpe_pair_frequencies": "rank over the pair-vocabulary aggregate",
    "global_shuffle_positions": "cumulative offsets over the 256-row bucket table",
    "equi_depth_histogram": "ntile for optimizer statistics over a sample-scale table (docstring documents the sketch substitute at 100 TB)",
    "sort_null_ordering": "NULLS FIRST/LAST API surface over a 60-row filtered slice",
    "vocab_induction_oov": "vocab cutoff rank over the token-FREQUENCY aggregate (vocab-sized)",
    "training_manifest_pipeline": "composed bucket-offset window over the 256-row bucket table",
    "mann_whitney_u_events": "cumulative offsets over the ~16-row value-range bucket table",
    "signup_to_purchase_latency": "rank over CONVERTED users (aggregate far below event grain; bucketed two-phase rank documented as the at-scale swap)",
    "rfm_segmentation": "three bucket-offset windows over ~40-row value-range bucket tables (_bucketed_row_number), one per RFM metric",
    "rrf_hybrid_retrieval": "two rank windows over the retrievers' already-top-15-bounded lists (fusion consumes 2k rows per query regardless of corpus size)",
    "zipf_rank_frequency_fit": "bucket-offset window (_bucketed_row_number) over the top-1000 token table's count-distinct bucket list (<= 1000 rows by the upstream limit)",
    "decision_stump_totalprice": "two cumulative windows over the 1000-wide price-band bucket AGGREGATE (~700 rows bounded by the price range, not the corpus); the corpus-sized stage is the combinable groupBy upstream",
}
#: Queries whose executed plan MUST show partition pruning on the fact
#: scan (r11 verdict item 1: pruned scans are asserted, not assumed).
#: Value = regex the plan must match. Static pruning shows the literal
#: predicate inside PartitionFilters; DPP shows dynamicpruningexpression
#: (the runtime IN-filter built from the dim-side broadcast).
PARTITION_FILTER_REQUIRED: dict[str, str] = {
    "static_partition_prune_lineitem": r"PartitionFilters: \[[^\]]*l_ship_month",
    "dpp_urgent_months_revenue": r"dynamicpruningexpression\(l_ship_month",
    "dpp_events_top_day_mix": r"dynamicpruningexpression\(event_date",
    # The persisted IVF index is partitionBy(_cell); the runtime probe
    # set must prune the index scan dynamically.
    "ivf_index_dpp_topk": r"dynamicpruningexpression\(_cell",
}

#: Clustered-layout queries whose range predicates MUST reach the
#: parquet scan as PushedFilters (row-group/page skipping is exercised
#: by the decoded-rows tests in tests/test_plans.py; this asserts the
#: prerequisite never regresses in the registered plans).
PUSHED_FILTER_REQUIRED: dict[str, str] = {
    "clustered_layout_rowgroup_skip": (
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_orderkey,1000\)"
        r"[^\]]*LessThanOrEqual\(l_orderkey,3000\)"
    ),
    "hilbert_layout_box_skip": (
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(xdim,64\)"
        r"[^\]]*GreaterThanOrEqual\(ydim,60\)"
    ),
    # File-level manifest skipping happens BEFORE the scan (the pruned
    # files never appear in the plan at all — tests/test_plans.py meters
    # that); this asserts the surviving files still get row-group
    # pruning from the pushed range predicate.
    "manifest_file_skip_lineitem": (
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_orderkey,200\)"
        r"[^\]]*LessThanOrEqual\(l_orderkey,900\)"
    ),
}

#: Bucketed-scan queries whose point predicates MUST plan-time-prune to
#: the literals' hash buckets — the tier hash bucketing adds to the
#: directory/file/row-group/row pruning family.
BUCKET_PRUNE_REQUIRED: dict[str, str] = {
    # 3 point literals hash to <= 3 of the 16 buckets (2 observed —
    # two keys share a bucket).
    "bucket_pruned_scan": r"SelectedBucketsCount: [1-3] out of 16",
}


def violations(name: str, plan: str) -> list[str]:
    """The rules ``name``'s executed-plan string breaks, one message each."""
    out = []
    joins = set(plan_fingerprint.JOIN_RE.findall(plan))
    if joins & {"BroadcastNestedLoopJoin", "CartesianProduct"} and name not in NL_WHITELIST:
        out.append(f"{name}: nested-loop/cartesian join in plan")
    if plan_fingerprint.has_row_python_udf(plan) and name not in PYUDF_WHITELIST:
        out.append(f"{name}: row-at-a-time Python UDF in plan")
    n_bare_windows = plan_fingerprint.count_bare_windows(plan)
    if n_bare_windows and name not in UNPARTITIONED_WINDOW_WHITELIST:
        out.append(
            f"{name}: {n_bare_windows} partition-less Window(s) — single-reducer "
            "sort; re-shape (two-phase bucketed rank) or whitelist with a "
            "bounded-input justification"
        )
    for what, required in (
        ("partition pruning", PARTITION_FILTER_REQUIRED),
        ("pushed range filter", PUSHED_FILTER_REQUIRED),
        ("bucket pruning", BUCKET_PRUNE_REQUIRED),
    ):
        if name in required and not re.search(required[name], plan):
            out.append(
                f"{name}: required {what} absent from executed plan "
                f"(expected /{required[name]}/)"
            )
    return out
