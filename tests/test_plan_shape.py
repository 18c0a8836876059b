"""Plan-shape assertions: the SURVEY §4 scale rules, pinned.

These catch silent regressions that correctness tests can't: a filter
that stops reaching the parquet scan, a dimension join that stops
broadcasting, an accidental cartesian product in a dedup operator. All
static audits (no job runs) except the codegen check, which needs the
AQE final plan.
"""

from __future__ import annotations

import pytest

from navigator_data_ingest_spark import registry
from navigator_data_ingest_spark.plans.audit import (
    codegen_stage_count,
    formatted_plan,
    plan_audit,
    pushed_filters,
    read_schemas,
)
from tests.conftest import SF_CORRECT

_Q = registry.queries()

# pure-plan queries (no side effects at plan-build time): everything
# except the sink/source round-trips, streaming drains, and python stages
_PLAN_ONLY = [
    n
    for n in _Q
    if not n.startswith(("src_", "sink_", "stream_"))
    and n not in ("ingest_download_fetch", "mm_decode_stub")
]


def test_q1_filter_reaches_scan_and_columns_pruned(spark):
    df = _Q["q1_pricing_summary"](spark, SF_CORRECT)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # 7 of lineitem's 16 columns read; the shipdate-only projection kept
    assert schemas[0].count(":") == 7
    assert "l_orderkey" not in schemas[0]
    audit = plan_audit(df)
    assert audit.shuffle_exchanges == 2  # partial agg + final sort
    assert audit.parquet_scans == 1


def test_q3_filters_pushed_no_cartesian(spark):
    df = _Q["q3_shipping_priority"](spark, SF_CORRECT)
    pushed = " ".join(pushed_filters(df))
    for col in ("c_mktsegment", "o_orderdate", "l_shipdate"):
        assert col in pushed, f"{col} not pushed to scan"
    audit = plan_audit(df)
    assert audit.cartesian_products == 0
    assert audit.broadcast_joins >= 1


def test_q5_dimensions_broadcast(spark):
    audit = plan_audit(_Q["q5_local_volume"](spark, SF_CORRECT))
    # nation + region at minimum must broadcast (SURVEY §4)
    assert audit.broadcast_joins >= 2
    assert audit.cartesian_products == 0


# Nested-loop joins whose build side the plan cannot show to be bounded
# (``PlanAudit.unbounded_nested_loops``): the side is a pin, a grouped
# aggregate, a generated spine or a filtered stripe of the corpus, each
# bounded by what it holds rather than by its operators. A listed key
# whose plan has no such join fails the test, so the list cannot go
# stale; a global aggregate, a LocalTableScan or a nested loop of two
# such sides needs no entry.
_DELIBERATE_NESTED_LOOP = {
    # the broadcast query / anchor stripe (the corpus filtered by a
    # derived modulus) scored against the corpus: the declared exact
    # baselines that the LSH and IVF variants are measured against
    "sim_search_bruteforce",
    "sim_search_recall_report",
    "emb_binary_hamming",
    "emb_intrinsic_dim",
    "emb_matryoshka",
    "emb_triplet_mining",
    "dedup_recall_report",
    # the pinned K-row centroid table scored against the corpus
    "sim_search_ivf",
    # the 16-row PQ codebook (a top-k over the corpus) broadcast
    "emb_pq",
    "sim_search_pq_adc",
    # L-row per-label centroid tables (grouped aggregates)
    "emb_centroid_distances",
    "emb_silhouette",
    # per-source signature-and-size pair grid
    "corpus_overlap",
    # a pinned 1-row scalar: the seed-stripe modulus, the block-range
    # min/max
    "graph_harmonic_centrality",
    "q_orders_skyline",
    # the range join's non-equi interval probe against a pinned table
    "q_events_range_join",
    # generated spines: date spine x types, types x 8 literal segments
    "q_events_gapfill",
    "q_events_sax_profile",
    # row / column margins of a bounded contingency grid broadcast onto
    # its cells
    "stats_chi_square",
    "stats_cramers_v",
    "stats_crosstab_residuals",
    "stats_g_test",
    "stats_weighted_kappa",
    # the K-row group grid and its K^2 pair self-join (Dunn post-hoc)
    "stats_dunn_posthoc",
    # one moment row per period, pre x post
    "stats_fisher_z_corr_diff",
    # pair joins on the DAYS-bounded calendar or a bounded cell grid
    "stats_hodges_lehmann",
    "stats_kendall_tau",
    "stats_mann_kendall",
    "stats_somers_d",
    "stats_hurst_exponent",
}


def test_unbounded_nested_loops_reads_the_build_side(spark):
    from pyspark.sql import functions as F

    df = spark.range(100)
    top = F.broadcast(df.agg(F.max("id").alias("mx")))
    lit = F.broadcast(spark.sql("SELECT * FROM VALUES (1) AS t(x)"))
    grouped = F.broadcast(df.groupBy((F.col("id") % 3).alias("k")).count())

    def n(joined):
        return plan_audit(joined).unbounded_nested_loops

    assert n(df.crossJoin(top)) == 0
    assert n(df.crossJoin(lit)) == 0
    assert n(df.crossJoin(F.broadcast(lit.crossJoin(top)))) == 0
    # a Range is not bounded by construction, nor is a grouped aggregate
    assert n(df.crossJoin(grouped)) == 1
    assert n(df.crossJoin(F.broadcast(df.crossJoin(top)))) == 1
    assert n(df.crossJoin(grouped).crossJoin(top)) == 1


@pytest.mark.parametrize("name", _PLAN_ONLY)
def test_no_accidental_cartesian_products(spark, name):
    n = plan_audit(_Q[name](spark, SF_CORRECT)).unbounded_nested_loops
    if name in _DELIBERATE_NESTED_LOOP:
        assert n > 0, f"{name} plans no unbounded nested loop: unlist it"
    else:
        assert n == 0, f"{name} plans a nested loop on an unbounded side"


# Every query allowed to plan an UNPARTITIONED (global) window. A global
# window single-tasks its input, so each entry here must sit on a
# BOUNDED intermediate — block tables (<=1024 rows by construction),
# day/calendar grains, nation/label dimensions, top-N-limited results,
# or the bounded query stripe — never the raw corpus. scripts/plan_census.py
# lists every key that plans one (its global_windows column and summary);
# a NEW query that plans a global window fails
# test_global_windows_are_allowlisted until it is justified here.
_BOUNDED_GLOBAL_WINDOW_OK = {
    # 1024-block prefix-sum block tables (q_orders_pareto_8020's sits
    # behind its qual pin)
    "stats_mann_whitney", "stats_cramer_von_mises", "stats_gains_table",
    "stats_dunn_posthoc", "q_orders_pareto_8020",
    # round 8: _pooled_score_groups' <=1024-row block-offset window
    # (ansari/mood 1; brunner 2 — the same bounded block table feeds
    # both the pooled and the per-sample offset columns)
    "stats_ansari_bradley", "stats_mood_scale", "stats_brunner_munzel",
    "stats_anderson_darling_2s",
    # DAYS-bounded calendar grain (position index + cumulative rule)
    "stats_cox_stuart", "split_temporal",
    # round 10: seed-bit rank over the derived-modulus seed stripe
    # (≤ SEED_TARGET+1 rows) — rank-based idx is key-density-proof,
    # unlike (k-1)/smod which can exceed 63 on sparse keys (r9 ADVICE)
    "graph_harmonic_centrality",
    # column-bisect diagnostic projections (same plan, projected)
    "stats_mann_whitney_u", "stats_mann_whitney_z",
    "pack_sequences", "corpus_token_budget",
    "sample_cap_per_source", "corpus_sample_exact_k",
    "q_orders_skyline", "stats_wilcoxon_signed_rank",
    # day/period calendar grain (bounded by the time dimension)
    "stats_page_hinkley", "q_orders_trailing_range", "stats_sprt_ab",
    # cumulative counts over the distinct-DOC-LENGTH histogram (bounded
    # by max document length; appears twice — the subtree feeds both
    # the rank lookup and the 1-row total)
    "corpus_curriculum_order",
    # DAYS-bounded lifetime table (at-risk prefix + running hazard)
    "stats_nelson_aalen",
    # DAYS-bounded lag-7 forecast window
    "stats_wape_forecast",
    # cumulative share over the ≤MAX-LINES-bounded histogram grid
    "q_orders_basket_size",
    "stats_runs_test", "stats_seasonal_decompose", "stats_var_cvar",
    "stats_spectral_peak", "stats_control_chart", "stats_moving_median",
    "stats_spearman_daily", "stats_benford", "stats_lorenz_deciles",
    "stats_survival_km", "corpus_bigram_lm", "text_zipf_fit",
    "stats_durbin_watson", "q_orders_backlog", "stats_granger_daily",
    "stats_breusch_pagan",
    # bounded day-lag event-time grid (log-rank at-risk prefix)
    "stats_log_rank",
    # ≤25x25 bounded nation-pair grid (rank/total windows)
    "q_nation_trade_matrix",
    # ≤25-row NATION revenue rollup (rank-function certification frame)
    "q_sql_rank_functions",
    # 7-row dow grid (chi2 fold)
    "q_orders_dow_profile",
    # 1024-block offset prefix over the bounded block table (AUC idiom)
    "stats_youden_j",
    # DAYS-bounded lag window (5 lags, one ordered pass)
    "stats_ljung_box",
    # DAYS-bounded day index + top-K influence rank
    "stats_cooks_distance",
    # DAYS-bounded lag window (3 lags, one ordered pass)
    "stats_pacf",
    # pack_sequences' super-block offset window (|corpus|/BLOCK² rows)
    "pack_boundary_stats",
    # DAYS-bounded top-K influence rank
    "stats_mahalanobis_outliers",
    # rank window AFTER the TakeOrdered top-K limit (≤K rows)
    "text_topk_coverage",
    "q_events_heavy_hitters",
    # value-bounded distinct-cents ECDF axis (block idiom = swap-in)
    "stats_ks_two_sample",
    # rank windows over the bounded stripe×corpus scored table
    "emb_lsh_tuning",
    # 64-row per-dim variance grid (rank + cumulative energy)
    "emb_variance_spectrum",
    # bounded (source x lang) count grid (dominant-pick rank window)
    "corpus_lang_purity",
    # nation/label/brand-bounded hypothesis or rank tables
    "stats_fdr_bh", "q_top_customers", "q2_min_cost_supplier",
    "emb_label_purity",
    # bounded query stripe / K-centroid / codebook tables (similarity)
    "sim_search_bruteforce", "sim_search_bruteforce_np", "sim_search_lsh",
    "sim_search_ivf", "sim_search_pq_adc", "sim_search_recall_report",
    "emb_pq", "emb_matryoshka", "emb_binary_hamming",
    "corpus_knn_pseudo_label",
    # top-N-limited results (window AFTER sort+limit)
    "q_events_top_paths",
    # bounded vocab/update-batch intermediates
    "text_tfidf", "cdc_upsert", "q_lateral_join_api",
    # 1024-block prefix-sum block table (Mann-Whitney discipline)
    "stats_kruskal_wallis",
    # composes sim_search_bruteforce's bounded query-stripe windows
    "emb_hubness",
    # DAYS-bounded calendar index (R/S block walks partition after it)
    "stats_hurst_exponent",
    # <=1024-row revenue-block offset table
    "q_orders_abc_class",
    # <=1024-row score-block offset table (AUC prefix sum)
    "stats_auc_classifier",
    # round 8: 1024-block offset table (per-group prefix sums)
    "stats_jonckheere_terpstra",
    # DAYS-bounded calendar series (distinct-cents prefix, day prefix,
    # lag/lead, rank windows)
    "stats_pettitt_changepoint",
    "stats_turning_points",
    "stats_bartels_rank",
    # MONTHS-bounded block-weight rank window (<=|months| rows)
    "stats_quade",
    # <=1024-row block-offset tables (two-level prefix machinery)
    "stats_hodges_lehmann",
    "stats_ww_runs_two_sample",
}


def test_global_windows_are_allowlisted(spark):
    from navigator_data_ingest_spark.plans.audit import (
        unpartitioned_window_count,
    )

    offenders = {}
    for name in _PLAN_ONLY:
        n = unpartitioned_window_count(_Q[name](spark, SF_CORRECT))
        if n and name not in _BOUNDED_GLOBAL_WINDOW_OK:
            offenders[name] = n
    assert not offenders, (
        f"unallowlisted GLOBAL windows (single-task at scale): {offenders}; "
        "either partition the window or document the bounded intermediate "
        "in _BOUNDED_GLOBAL_WINDOW_OK"
    )


def test_dedup_lsh_joins_are_bucketed_equijoins(spark):
    """The LSH pair-join must hash-join on (band_id, band_hash)."""
    audit = plan_audit(_Q["dedup_minhash_lsh"](spark, SF_CORRECT))
    assert audit.cartesian_products == 0
    assert audit.broadcast_joins + audit.sortmerge_joins >= 1


def test_approx_quantiles_bracket_join_builds_right(spark):
    """The bracket join-back must broadcast the ≤TYPES-row aggregate
    side EXPLICITLY (48a9cee): without the hint the optimizer picks the
    build side by size at the TESTED scale — at sf0.01 it would happily
    broadcast the corpus — and at 100 TB the plan degrades to a
    sort-merge join shuffling the whole corpus onto a ≤6-value key.
    Disabling the size-based threshold isolates the hint: only the
    explicit F.broadcast(agg) can produce the BuildRight BHJ here, so
    removing it makes this test fail (VERDICT r10 #2)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _Q["q_approx_quantiles"](spark, SF_CORRECT)
        plan = formatted_plan(df)
        audit = plan_audit(df)
        assert audit.sortmerge_joins == 0, (
            "bracket join-back fell off broadcast onto a corpus-wide "
            "sort-merge shuffle"
        )
        assert "BroadcastHashJoin" in plan and "BuildRight" in plan, (
            "aggregate side no longer the broadcast build side"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ntile_spend_has_no_global_window(spark):
    """Quartile assignment must be a broadcast cut-point comparison, not
    an ntile window with no partition (a single-task global sort)."""
    plan = (
        _Q["q_ntile_spend"](spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, "q_ntile_spend regressed to a window plan"


def test_codegen_covers_q1_after_execution(spark):
    df = _Q["q1_pricing_summary"](spark, SF_CORRECT)
    df.collect()
    assert codegen_stage_count(df) >= 2, "agg pipeline fell out of codegen"


def test_q6_pure_scan_aggregate_no_join_one_scan(spark):
    """TPC-H Q6 shape: every predicate pushed, two columns read, no join."""
    df = _Q["q6_revenue_delta"](spark, SF_CORRECT)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan"
    schemas = read_schemas(df)
    assert len(schemas) == 1
    audit = plan_audit(df)
    assert audit.broadcast_joins == 0 and audit.sortmerge_joins == 0
    # single-row global agg: one partial->final exchange only
    assert audit.shuffle_exchanges <= 1


def test_q4_uses_left_semi_join(spark):
    """EXISTS compiles to a semi join — probe side never duplicated."""
    from navigator_data_ingest_spark.plans.audit import formatted_plan

    plan = formatted_plan(_Q["q4_order_priority"](spark, SF_CORRECT))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q14_q19_part_dimension_broadcast(spark):
    """Broadcast-ratio and bracket joins keep the fact side shuffle-free."""
    for name in ("q14_promo_revenue", "q19_bracket_revenue"):
        audit = plan_audit(_Q[name](spark, SF_CORRECT))
        assert audit.broadcast_joins >= 1, name
        assert audit.sortmerge_joins == 0, f"{name}: fact side shuffled for a join"


def test_q22_anti_join_and_broadcast_scalar(spark):
    """NOT EXISTS -> anti join; the scalar average arrives by broadcast."""
    from navigator_data_ingest_spark.plans.audit import formatted_plan

    plan = formatted_plan(_Q["q22_idle_customers"](spark, SF_CORRECT))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q17_window_after_broadcast_prune(spark):
    """The correlated-avg window runs on the pruned fact subset: the part
    filter is a broadcast join BELOW the window in the plan."""
    from navigator_data_ingest_spark.plans.audit import formatted_plan

    plan = formatted_plan(_Q["q17_small_qty_revenue"](spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan and "Window" in plan
    # formatted-explain ids grow leaf->root: the broadcast join must sit
    # DEEPER (smaller id) than the window it feeds
    import re as _re

    def first_id(op):
        m = _re.search(r"\((\d+)\) " + op, plan)
        return int(m.group(1))

    assert first_id("BroadcastHashJoin") < first_id("Window")


def test_hash_sample_filter_stays_at_scan_stage(spark):
    """The md5 bucket predicate is partition-local: no exchange below
    the aggregate, so sampling never moves data."""
    df = _Q["q_hash_sample"](spark, SF_CORRECT)
    audit = plan_audit(df)
    assert audit.shuffle_exchanges <= 2  # agg + final sort only
    assert audit.parquet_scans == 1


def test_emb_centroids_no_explode_before_aggregate(spark):
    """The centroid op must NOT posexplode the corpus: Generate may only
    appear ABOVE the aggregates (formatted-explain ids grow leaf->root,
    so the Generate id must exceed every HashAggregate id)."""
    from navigator_data_ingest_spark.plans.audit import formatted_plan
    import re as _re

    plan = formatted_plan(_Q["emb_centroids"](spark, SF_CORRECT))
    gen = _re.search(r"\((\d+)\) Generate", plan)
    agg = list(_re.finditer(r"\((\d+)\) HashAggregate", plan))
    assert gen is not None and agg, "expected Generate and HashAggregate"
    assert int(gen.group(1)) > max(
        int(m.group(1)) for m in agg
    ), "explode ran below the aggregate"


def test_dedup_passage_shuffles_on_passage_hash(spark):
    """First-occurrence needs all copies of a passage on one reducer —
    the shuffle key must be the passage hash (high-cardinality,
    unskewed), never doc-grain blocks."""
    df = _Q["dedup_passage"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    assert "hashpartitioning(passage_hash" in plan
    assert plan_audit(df).cartesian_products == 0


def test_contamination_benchmark_side_broadcast(spark):
    """The benchmark gram set is the small side by construction; the
    candidate corpus must stream past a broadcast, not sort-merge."""
    audit = plan_audit(_Q["text_contamination"](spark, SF_CORRECT))
    assert audit.broadcast_joins >= 1
    assert audit.sortmerge_joins == 0


def test_pack_sequences_three_level_prefix_sum(spark):
    """The doc-grain cumsum must be windowed BY BLOCK and the block
    subtotals BY SUPER-BLOCK (both parallel), with offsets joined back
    via broadcast — no window task ever sees more than PACK_BLOCK rows
    at any corpus size; only the super-block grain (|corpus|/4096²
    rows) goes through an unpartitioned window."""
    df = _Q["pack_sequences"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    assert "windowspecdefinition(block" in plan, "doc cumsum lost its block partition"
    assert "windowspecdefinition(super" in plan, "block cumsum lost its super partition"
    assert plan_audit(df).broadcast_joins >= 1, "offsets not broadcast"


def test_pack_sequences_depth3_matches_global_scan(spark, monkeypatch):
    """With PACK_BLOCK shrunk to 4, sf0.01's 500 docs span ~125 blocks
    and ~32 super-blocks — all three levels carry real work — and the
    offsets must equal the default (single-super) configuration's."""
    from navigator_data_ingest_spark.operators import corpus

    base = {r.doc_id: r.global_offset
            for r in _Q["pack_sequences"](spark, SF_CORRECT).collect()}
    monkeypatch.setattr(corpus, "PACK_BLOCK", 4)
    small = {r.doc_id: r.global_offset
             for r in _Q["pack_sequences"](spark, SF_CORRECT).collect()}
    assert base == small


def test_filter_blocklist_broadcast_anti_join(spark):
    df = _Q["filter_blocklist"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_bucketed_join_has_no_exchange(spark):
    """Bucketing by the join key moves the shuffle into the one-time
    write: the subsequent sort-merge join must read bucket-aligned
    scans with ZERO Exchange (broadcast disabled to force the
    shuffle-or-bucket decision)."""
    from navigator_data_ingest_spark.sources import bucketed

    bucketed.write_bucketed(spark, SF_CORRECT)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed.bucketed_join(spark, SF_CORRECT)
        plan = formatted_plan(df)
        audit = plan_audit(df)
        assert audit.sortmerge_joins >= 1, "bucketed join fell off sort-merge"
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_read_prunes_directories(spark):
    """The lang predicate must land in PartitionFilters (directory-level
    pruning at planning time) and NOT in the data filters — the
    partition column does not exist inside the files."""
    from navigator_data_ingest_spark.sources import partitioned

    path = partitioned.write_partitioned(spark, SF_CORRECT)
    df = partitioned.pruned_read(spark, path, "en")
    plan = formatted_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), "lang filter not pruned at partition level"
    assert all("lang" not in p for p in pushed_filters(df))


def test_skew_join_salt_widens_shuffle_key(spark):
    """With broadcast disabled, the fact-side exchange must partition on
    (event_type, salt) — 5*N_SALT shuffle keys, not 5."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _Q["q_skew_join_salted"](spark, SF_CORRECT)
        plan = formatted_plan(df)
        assert re.search(r"hashpartitioning\(event_type#\d+, salt#\d+", plan), (
            "join shuffle does not include the salt key"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q9_star_join_broadcasts_dims(spark):
    """Q9 shape: part/supplier/nation broadcast; no cartesian; the only
    shuffles are the fact-key join and the bounded (nation, year) agg."""
    audit = plan_audit(_Q["q9_profit_shape"](spark, SF_CORRECT))
    assert audit.broadcast_joins >= 3
    assert audit.cartesian_products == 0


def test_layout_zorder_single_aggregation_shuffle(spark):
    """Z-order audit: the Morton code is map-side; exactly the bucket
    aggregation shuffles (AQE may add a read, never a second write)."""
    audit = plan_audit(_Q["layout_zorder"](spark, SF_CORRECT))
    assert audit.cartesian_products == 0
    assert audit.shuffle_exchanges <= 2  # bucket agg + presentation sort


def test_phash_candidates_are_banded_equijoins(spark):
    """Perceptual-hash near-dup must join on (band_idx, band_val) —
    never an all-pairs product."""
    audit = plan_audit(_Q["mm_phash_neardup"](spark, SF_CORRECT))
    assert audit.cartesian_products == 0
    assert audit.broadcast_joins + audit.shuffle_exchanges >= 1


def test_cogroup_plan_has_two_sided_exchange(spark):
    """cogroup.applyInPandas co-shuffles BOTH inputs on the key and runs
    one Python cogroup stage — no join materialization in the plan."""
    from navigator_data_ingest_spark.plans.audit import formatted_plan

    df = _Q["stats_cogroup_monthly"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Join" not in plan.split("FlatMapCoGroupsInPandas")[0]
    audit = plan_audit(df)
    assert audit.shuffle_exchanges >= 2


def test_basket_pairs_brand_dim_broadcast(spark):
    """q_basket_pairs: the part dim must broadcast; the fact side's only
    sort-merge-eligible shuffle is the per-order set build."""
    audit = plan_audit(_Q["q_basket_pairs"](spark, SF_CORRECT))
    assert audit.broadcast_joins >= 1
    assert audit.sortmerge_joins == 0, "part dim stopped broadcasting"
    assert audit.cartesian_products == 0


def test_corr_matrix_single_scan_no_join(spark):
    """stats_correlation_matrix: all 14 moments in ONE scan, no joins,
    and the only data shuffle is the 1-row partial->final aggregate."""
    df = _Q["stats_correlation_matrix"](spark, SF_CORRECT)
    assert len(read_schemas(df)) == 1, "moments split across scans"
    audit = plan_audit(df)
    assert audit.parquet_scans == 1
    assert audit.broadcast_joins == 0 and audit.sortmerge_joins == 0
    assert audit.shuffle_exchanges <= 2  # 1-row agg (+ 6-row sort)


def test_token_budget_offsets_broadcast(spark):
    """corpus_token_budget: both offset tables come back by broadcast —
    the corpus-grain side never shuffles for the offset joins."""
    audit = plan_audit(_Q["corpus_token_budget"](spark, SF_CORRECT))
    assert audit.broadcast_joins >= 2, "offset joins stopped broadcasting"
    assert audit.cartesian_products == 0


def test_bloom_exact_verify_is_bounded(spark):
    """dedup_bloom: the bloom screen is a 1-row broadcast (nested loop by
    design); the exact verify is an equijoin on the md5 key, and there is
    at most one such join in the plan."""
    plan = formatted_plan(_Q["dedup_bloom"](spark, SF_CORRECT))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    audit = plan_audit(_Q["dedup_bloom"](spark, SF_CORRECT))
    assert audit.sortmerge_joins <= 1


def test_boilerplate_df_join_is_equijoin(spark):
    """text_boilerplate: the df verdict joins back on the passage hash —
    never a broadcast ASSUMPTION on the frequent set, never a cartesian."""
    audit = plan_audit(_Q["text_boilerplate"](spark, SF_CORRECT))
    assert audit.cartesian_products == 0
    assert audit.broadcast_joins + audit.sortmerge_joins >= 1


def test_dpp_join_prunes_partitions_dynamically(spark):
    """q_dpp_join: the day-partitioned fact scan must carry a
    dynamicpruningexpression fed by the busy-days dim — the runtime
    partition elimination that matters most at 100 TB."""
    from navigator_data_ingest_spark.sources.dpp import dpp_busy_days

    plan = (
        dpp_busy_days(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), "DPP fell out of the fact scan"


def test_agg_pushdown_scan(spark):
    """src_agg_pushdown's deployment configs (DSv2 parquet reader +
    aggregatePushdown) must turn the whole-table count/min/max into a
    metadata read — the scan carries PushedAggregation and the values
    survive the footer-statistics path."""
    from navigator_data_ingest_spark.sources.flat import build_pushdown_plan

    plan = build_pushdown_plan(spark, SF_CORRECT)
    assert "PushedAggregation" in plan, plan[:2000]


def test_layout_hilbert_map_side_and_tighter_than_zorder(spark):
    """Hilbert audit: the 8-step recurrence stays map-side (same shuffle
    budget as z-order), the curve is a bijection with unit steps (the
    Hilbert property), and its buckets' bounding boxes are no looser
    than z-order's in aggregate — the locality claim the operator
    documents."""
    from navigator_data_ingest_spark.operators import layout as L

    audit = plan_audit(_Q["layout_hilbert"](spark, SF_CORRECT))
    assert audit.cartesian_products == 0
    assert audit.shuffle_exchanges <= 2

    # recurrence correctness on a small grid, pure python replay
    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    n = 16
    seen = {}
    for x in range(n):
        for y in range(n):
            d = xy2d(n, x, y)
            assert d not in seen
            seen[d] = (x, y)
    assert all(
        abs(seen[d][0] - seen[d + 1][0]) + abs(seen[d][1] - seen[d + 1][1]) == 1
        for d in range(n * n - 1)
    )

    hil = {
        r["bucket"]: (r["x_span"], r["y_span"])
        for r in _Q["layout_hilbert"](spark, SF_CORRECT).collect()
    }
    zor = {
        r["bucket"]: (r["x_span"], r["y_span"])
        for r in _Q["layout_zorder"](spark, SF_CORRECT).collect()
    }
    h_area = sum((x + 1) * (y + 1) for x, y in hil.values()) / len(hil)
    z_area = sum((x + 1) * (y + 1) for x, y in zor.values()) / len(zor)
    assert h_area <= z_area * 1.05, (h_area, z_area)


def test_topk_rank_filters_use_window_group_limit(spark):
    """rank() <= K filters must compile to WindowGroupLimit (Spark's
    per-group top-k pushdown: each shuffle partition keeps only K rows
    per group BEFORE the window sort) — the physical property that
    makes the window-rank top-k idiom scale, pinned so a refactor that
    breaks the pattern (e.g. a non-rank filter shape) is caught."""
    for name in ("text_tfidf", "sim_search_pq_adc"):
        df = _Q[name](spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, name


def test_join_hints_steer_physical_strategy(spark):
    """q_sql_join_hints' value contract is oracle-certified; this pins
    the PLAN contract: the BROADCAST hint plans a BroadcastHashJoin and
    SHUFFLE_MERGE plans a SortMergeJoin for the same logical join."""
    from navigator_data_ingest_spark.sources.tables import load_table

    load_table(spark, SF_CORRECT, "customer").createOrReplaceTempView(
        "v_jh_cust"
    )
    load_table(spark, SF_CORRECT, "nation").createOrReplaceTempView(
        "v_jh_nation"
    )
    q = (
        "SELECT {hint} n_name, count(*) AS n FROM v_jh_cust "
        "JOIN v_jh_nation ON c_nationkey = n_nationkey GROUP BY n_name"
    )
    bc = formatted_plan(
        spark.sql(q.format(hint="/*+ BROADCAST(v_jh_nation) */"))
    )
    sm = formatted_plan(
        spark.sql(q.format(hint="/*+ SHUFFLE_MERGE(v_jh_nation) */"))
    )
    assert "BroadcastHashJoin" in bc
    assert "SortMergeJoin" in sm
    assert "SortMergeJoin" not in bc


def test_mm_shard_manifest_three_level_prefix_sum(spark):
    """Byte offsets must come from the pack_sequences discipline with
    modality PREPENDED to every partition key: the asset cumsum windowed
    by (modality, block), block subtotals by (modality, super), offsets
    broadcast back — no window task over more than SHARD_BLOCK rows at
    any corpus size."""
    df = _Q["mm_shard_manifest"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    assert "windowspecdefinition(modality" in plan, (
        "shard prefix sum lost its modality-prefixed partition"
    )
    assert plan_audit(df).broadcast_joins >= 1, "offsets not broadcast"


def test_mm_shard_manifest_depth3_matches_global_scan(spark, monkeypatch):
    """With SHARD_BLOCK shrunk to 4 all three prefix-sum levels carry
    real work and the manifest must equal the default (single-super)
    configuration's."""
    from navigator_data_ingest_spark.operators import multimodal

    key = lambda r: (r.modality, r.shard)  # noqa: E731
    base = {key(r): (r.n_assets, r.shard_bytes)
            for r in _Q["mm_shard_manifest"](spark, SF_CORRECT).collect()}
    monkeypatch.setattr(multimodal, "SHARD_BLOCK", 4)
    small = {key(r): (r.n_assets, r.shard_bytes)
             for r in _Q["mm_shard_manifest"](spark, SF_CORRECT).collect()}
    assert base == small


def test_below_sums_windows_are_block_partitioned(spark):
    """``below_sums`` over the pooled distinct-value table keeps every
    corpus-derived window partitioned by the range-bucket block id: the
    only unpartitioned window is the exclusive running sum over the
    <=1024-row block table, and the block offsets are broadcast back.
    Callers that pin the result (_pooled_score_groups) show only the
    checkpoint scan in their own plans, so the shape is asserted here
    on the helper's plan."""
    import re

    from pyspark.sql import functions as F

    from navigator_data_ingest_spark.functions.prefix import below_sums
    from navigator_data_ingest_spark.operators.analytics import (
        _click_purchase_values,
    )
    from navigator_data_ingest_spark.plans.audit import (
        unpartitioned_window_count,
    )

    df = below_sums(
        _click_purchase_values(spark, SF_CORRECT),
        "value",
        below=F.col("ca") + F.col("cb"),
        below_a=F.col("ca"),
    )
    plan = formatted_plan(df)
    assert "windowspecdefinition(blk" in plan, (
        "distinct-value cumsum lost its block partition"
    )
    assert plan_audit(df).broadcast_joins >= 1, "block offsets not broadcast"
    assert unpartitioned_window_count(df) == 1
    # the one global window orders by blk alone: it runs on the block table
    block_table_windows = re.findall(
        r"^Arguments: .*\], \[blk#\d+L? ASC NULLS FIRST\]$", plan, re.M
    )
    assert len(block_table_windows) == 1, plan


def test_grouped_below_sums_has_no_global_window(spark):
    """With ``by=``, the block table's running sum is partitioned by the
    group and ordered by ``blk``, so no window is unpartitioned; the
    block offsets are still broadcast back."""
    import re

    from pyspark.sql import functions as F

    from navigator_data_ingest_spark.functions.prefix import below_sums
    from navigator_data_ingest_spark.plans.audit import (
        unpartitioned_window_count,
    )

    df = below_sums(
        spark.range(5000).selectExpr("id % 7 AS g", "id * 3 AS v"),
        "v",
        by=["g"],
        rank=F.lit(1),
    )
    plan = formatted_plan(df)
    assert unpartitioned_window_count(df) == 0, plan
    assert plan_audit(df).broadcast_joins >= 1, "block offsets not broadcast"
    assert "windowspecdefinition(g#" in plan and "blk#" in plan
    block_table_windows = re.findall(
        r"^Arguments: .*\], \[g#\d+L?\], \[blk#\d+L? ASC NULLS FIRST\]$",
        plan,
        re.M,
    )
    assert len(block_table_windows) == 1, plan


# key -> the function that must call below_sums for it
_BELOW_SUMS_KEYS = {
    "stats_mann_whitney": "stats_mann_whitney",
    "stats_mann_whitney_u": "stats_mann_whitney",
    "stats_mann_whitney_z": "stats_mann_whitney",
    "stats_kruskal_wallis": "_event_type_rank_sums",
    "stats_dunn_posthoc": "_event_type_rank_sums",
    "stats_wilcoxon_signed_rank": "stats_wilcoxon_signed_rank",
    "stats_cramer_von_mises": "stats_cramer_von_mises",
    "stats_jonckheere_terpstra": "stats_jonckheere_terpstra",
    "stats_ww_runs_two_sample": "stats_ww_runs_two_sample",
    "stats_ansari_bradley": "_pooled_score_groups",
    "stats_mood_scale": "_pooled_score_groups",
    "stats_brunner_munzel": "_pooled_score_groups",
    "stats_anderson_darling_2s": "_pooled_score_groups",
    "stats_auc_classifier": "stats_auc_classifier",
    "stats_youden_j": "stats_youden_j",
    "stats_gains_table": "stats_gains_table",
    "stats_gini_exact": "stats_gini_exact",
    "q_orders_pareto_8020": "q_orders_pareto_8020",
    "ingest_frontier_schedule": "ingest_frontier_schedule",
    "mm_aspect_buckets": "mm_aspect_buckets",
}


@pytest.mark.parametrize("name", sorted(_BELOW_SUMS_KEYS))
def test_scale_tests_use_block_partitioned_prefix_sums(name):
    """Every rank and ECDF key that needs an exclusive running sum over
    distinct values routes through ``below_sums`` (whose plan shape
    test_below_sums_windows_are_block_partitioned pins), directly or
    through the helper that builds its table."""
    import inspect

    fn = _Q[name]
    via = _BELOW_SUMS_KEYS[name]
    if fn.__name__ != via:
        assert f"{via}(" in inspect.getsource(fn), (
            f"{name}: no longer built on {via}"
        )
    via_src = inspect.getsource(getattr(inspect.getmodule(fn), via))
    assert "below_sums(" in via_src, (
        f"{name}: {via} no longer uses the shared prefix-sum helper"
    )


def test_pack_efficiency_expands_mapside_before_agg(spark):
    """The ×|LENS| candidate-length fan-out must be a map-side literal
    explode feeding partial aggregation — no join anywhere in the
    plan."""
    df = _Q["pack_efficiency"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    audit = plan_audit(df)
    assert "Generate" in plan, "candidate lengths not exploded map-side"
    assert (
        audit.broadcast_joins == 0
        and audit.sortmerge_joins == 0
        and audit.cartesian_products == 0
    ), "pack_efficiency must be join-free"


def test_emb_cka_gram_is_single_scan_no_self_join(spark):
    """The 64x64 Gram must come from ONE corpus pass (two lateral
    posexplodes) — a vec_id self-join would shuffle the corpus twice and
    is the shape this test forbids. Means re-enter via broadcast."""
    df = _Q["emb_cka_similarity"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    audit = plan_audit(df)
    assert "Generate" in plan, "gram grid not generated map-side"
    assert "SortMergeJoin" not in plan, "corpus self-join crept in"
    assert audit.broadcast_joins >= 2, "dimension means not broadcast"


def test_permutation_test_fanout_is_mapside(spark):
    """The ×PERM_REPS replicate fan-out must be a map-side sequence
    explode on the calendar-grain table; the observed statistic re-enters
    via a 1-row broadcast, never a driver collect."""
    df = _Q["stats_permutation_test"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    audit = plan_audit(df)
    assert "Generate" in plan, "replicates not exploded map-side"
    assert "BroadcastNestedLoopJoin" in plan, "observed stat not broadcast"
    assert audit.cartesian_products == 1, (
        "only the declared 1-row observed-stat broadcast may nest-loop"
    )
    assert "SortMergeJoin" not in plan


def test_split_dedup_aware_reuses_family_partitioning(spark):
    """Both split decisions are map-side hash comparisons; the only
    shuffles are the family build + re-join on the SAME key (pfx_hash)
    and the final audits. A row_number / global window anywhere here
    would break the map-side claim."""
    df = _Q["split_dedup_aware"](spark, SF_CORRECT)
    plan = formatted_plan(df)
    assert "windowspecdefinition" not in plan, (
        "split assignment must not use windows"
    )
