"""Physical-plan shape pins for the headline queries: correctness
tests can't see a plan regress from broadcast to cartesian or from
TakeOrderedAndProject to a global sort — these assertions can.  Each
pin encodes the 100 TB argument the operator's docstring makes."""

from __future__ import annotations

import re

import pytest

from production_grade_rag_spark.plans.catalog import CATALOG

from conftest import SF001


_CACHE: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    """Pre-execution physical plan (single-section, deterministic).
    The post-execution AdaptiveSparkPlan string prints initial+final
    sections, double-counting nodes; for SHAPE pins (which joins,
    which exchanges, what reaches the scan) the static plan is the
    stable surface — AQE only re-plans within these shapes."""
    if name not in _CACHE:
        df = CATALOG[name].build(spark, SF001)
        _CACHE[name] = df._jdf.queryExecution().executedPlan().toString()
    return _CACHE[name]


NEVER_ANYWHERE = ("CartesianProduct",)


@pytest.mark.parametrize("name", [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_nation_revenue",
    "q6_forecast_revenue", "q18_large_volume_customers",
    "r4_knn_topk", "r1_attribution_join", "ev_sessionize",
    "dd_minhash_lsh", "cc_curate",
])
def test_no_cartesian_products(spark, name):
    plan = _plan(spark, name)
    for bad in NEVER_ANYWHERE:
        assert bad not in plan, f"{name} plans a {bad}"


def test_q1_is_pushdown_scan_plus_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # the shipdate filter reaches the parquet scan
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and "l_shipdate" in scan[0]
    # two-phase agg: partial (map-side) + final
    assert plan.count("HashAggregate") >= 2


def test_q6_scan_prunes_columns(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    # only the 4 referenced columns survive into ReadSchema
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names == {"l_quantity", "l_extendedprice", "l_discount",
                     "l_shipdate"}


def test_q5_broadcasts_only_fixed_dims(spark):
    plan = _plan(spark, "q5_nation_revenue")
    # nation x region ride a broadcast; no nested-loop fallback
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_topk_is_take_ordered_no_exchange_before_scan(spark):
    plan = _plan(spark, "r4_knn_topk")
    # single-query exact knn: literal query column + global top-k
    assert "TakeOrderedAndProject" in plan
    # the corpus is never shuffled — scoring is map-side
    assert "Exchange hashpartitioning" not in plan


def test_sessionize_shuffles_once_on_user(spark):
    plan = _plan(spark, "ev_sessionize")
    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1 and "user_id" in exchanges[0]


def test_attribution_join_broadcasts_doc_side(spark):
    plan = _plan(spark, "r1_attribution_join")
    assert "BroadcastHashJoin" in plan


def test_minhash_candidates_shuffle_on_band_hash(spark):
    # the candidate set is materialized at build time (one
    # candidate-scoped shingle pass instead of two corpus passes), so
    # the banding exchange does not appear in the FINAL verify-tail
    # plan; the shape pin reads the candidate plan the operator builds
    # before that checkpoint.
    from production_grade_rag_spark.operators.dedup import (
        minhash_band_table, minhash_candidates, minhash_signatures)
    from production_grade_rag_spark.sources import load_table
    docs = load_table(spark, SF001, "documents")
    cands = minhash_candidates(minhash_band_table(minhash_signatures(docs)))
    cp = cands._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in cp
    # the bucket self-join keys on the slim (band, band_hash) pair —
    # only ids and 32-byte band hashes cross the exchange
    assert any("band_hash" in ln for ln in cp.splitlines()
               if "Exchange hashpartitioning" in ln)
    # and the final verify-tail plan joins the checkpointed candidate
    # set without any nested-loop fallback
    plan = _plan(spark, "dd_minhash_lsh")
    assert "BroadcastNestedLoopJoin" not in plan


def test_candidate_id_semi_join_follows_broadcast_conf(spark, monkeypatch):
    # the verify tail's candidate-id set grows with the corpus on a
    # duplicate-heavy input, so no hint forces its semi-join to
    # broadcast: with broadcasting disabled by conf the planner
    # shuffles it, and the pairs are the default-conf pairs
    from production_grade_rag_spark.operators import dedup
    from production_grade_rag_spark.sources import load_table
    docs = load_table(spark, SF001, "documents")
    base = docs.filter(docs.doc_id % 2 == 0)
    delta = docs.filter(docs.doc_id % 2 == 1)

    def build():
        return [dedup.minhash_dedup_pairs(docs),
                dedup.minhash_delta_pairs(base, delta)]

    default = [set(df.collect()) for df in build()]
    plans = []
    real = dedup.materialize

    def spy(df, step):
        out = real(df, step)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(dedup, "materialize", spy)
    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in confs}
    for k in confs:
        spark.conf.set(k, "-1")
    try:
        dfs = build()
        rows = [set(df.collect()) for df in dfs]
        plans += [df._jdf.queryExecution().executedPlan().toString()
                  for df in dfs]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert rows == default and all(default)
    semi = [ln for p in plans for ln in p.splitlines() if "LeftSemi" in ln]
    assert semi
    assert not [ln for ln in semi if "BroadcastHashJoin" in ln], semi


def test_flagship_ends_in_take_ordered(spark):
    plan = _plan(spark, "flagship_dim384")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("name", [
    "q7_volume_shipping", "q8_market_share",
    "q13_order_count_distribution", "q19_disjunctive_revenue",
    "q21_waiting_supplier", "q_basket_lift", "ev_rfm_segments",
    "q9_profit_proxy", "q15_top_supplier", "q_fulfillment_lag",
    "w9_interorder_gap", "s26_version_diff",
])
def test_new_tpch_shapes_no_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian"


def test_q7_filters_both_dim_legs_before_fact_join(spark):
    plan = _plan(spark, "q7_volume_shipping")
    # the 2-nation predicate reaches both nation scans (pushed filter)
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "n_name" in ln]
    assert len(scans) >= 2
    assert "BroadcastHashJoin" in plan


def test_q8_snowflake_dims_broadcast(spark):
    plan = _plan(spark, "q8_market_share")
    # region/nation/part legs all ride broadcasts, never nested-loop
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    # the orderdate window reaches the orders scan
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "o_orderdate" in ln]
    assert scans


def test_q13_is_outer_join_plus_two_phase_agg(spark):
    plan = _plan(spark, "q13_order_count_distribution")
    assert "LeftOuter" in plan
    # per-customer count then histogram: both aggs partial+final
    assert plan.count("HashAggregate") >= 4


def test_q19_implied_prefilters_reach_part_scan(spark):
    plan = _plan(spark, "q19_disjunctive_revenue")
    # the brand IN-list (implied by the disjunction) prunes the part
    # scan BEFORE the join — the point of writing it explicitly
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "p_brand" in ln]
    assert scan, "brand prefilter did not reach the part scan"


def test_q21_rewrites_exists_pair_to_semi_anti(spark):
    plan = _plan(spark, "q21_waiting_supplier")
    # Catalyst de-correlates EXISTS/NOT EXISTS into semi + anti joins
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_basket_lift_joins_on_orderkey_not_nested_loop(spark):
    plan = _plan(spark, "q_basket_lift")
    # the pair self-join is an equi-join on the collapsed basket
    assert any("l_orderkey" in ln or "__ok" in ln
               for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln
               or "SortMergeJoin" in ln or "BroadcastHashJoin" in ln)


def test_q9_nation_broadcasts_fact_agg_two_phase(spark):
    plan = _plan(spark, "q9_profit_proxy")
    assert "BroadcastHashJoin" in plan
    # nation x year matrix agg: partial map-side + final
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", [
    "r7_hybrid_bm25_stem", "r7_hybrid_bm25_en", "m1_chunk_recursive",
    "m2_parent_child",
])
def test_r7_entries_no_cartesian(spark, name):
    plan = _plan(spark, name)
    for bad in NEVER_ANYWHERE:
        assert bad not in plan, f"{name} plans a {bad}"


def test_stemmed_bm25_branches_are_k_bounded(spark):
    # both candidate branches TakeOrdered(40) before the union-fusion,
    # so fusion shuffles k-bounded rows regardless of corpus size —
    # the same shape pin the other hybrid entries rely on
    plan = _plan(spark, "r7_hybrid_bm25_stem")
    assert plan.count("TakeOrderedAndProject") >= 2


def test_chunk_gate_aggregates_have_partial_phase(spark):
    # the invariant gates reduce the whole corpus to one row: the
    # violation counts must partial-aggregate map-side (two-phase
    # HashAggregate), not funnel raw chunk rows to one reducer
    plan = _plan(spark, "m1_chunk_recursive")
    assert len(re.findall(r"HashAggregate|SortAggregate", plan)) >= 2


@pytest.mark.parametrize("name", [
    "ta_gopher_gate", "t14_c4_line_filter", "dd_line_dedup",
])
def test_curation_entries_no_cartesian(spark, name):
    plan = _plan(spark, name)
    for bad in NEVER_ANYWHERE:
        assert bad not in plan, f"{name} plans a {bad}"


def test_curation_rules_are_single_projection_no_exchange(spark):
    # the Gopher/C4 rule gates are map-side: no HASH exchange anywhere
    # (no agg/join shuffle) — only the loader's round-robin balance and
    # the output ordering's range exchange may appear
    for name in ("ta_gopher_gate", "t14_c4_line_filter"):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning" not in plan, \
            f"{name}: unexpected agg/join shuffle"


def test_line_dedup_partial_agg_election_no_window(spark):
    # the r8 skew-safe shape: first-occurrence election must be a
    # partial-aggregable min(struct) (one combiner cell per map task
    # even for a billion-copy boilerplate line), never a row_number
    # window over md5(ln) (which funnels every copy of a hot line —
    # and ALL blank lines, md5('') — into a single reducer)
    plan = _plan(spark, "dd_line_dedup")
    assert "Window" not in plan, "election regressed to a window"
    assert "partial_min" in plan, "election must partial-aggregate"
    # the doc_id reassembly aggregate must also be two-phase
    assert "partial_count" in plan
    # at most: agg-on-h, join-probe-on-h, doc_id reassembly
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert len(hash_ex) <= 3, plan


def test_cc_curate_modern_single_gate_pass_one_hash_shuffle(spark):
    # the composed published-rules curation must keep cc_curate's
    # shape: all gates fused into the scan-side projection, ONE hash
    # exchange (the content_hash dedup window) — composing Gopher/C4
    # must not introduce extra shuffles or a second scan
    plan = _plan(spark, "cc_curate_modern")
    assert "CartesianProduct" not in plan
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert len(hash_ex) == 1, plan
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "documents" in ln]
    assert len(scans) == 1, "gates must fuse into one documents scan"


def test_dsir_lm_tables_broadcast_no_tok_shuffle(spark):
    # the LM tables are vocabulary-sized by construction: both
    # tok-joins must be BroadcastHashJoin — a sort-merge join on the
    # Zipf-skewed token stream ("the" is a hot key) would funnel
    plan = _plan(spark, "t16_dsir_weight")
    assert len(re.findall(r"BroadcastHashJoin.*\btok\b", plan)) >= 2
    assert not re.search(r"SortMergeJoin.*\btok\b", plan), plan
    assert not re.search(r"ShuffledHashJoin.*\btok\b", plan), plan


def test_span_dedup_partial_agg_election_no_window(spark):
    # same contract as dd_line_dedup: min(struct) election, no window
    # over the span hash, degenerate spans never reach the shuffle
    plan = _plan(spark, "dd_span_dedup")
    assert "Window" not in plan, "election regressed to a window"
    assert "partial_min" in plan, "election must partial-aggregate"


def test_perplexity_context_counts_broadcast(spark):
    # the c1 context table is vocabulary-sized: its Zipf-hot 'prev'
    # join must broadcast (same argument as the DSIR LM tables)
    plan = _plan(spark, "ta_perplexity")
    assert len(re.findall(r"BroadcastHashJoin.*\bprev\b", plan)) >= 1
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


@pytest.mark.parametrize("name", [
    "t17_dsir_resample", "t17_dsir_mix", "cc_curate_modern_ppl",
    "ir2_eval_summary", "ir3_eval_matryoshka", "t21_nb_filter",
    "t21_nb_confusion", "t21_nb_calibration", "s30_layout_pruning",
    "a16_skew_probe", "a17_join_estimate_audit", "t22_bpe_fertility",
    "cc_release_funnel", "ev_markov_transitions", "dq2_psi_drift",
    "g2_kmeans_clusters",
])
def test_r8_entries_no_cartesian(spark, name):
    plan = _plan(spark, name)
    for bad in NEVER_ANYWHERE:
        assert bad not in plan, f"{name} plans a {bad}"


def test_seq_packing_single_shard_shuffle(spark):
    # the running-offset window shards on a uniform doc_id hash: ONE
    # hash exchange, everything after the cumsum map-side
    plan = _plan(spark, "t18_seq_packing")
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert len(hash_ex) == 1, plan
    assert "shard" in hash_ex[0]


def test_domain_mix_accept_is_map_side(spark):
    # acceptance must be a broadcast-joined integer threshold — a
    # rank window partitioned by source would funnel a 100 TB
    # source's rows into one reducer
    plan = _plan(spark, "t19_domain_mix")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_pagerank_iterations_broadcast_rank_vector(spark):
    # each of the 5 iterations joins the <=625-row edge list against
    # the 25-row rank vector: broadcasts end to end, no cartesian
    plan = _plan(spark, "g1_trade_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_nb_classifier_tables_broadcast_no_tok_shuffle(spark):
    # the NB class-conditional table is vocabulary-sized (same
    # argument as the DSIR LM tables): the quantized log-ratio join
    # back to the Zipf-hot token stream must broadcast
    plan = _plan(spark, "t21_nb_quality")
    assert len(re.findall(r"BroadcastHashJoin.*\btok\b", plan)) >= 1
    assert not re.search(r"SortMergeJoin.*\btok\b", plan), plan
    assert not re.search(r"ShuffledHashJoin.*\btok\b", plan), plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_ir_eval_queries_broadcast(spark):
    # the eval query set is a sample: candidate scoring must be a
    # broadcast (nested-loop over the tiny side), never a cartesian
    # shuffle; the only hash exchange is the per-query top-k window
    plan = _plan(spark, "ir1_eval_per_query")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_zorder_layout_single_hash_exchange(spark):
    # bounds are one broadcast row; grid + Morton + bucket assignment
    # must stay map-side — the only hash exchange is the per-bucket
    # stats aggregate
    plan = _plan(spark, "s29_zorder_layout")
    assert "CartesianProduct" not in plan
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert len(hash_ex) == 1, plan


def test_kmeans_assignment_is_map_side(spark):
    # final assignment = argmin over centroid LITERALS: no join of any
    # kind, no window — a pure projection over the scan (plus the
    # output sort)
    plan = _plan(spark, "g2_kmeans_assign")
    for bad in ("CartesianProduct", "Join", "Window"):
        assert bad not in plan, f"assignment plans a {bad}"


def test_temp_mix_accept_is_map_side(spark):
    # alpha-sampling keeps t19's shape: sqrt thresholds are a
    # sources-sized broadcast, acceptance a map-side bucket compare —
    # no per-source window, no cartesian
    plan = _plan(spark, "t24_temp_mix")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_rule_ablation_is_single_conditional_agg(spark):
    # four rules, ONE aggregate: all n_fail / n_fail_only cells must
    # come out of a single two-phase hash aggregate over the scored
    # scan (plus the perplexity join), not four rule-filtered passes
    plan = _plan(spark, "t25_rule_ablation")
    for bad in NEVER_ANYWHERE:
        assert bad not in plan
    # the flag-carrying aggregate appears once, partial+final
    final = [ln for ln in plan.splitlines()
             if "HashAggregate" in ln and "n_pass_all" in ln]
    assert final, plan
    assert "Window" not in plan


def test_quality_pernorm_threshold_broadcast_no_window(spark):
    # the per-source cut joins back broadcast; keep decision is
    # map-side — percent_rank windows over a 100 TB domain would be
    # the exact skew the docstring forbids
    plan = _plan(spark, "w10_quality_pernorm")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_heavy_hitters_sketch_partial_aggregates(spark):
    # the 1,536-cell CMS table must build through a two-phase
    # (map-side partial) aggregate, and the estimate lookup joins
    # the bounded cell table broadcast
    plan = _plan(spark, "a20_heavy_hitters")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_cluster_balanced_sample_accept_is_map_side(spark):
    # assignment = argmin over centroid literals (the g2 shape),
    # caps = K-row broadcast, accept = map-side bucket threshold:
    # no window anywhere, no cartesian
    plan = _plan(spark, "g3_cluster_balanced_sample")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_pca_power_no_cartesian_no_window(spark):
    # since the r15 Gram collapse the returned plan is a posexplode of
    # the literal converged direction — the one data pass (the 136-cell
    # Gram partial aggregate) runs at build() time; no cartesian, no
    # window, no per-iteration join chain survives in the final plan
    plan = _plan(spark, "g4_pca_power")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only Exchange left is the final 16-row orderBy("dim") sort
    assert plan.count("Exchange") <= 1


def test_bloom_bitmap_partial_aggregates_and_broadcast_probe(spark):
    # the 128-word bitmap builds through a two-phase bit_or aggregate
    # and the batch probes it via a broadcast join on the word id
    plan = _plan(spark, "a21_bloom_prefilter")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_eval_split_manifest_is_pure_projection(spark):
    # split assignment is a map-side hash threshold: no join, no
    # window, no aggregate — just the scan, the projection, and the
    # output sort
    plan = _plan(spark, "t26_eval_split")
    for bad in ("CartesianProduct", "Join", "Window", "HashAggregate"):
        assert bad not in plan, f"split manifest plans a {bad}"


def test_backoff_lm_tables_broadcast_no_tok_shuffle(spark):
    # the trained bigram/context/unigram tables are vocabulary-sized:
    # scoring joins must broadcast (the t16/t21 shape) — a sort-merge
    # on the Zipf token key would be the hot-key shuffle
    plan = _plan(spark, "ta_backoff_heldout")
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"SortMergeJoin.*\b(prev|cur)\b", plan), plan
    for bad in NEVER_ANYWHERE:
        assert bad not in plan


def test_weighted_sample_is_take_ordered(spark):
    # key assignment map-side; the top-k must be TakeOrderedAndProject
    # (per-partition heaps), never a global sort
    plan = _plan(spark, "t27_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    for bad in ("CartesianProduct", "Window", "Join"):
        assert bad not in plan, f"weighted sample plans a {bad}"


def test_label_prop_iterations_are_edge_joins(spark):
    # after the one-off graph build, each vote round joins the 5n edge
    # list to the label table and partial-aggregates the counts — no
    # cartesian anywhere (the graph build's non-equi self-join is a
    # broadcast nested loop at this scale)
    plan = _plan(spark, "g5_label_prop")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_icp_pack_no_cartesian(spark):
    # cluster assignment map-side (g2 shape), offsets one window per
    # cluster, the token join broadcast-or-shuffled on doc_id — never
    # a cartesian
    for name in ("t28_icp_pack", "t28_icp_adjacency"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


# --- round-9 second wave -----------------------------------------------------

def test_contamination_gram_join_no_cartesian(spark):
    plan = _plan(spark, "t34_ngram_contamination")
    assert "CartesianProduct" not in plan
    # train-set membership rides an equi-join on the flat gram hash —
    # never a nested loop over gram text
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_ahash_bands_equi_join_and_arrow_decode(spark):
    plan = _plan(spark, "mm_ahash_neardup")
    assert "CartesianProduct" not in plan
    # the decode pass is the Arrow path, not row-at-a-time python
    assert "MapInPandas" in plan
    # candidates come from the (band, bval) equi-join
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_triangle_census_k_bounded_joins(spark):
    plan = _plan(spark, "g6_triangle_census")
    # the only nested-loop joins are against broadcast 1-row count
    # frames; the wedge/closure joins are equi-joins on edge keys
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_span_corruption_no_shuffle(spark):
    plan = _plan(spark, "t35_span_corruption")
    # map-side through and through: the only exchange is the final
    # presentation sort
    body = plan.split("Sort", 1)[-1]
    assert "Exchange hashpartitioning" not in body


def test_source_tfidf_vocab_join_shapes(spark):
    plan = _plan(spark, "ta_source_tfidf")
    assert "CartesianProduct" not in plan
    # corpus-size count rides a broadcast; the df join is an equi-join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_theta_ndv_survivor_filter_before_distinct(spark):
    plan = _plan(spark, "a22_theta_ndv")
    # the distinct aggregates partial-aggregate map-side (expand +
    # two-phase HashAggregate), no join at all
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_attribution_single_user_window(spark):
    plan = _plan(spark, "ev_attribution_removal")
    # one user-keyed window builds transitions; the 20 value-iteration
    # joins run on the tiny count table with no cartesian
    assert "CartesianProduct" not in plan


def test_funnel_ttc_one_user_exchange(spark):
    plan = _plan(spark, "ev_funnel_ttc")
    assert "CartesianProduct" not in plan
    # sessionization + the running first-view min reuse the user_id
    # exchange; no event-scaled broadcast
    assert plan.count("Exchange hashpartitioning(user_id") >= 1


def test_stickiness_two_phase_aggs(spark):
    plan = _plan(spark, "ev_stickiness")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_ab_ztest_no_join(spark):
    plan = _plan(spark, "dq7_ab_ztest")
    # per-user conditional agg + one 4-cell aggregate: no join at all
    assert "Join" not in plan


def test_benford_digit_table_broadcast(spark):
    plan = _plan(spark, "dq5_benford")
    assert "CartesianProduct" not in plan
    # the 9-digit frame and the 1-row total ride broadcasts
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pchart_map_side_flags(spark):
    plan = _plan(spark, "dq6_error_pchart")
    assert "CartesianProduct" not in plan
    # day table + broadcast 1-row total; flags are projections
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# --- round-10 pins -----------------------------------------------------


def test_graph_consumers_read_the_store_not_a_rebuild(spark):
    # the shared-store contract in plan form: the exact edge entry is
    # a parquet scan with NO join anywhere — a rebuild would show the
    # all-pairs non-equi self-join
    plan = _plan(spark, "g_knn_edges")
    assert "Scan parquet" in plan
    assert "Join" not in plan
    # and the k-core peel consumes the same store: its only joins are
    # the per-round semi-joins on the flat node key, never a cartesian
    plan7 = _plan(spark, "g7_kcore_peel")
    assert "CartesianProduct" not in plan7


def test_kmv_no_cartesian_and_bounded_windows(spark):
    plan = _plan(spark, "a30_kmv_ndv")
    assert "CartesianProduct" not in plan
    # phase-1 local top-k runs keyed by (source, input partition) —
    # there is a window, but never an unpartitioned global one over
    # the corpus-sized survivor set
    assert "Window" in plan
    assert "windowspecdefinition()" not in plan.replace(" ", "")


def test_soft_sample_is_take_ordered(spark):
    # A-Res top-100 under soft weights: per-partition heaps, not a
    # global sort
    plan = _plan(spark, "t41_soft_dedup_sample")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ppr_iterations_are_edge_joins(spark):
    plan = _plan(spark, "g11_ppr_seed")
    assert "CartesianProduct" not in plan
    # four iterations = four k-bounded aggregate/join rounds, and the
    # final top-20 is a heap, not a sort
    assert "TakeOrderedAndProject" in plan


def test_cusum_windows_run_over_the_day_table(spark):
    plan = _plan(spark, "dq7_cusum_shift")
    assert "CartesianProduct" not in plan
    # the event-grain work is one partial-aggregable groupBy; the
    # sequential-looking recurrence compiles to day-table windows
    assert "Window" in plan
