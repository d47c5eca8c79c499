"""Round-11 entries: IVF metric-fidelity gates, approx stats twin,
whitening, the release-audit card, the streaming funnel, and the
ivf_knn_join expression fast path."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from production_grade_rag_spark.plans.catalog import CATALOG

from conftest import SF001


def _rows(spark, name):
    return CATALOG[name].build(spark, SF001).collect()


# ---------------------------------------------------------------------------
# ivf_knn_join: the expression fast path (VERDICT r10 #1)
# ---------------------------------------------------------------------------

def _ivf_join_reference(spark, queries, corpus, cents, k, n_probe):
    """The r10 join-shape reference: assign_cells groupBy election for
    the corpus, crossJoin + per-query window for probe selection —
    kept here as the independent implementation the packed-row
    projection path must reproduce byte-for-byte."""
    from pyspark.sql import Window
    from production_grade_rag_spark.functions.vector import to_double_array
    from production_grade_rag_spark.operators import similarity as S
    assigned = S.assign_cells(corpus, cents, vec_col="embedding",
                              id_col="vec_id")
    q = queries.select(F.col("query_id"),
                       to_double_array(F.col("embedding")).alias("__qv"))
    wq = Window.partitionBy("query_id").orderBy(F.col("__d").asc(),
                                                F.col("cell_id").asc())
    probes = (q.crossJoin(F.broadcast(cents))
              .withColumn("__d", S._sqdist_to_centroid("__qv"))
              .withColumn("__r", F.row_number().over(wq))
              .filter(F.col("__r") <= n_probe)
              .select("query_id", "__qv", F.col("cell_id").alias("cell")))
    c = assigned.select(F.col("vec_id").alias("result_id"),
                        to_double_array(F.col("embedding")).alias("__cv"),
                        "cell")
    scored = (c.join(probes, "cell")
              .withColumn("score", S._score("cosine", F.col("__cv"),
                                            F.col("__qv")))
              .drop("__qv", "__cv", "cell"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col("result_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def test_ivf_knn_join_matches_join_shape_reference(spark):
    """The packed-centroid projection path and the r10 join shape must
    be byte-identical — same distance arithmetic, same (distance,
    cell_id) tiebreaks — so the recall gates certify the new shape."""
    from production_grade_rag_spark.operators import similarity
    from production_grade_rag_spark.sources import load_table
    emb = load_table(spark, SF001, "embeddings")
    qs = emb.withColumnRenamed("vec_id", "query_id")
    cents = similarity.fit_centroids(emb, 16)
    fast = similarity.ivf_knn_join(qs, emb, k=6, n_lists=16, n_probe=8,
                                   centroids=cents)
    rows_fast = sorted((r["query_id"], r["result_id"], r["rank"],
                        round(r["score"], 9)) for r in fast.collect())
    ref = _ivf_join_reference(spark, qs, emb, cents, k=6, n_probe=8)
    rows_ref = sorted((r["query_id"], r["result_id"], r["rank"],
                       round(r["score"], 9)) for r in ref.collect())
    assert rows_fast == rows_ref


def test_ivf_knn_join_plan_is_one_equijoin(spark):
    """The 100 TB claim as a plan pin: cell assignment and probe
    selection are single-pass projections against the 1-row packed
    centroid broadcast (the only nested-loop join in the plan — one
    row, no shuffle), so the whole join is one cell equi-join + the
    per-query window — at most 3 hash exchanges, no cartesian, no
    groupBy-based assignment."""
    from production_grade_rag_spark.operators import similarity
    from production_grade_rag_spark.sources import load_table
    emb = load_table(spark, SF001, "embeddings")
    qs = emb.withColumnRenamed("vec_id", "query_id")
    cents = similarity.fit_centroids(emb, 16)
    j = similarity.ivf_knn_join(qs, emb, k=5, n_lists=16, n_probe=4,
                                centroids=cents)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3
    # assignment is NOT a groupBy election: the only aggregates in the
    # plan would come from assign_cells' min-struct groupBy
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    # the cell join must NOT be a sort-merge on the n_lists-ary key
    # (the skew trap probe_side='broadcast' exists to avoid)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# s32_analyze_stats_approx (VERDICT r10 #3)
# ---------------------------------------------------------------------------

def test_s32_approx_gate_holds(spark):
    rows = _rows(spark, "s32_analyze_stats_approx")
    assert len(rows) == 4
    assert all(r["ndv_ok"] for r in rows)


def test_s32_approx_exact_twin_matches_direct_count(spark):
    from production_grade_rag_spark.sources import load_table
    o = load_table(spark, SF001, "orders")
    want = {c: o.select(c).distinct().count()
            for c in ("o_orderkey", "o_custkey")}
    got = {r["col"]: r["ndv"]
           for r in _rows(spark, "s32_analyze_stats_approx")}
    for c, n in want.items():
        assert got[c] == n


def test_s32_pure_approx_plan_compiles_no_exact_distinct(spark):
    """The 100 TB form: HLL++ only, partial-aggregated map-side — the
    plan contains partial_approx_count_distinct and NONE of the exact
    distinct machinery (no Expand node, no count(distinct ...)); the
    gated catalog form (ndv='both') keeps the exact twin and therefore
    DOES compile the Expand — asserted as the contrast."""
    from production_grade_rag_spark.plans.catalog_r11 import _s32_stats_r11
    pure = (_s32_stats_r11(spark, SF001, ndv="approx")
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_approx_count_distinct" in pure
    assert "Expand" not in pure
    assert not re.search(r"count\(distinct", pure, re.I)
    both = (_s32_stats_r11(spark, SF001, ndv="both")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Expand" in both


# ---------------------------------------------------------------------------
# g_ivf_fidelity (VERDICT r10 #2)
# ---------------------------------------------------------------------------

def test_g_ivf_fidelity_floors_hold(spark):
    rows = _rows(spark, "g_ivf_fidelity")
    assert [r["metric"] for r in rows] == [
        "clustering_coef", "components", "ppr_top20_overlap",
        "triangles"]
    assert all(r["floor_met"] for r in rows)


def test_g_ivf_fidelity_exact_side_matches_standalone(spark):
    """The card's exact column must be the SAME numbers the standalone
    entries publish — census from g6, PPR cardinality from g11."""
    rows = {r["metric"]: r["exact_q"]
            for r in _rows(spark, "g_ivf_fidelity")}
    census = CATALOG["g6_triangle_census"].build(spark, SF001).collect()[0]
    assert rows["triangles"] == float(census["n_triangles"])
    assert rows["clustering_coef"] == census["global_clustering"]
    ppr_n = CATALOG["g11_ppr_seed"].build(spark, SF001).count()
    assert rows["ppr_top20_overlap"] == float(ppr_n)


# ---------------------------------------------------------------------------
# m6_whiten_embeddings (VERDICT r10 #6)
# ---------------------------------------------------------------------------

def test_m6_removes_top_direction(spark):
    row = _rows(spark, "m6_whiten_embeddings")[0]
    assert row["removed_ok"]
    # the invariant itself, restated: post-removal variance along v
    # is truncation residue (<1% — measured ~6e-7 of before)
    assert row["resid_q"] * 100 <= row["before_q"]
    # the honest observational read on this near-isotropic corpus
    assert abs(row["anis_before"]) < 0.1
    assert abs(row["anis_after"]) < 0.1


# ---------------------------------------------------------------------------
# cc_release_audit (VERDICT r10 #7): every row == its standalone entry
# ---------------------------------------------------------------------------

def test_release_audit_rows_match_standalone(spark):
    card = {r["audit"]: r["value_q"]
            for r in _rows(spark, "cc_release_audit")}
    dq8 = _rows(spark, "dq8_kanonymity")[0]
    assert card["kanonymity_risk"] == dq8["risk_share"]
    m5 = _rows(spark, "m5_embedding_isotropy")[0]
    assert card["isotropy"] == m5["anisotropy"]
    t43 = {r["ordering"]: r["same_bucket_rate"]
           for r in _rows(spark, "t43_order_clumping")}
    assert card["order_clumping"] == t43["curriculum"]
    t44 = _rows(spark, "t44_quality_length_corr")[0]
    assert card["quality_length_bias"] == t44["quality_length_corr"]


def test_release_audit_flags_are_policy_comparisons(spark):
    from production_grade_rag_spark.plans.catalog_r11 import (
        _AUDIT_ANIS_MAX, _AUDIT_CORR_MAX, _AUDIT_RISK_MAX)
    rows = {r["audit"]: r for r in _rows(spark, "cc_release_audit")}
    assert rows["isotropy"]["flag_ok"] == (
        abs(rows["isotropy"]["value_q"]) <= _AUDIT_ANIS_MAX)
    assert rows["kanonymity_risk"]["flag_ok"] == (
        rows["kanonymity_risk"]["value_q"] <= _AUDIT_RISK_MAX)
    assert rows["quality_length_bias"]["flag_ok"] == (
        abs(rows["quality_length_bias"]["value_q"]) <= _AUDIT_CORR_MAX)


# ---------------------------------------------------------------------------
# st_funnel (VERDICT r10 #5): stream == batch
# ---------------------------------------------------------------------------

def test_st_funnel_matches_batch_funnel(spark):
    st = _rows(spark, "st_funnel")[0]
    bt = _rows(spark, "ev_funnel")[0]
    for c in ("n_sessions", "n_view", "n_view_click",
              "n_view_click_purchase"):
        assert st[c] == bt[c], c


# ---------------------------------------------------------------------------
# ev_rolling_distinct_kmv: the calendar-axis KMV composition
# ---------------------------------------------------------------------------

def test_rolling_distinct_exact_when_under_k(spark):
    """No prefilter -> a window whose NDV is below k reports the EXACT
    count (the k-min set of a < k set is the set); estimated days must
    carry exactly k kept hashes and bounded error."""
    rows = _rows(spark, "ev_rolling_distinct_kmv")
    assert rows, "no days"
    from production_grade_rag_spark.plans.catalog_r11 import _RD_K
    for r in rows:
        assert r["n_keep"] <= _RD_K
        if r["n_keep"] < _RD_K:
            assert r["est_rolling"] == r["exact_rolling"] == r["n_keep"]
        else:
            # KMV rel err ~ 1/sqrt(k-2) = 0.127 at k=64; 3 sigma bound
            assert r["rel_err"] <= 0.40, (r["day"], r["rel_err"])


def test_rolling_distinct_window_dominates_daily(spark):
    """The 7-day rolling distinct can never be below any single day's
    distinct count inside its window — spot-check via the max day."""
    from production_grade_rag_spark.plans.catalog_r9 import _h60
    from production_grade_rag_spark.sources import load_table
    ev = load_table(spark, SF001, "events")
    daily = (ev.select(
                F.date_trunc("day", F.col("ts").cast("timestamp"))
                 .cast("date").cast("string").alias("day"),
                _h60(F.col("user_id").cast("string")).alias("h"))
             .groupBy("day").agg(F.countDistinct("h").alias("n")))
    per_day = {r["day"]: r["n"] for r in daily.collect()}
    for r in _rows(spark, "ev_rolling_distinct_kmv"):
        assert r["exact_rolling"] >= per_day[r["day"]]


# ---------------------------------------------------------------------------
# g12_neighborhood_function: ANF / HyperBall over the shared store
# ---------------------------------------------------------------------------

def test_neighborhood_function_monotone_and_exact_small_balls(spark):
    rows = _rows(spark, "g12_neighborhood_function")
    from production_grade_rag_spark.plans.catalog_r11 import _HB_H, _HB_K
    assert [r["hop"] for r in rows] == list(range(1, _HB_H + 1))
    # N(h) is monotone non-decreasing in h, both exact and estimated
    for a, b in zip(rows, rows[1:]):
        assert b["nf_exact"] >= a["nf_exact"]
        assert b["nf_est"] >= a["nf_est"]
    # hop 1 balls are deg+1 <= 2k_graph+1 = 11 < k=16 -> every node
    # reports EXACT counts, so the hop-1 estimate IS the exact N(1)
    assert rows[0]["nf_est"] == rows[0]["nf_exact"]
    assert rows[0]["rel_err"] == 0.0


def test_neighborhood_function_sketch_state_is_bounded(spark):
    """The per-node sketch never exceeds k rows at any hop — the
    bounded-state claim on the graph axis (exact ball membership
    grows with the ball; the sketch does not)."""
    from pyspark.sql import Window as W
    from production_grade_rag_spark.operators.knn_graph import knn_und
    from production_grade_rag_spark.plans.catalog_r11 import _HB_H, _HB_K
    from production_grade_rag_spark.plans.catalog_r9 import _h60
    from production_grade_rag_spark.sources import load_table
    emb = load_table(spark, SF001, "embeddings")
    und = knn_und(spark, SF001)
    ged = (und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
           .unionByName(und.select(F.col("v").alias("src"),
                                   F.col("u").alias("dst"))))
    s = emb.select(
        F.col("vec_id").alias("node"),
        _h60(F.concat(F.lit("hb:"), F.col("vec_id").cast("string")))
        .alias("h"))
    w_node = W.partitionBy("node").orderBy("h")
    for _ in range(_HB_H):
        absorbed = (ged.join(s.withColumnRenamed("node", "dst"), "dst")
                    .select(F.col("src").alias("node"), "h"))
        s = (s.unionByName(absorbed).distinct()
             .withColumn("rn", F.row_number().over(w_node))
             .filter(F.col("rn") <= _HB_K).select("node", "h")
             .localCheckpoint())
        mx = s.groupBy("node").count().agg(F.max("count")).first()[0]
        assert mx <= _HB_K


def test_st_rolling_distinct_matches_batch(spark):
    """Out-of-order user-parity tranches through the versioned store
    must reproduce the batch rolling registry exactly (semilattice
    merge; the exact column is the one thing bounded state drops)."""
    st = {r["day"]: (r["n_keep"], r["theta_k"], r["est_rolling"])
          for r in _rows(spark, "st_rolling_distinct")}
    bt = {r["day"]: (r["n_keep"], r["theta_k"], r["est_rolling"])
          for r in _rows(spark, "ev_rolling_distinct_kmv")}
    assert st == bt


def test_dd_minhash_delta_equals_restricted_batch(spark):
    """The incremental form must equal the full-corpus batch pairs
    restricted to >= 1 delta member — same bucket condition, same
    verify, no base x base work."""
    full = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in _rows(spark, "dd_minhash_lsh")
            if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1}
    delta = {(r["id_a"], r["id_b"], r["jaccard"])
             for r in _rows(spark, "dd_minhash_delta")}
    assert delta == full and len(delta) > 0


def test_m6_expr_parse_equals_lambda_columns(spark):
    # r16: m6's HOF trees are handed to the SQL parser as one string
    # each (plan-construction cost); this pins every parsed tree
    # value-equal to the lambda-Column form it replaced, on arrays
    # with negatives/zeros so the long and double folds both exercise
    # sign and truncation.
    df = spark.createDataFrame(
        [(1, [3, -2, 0, 7], [1, 0, -1, 2]),
         (2, [-5, 4, 9, -1], [0, 3, 2, -2])],
        "vec_id long, cv array<long>, v array<long>")
    parsed = df.select(
        F.expr("aggregate(zip_with(cv, v, (a, b) -> a * b), "
               "cast(0 as bigint), (acc, x) -> acc + x)").alias("s"),
        F.expr("aggregate(transform(v, x -> x * x), "
               "cast(0 as bigint), (a, x) -> a + x)").alias("vv"),
        F.expr("aggregate(zip_with(cv, v, (x, y) -> cast(x as double) "
               "* cast(y as double)), cast(0 as double), "
               "(acc, x) -> acc + x)").alias("dot"),
        F.expr("sqrt(aggregate(transform(cv, x -> cast(x as double) "
               "* cast(x as double)), cast(0 as double), "
               "(acc, x) -> acc + x))").alias("n")).collect()
    lam = df.select(
        F.aggregate(F.zip_with("cv", "v", lambda a, b: a * b),
                    F.lit(0).cast("long"), lambda acc, x: acc + x)
        .alias("s"),
        F.aggregate(F.transform("v", lambda x: x * x),
                    F.lit(0).cast("long"), lambda a, x: a + x).alias("vv"),
        F.aggregate(F.zip_with("cv", "v",
                               lambda x, y: x.cast("double")
                               * y.cast("double")),
                    F.lit(0.0), lambda acc, x: acc + x).alias("dot"),
        F.sqrt(F.aggregate(F.transform("cv", lambda x: x.cast("double")
                                       * x.cast("double")),
                           F.lit(0.0), lambda acc, x: acc + x))
        .alias("n")).collect()
    for rp, rl in zip(parsed, lam):
        assert rp["s"] == rl["s"] and rp["vv"] == rl["vv"]
        assert rp["dot"] == rl["dot"] and rp["n"] == rl["n"]


# ---------------------------------------------------------------------------
# job groups: every job an entry launches carries the caller's job group
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("name", ["cc_release_audit", "cc_ingest_delta",
                                  "dd_minhash_pr_sampled"])
def test_pool_jobs_inherit_job_group(spark, name):
    from conftest import SF01
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    group = f"pool-group-{name}"
    first = dag.nextJobId()
    sc.setJobGroup(group, name)
    try:
        CATALOG[name].build(spark, SF01).toPandas()
    finally:
        sc._jsc.clearJobGroup()
    window = set(range(first, dag.nextJobId()))
    assert window
    assert window <= set(sc.statusTracker().getJobIdsForGroup(group))
