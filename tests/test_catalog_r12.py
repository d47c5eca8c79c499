"""Round-12 entries: the delta P/R scoreboard, the gated approx
histogram (plus its pure-approx plan pin), the streaming MinHash
band-index ingest (parity + checkpoint resume), the composed ingest
capstone (stage-vs-standalone cross-checks, bloom scoping pin), and
scene-granular multimodal dedup."""

from __future__ import annotations

import pyspark.sql.functions as F

from production_grade_rag_spark.plans.catalog import CATALOG

from conftest import SF001


def _rows(spark, name):
    return CATALOG[name].build(spark, SF001).collect()


# ---------------------------------------------------------------------------
# dd_minhash_delta_pr (VERDICT r11 #1)
# ---------------------------------------------------------------------------

def test_delta_pr_monotonicity(spark):
    """m=2 is a strict tightening of m=1: candidates and true
    positives can only shrink, recall can only drop, precision can
    only rise; the exact denominator is shared."""
    rows = {r["min_band_overlap"]: r
            for r in _rows(spark, "dd_minhash_delta_pr")}
    m1, m2 = rows[1], rows[2]
    assert m2["n_candidates"] <= m1["n_candidates"]
    assert m2["n_true_pos"] <= m1["n_true_pos"]
    assert m2["recall"] <= m1["recall"]
    assert m2["precision"] >= m1["precision"]
    assert m1["n_exact"] == m2["n_exact"] > 0


def test_delta_pr_m1_equals_delta_entry_universe(spark):
    """At m=1 and verify threshold 0.8 the candidate pipeline is
    exactly dd_minhash_delta — its true-positive count must equal
    that entry's row count."""
    rows = {r["min_band_overlap"]: r
            for r in _rows(spark, "dd_minhash_delta_pr")}
    n_delta = len(_rows(spark, "dd_minhash_delta"))
    assert rows[1]["n_true_pos"] == n_delta


def test_min_band_overlap_batch_operator_tightens(spark):
    """The batch operator's min_band_overlap behaves identically:
    m=2 pairs are a subset of m=1 pairs."""
    from production_grade_rag_spark.operators.dedup import \
        minhash_dedup_pairs
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    p1 = {(r["id_a"], r["id_b"]) for r in
          minhash_dedup_pairs(docs, threshold=0.0).collect()}
    p2 = {(r["id_a"], r["id_b"]) for r in
          minhash_dedup_pairs(docs, threshold=0.0,
                              min_band_overlap=2).collect()}
    assert p2 <= p1 and len(p1) > 0


def test_delta_self_pair_guard(spark):
    """A re-ingested id present in both sides must not emit a
    self-pair (ADVICE r11) and the result must still equal the
    disjoint-side run on the same pair universe."""
    from production_grade_rag_spark.operators.dedup import \
        minhash_delta_pairs
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    # poison the delta with a copy of a base doc (same id, same text)
    dup = base.limit(1)
    poisoned = delta.unionByName(dup)
    got = minhash_delta_pairs(base, poisoned).collect()
    assert all(r["id_a"] != r["id_b"] for r in got)


# ---------------------------------------------------------------------------
# a29_equidepth_approx (VERDICT r11 #5)
# ---------------------------------------------------------------------------

def test_a29_approx_gate_holds(spark):
    rows = _rows(spark, "a29_equidepth_approx")
    assert len(rows) == 8
    assert all(r["approx_ok"] for r in rows)


def test_a29_exact_columns_match_exact_entry(spark):
    exact = {r["bucket"]: (r["lo_cents"], r["hi_cents"], r["n_rows"])
             for r in _rows(spark, "a29_equidepth_histogram")}
    both = {r["bucket"]: (r["lo_cents"], r["hi_cents"], r["n_rows"])
            for r in _rows(spark, "a29_equidepth_approx")}
    assert both == exact


def test_a29_pure_approx_compiles_no_exact_percentile(spark):
    """The 100 TB form must carry only the GK sketch: after removing
    approx_percentile tokens, no percentile aggregate may remain in
    the optimized plan."""
    from production_grade_rag_spark.plans.catalog_r12 import _a29_hist_r12
    df = _a29_hist_r12(spark, SF001, mode="approx")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan
    stripped = plan.replace("percentile_approx", "")
    assert "percentile" not in stripped
    # and it still produces the 8-bucket histogram with full coverage
    rows = df.collect()
    assert len(rows) == 8
    assert sum(r["n_rows"] for r in rows) > 0


# ---------------------------------------------------------------------------
# st_minhash_ingest (VERDICT r11 #3)
# ---------------------------------------------------------------------------

def test_st_minhash_ingest_matches_batch(spark):
    """Two out-of-order tranches through the versioned band registry
    must reproduce batch dd_minhash_lsh exactly."""
    st = {(r["id_a"], r["id_b"], r["jaccard"])
          for r in _rows(spark, "st_minhash_ingest")}
    bt = {(r["id_a"], r["id_b"], r["jaccard"])
          for r in _rows(spark, "dd_minhash_lsh")}
    assert st == bt and len(st) > 0


def test_st_minhash_checkpoint_resume(spark, tmp_path):
    """With a persistent checkpoint, a re-drain over the same dump
    must not re-merge already-processed batches: the registry version
    chain and contents stay identical (the replay-idempotence pin)."""
    import json

    from production_grade_rag_spark.operators.dedup import (
        minhash_band_table, minhash_signatures)
    from production_grade_rag_spark.sources.tables import (
        fold_version, list_versions, read_version)
    from production_grade_rag_spark.streaming import pipeline as sp

    docs = spark.read.parquet(f"{SF001}/documents.parquet").limit(40)
    dump = str(tmp_path / "dump")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    (docs.select(F.to_json(F.struct(
        F.col("doc_id").cast("string").alias("page_id"),
        F.col("text").alias("title"), "lang", "n_chars")).alias("value"))
     .repartition(2).write.text(dump))

    def drain():
        def merge(batch_df, epoch_id):
            bd = (batch_df.filter(~F.col("malformed"))
                  .select(F.col("page_id").cast("long").alias("doc_id"),
                          F.col("title").alias("text")))
            inc = minhash_band_table(minhash_signatures(bd))
            fold_version(batch_df.sparkSession, store, epoch_id, inc,
                         lambda p, i: p.unionByName(i).distinct())

        sp._run_foreach(sp.paged_stream(spark, dump), merge, ckpt)

    drain()
    v1 = list_versions(spark, store)
    rows1 = sorted(map(tuple, read_version(spark, store).collect()))
    drain()  # same checkpoint, no new input -> nothing re-merges
    assert list_versions(spark, store) == v1
    assert sorted(map(tuple, read_version(spark, store).collect())) == rows1
    json.dumps({"versions": v1})  # the chain is a serializable ledger


# ---------------------------------------------------------------------------
# cc_ingest_delta (VERDICT r11 #4)
# ---------------------------------------------------------------------------

def test_ingest_stages_match_standalone_operators(spark):
    """Each funnel stage must equal its standalone operator: the gate
    count is cc_gate_keyed on the odd half, exact_new is the PLAIN
    (unscoped) anti-join — i.e. the bloom scoping changed no answer,
    only the join's input volume — and batch_keeper is one row per
    distinct fresh hash."""
    from production_grade_rag_spark.plans.catalog_r6 import cc_gate_keyed
    stages = {r["stage"]: r["docs"]
              for r in _rows(spark, "cc_ingest_delta")}
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    g_store = cc_gate_keyed(docs.filter(F.col("doc_id") % 2 == 0))
    g_batch = cc_gate_keyed(docs.filter(F.col("doc_id") % 2 == 1))
    assert stages["raw"] == docs.filter(F.col("doc_id") % 2 == 1).count()
    assert stages["gated"] == g_batch.count()
    plain_fresh = g_batch.join(g_store.select("content_hash").distinct(),
                               "content_hash", "left_anti")
    assert stages["exact_new"] == plain_fresh.count()
    assert stages["batch_keeper"] == \
        plain_fresh.select("content_hash").distinct().count()
    assert stages["committed"] == stages["neardup_new"]
    # the funnel is monotone
    order = ["raw", "gated", "exact_new", "batch_keeper",
             "neardup_new", "committed"]
    vals = [stages[s] for s in order]
    assert vals == sorted(vals, reverse=True)


def test_ingest_bloom_has_no_false_negatives(spark):
    """The scoping invariant the funnel relies on: every TRUE store
    member among the batch hashes must hit the bloom (misses can skip
    the anti-join only because this holds)."""
    from production_grade_rag_spark.operators.dedup import md5_int32
    from production_grade_rag_spark.plans.catalog_r6 import cc_gate_keyed
    from production_grade_rag_spark.plans.catalog_r12 import (
        _ING_BF_BITS, _ING_BF_K)
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    g_store = cc_gate_keyed(docs.filter(F.col("doc_id") % 2 == 0))
    g_batch = cc_gate_keyed(docs.filter(F.col("doc_id") % 2 == 1))
    jcol = F.explode(F.array(*[F.lit(j) for j in range(_ING_BF_K)])) \
        .alias("j")

    def positions(df):
        return (df.select("content_hash", jcol)
                .withColumn("p", F.pmod(
                    md5_int32(F.concat(F.col("content_hash"),
                                       F.lit(":bf"),
                                       F.col("j").cast("string"))),
                    F.lit(_ING_BF_BITS)))
                .withColumn("bitval", F.expr(
                    "shiftleft(cast(1 as bigint), cast(p % 32 as int))")))

    store_h = g_store.select("content_hash").distinct()
    words = (positions(store_h)
             .groupBy(F.expr("p div 32").alias("word"))
             .agg(F.expr("bit_or(bitval)").alias("wbits")))
    probe = (positions(g_batch.select("content_hash").distinct())
             .withColumn("word", F.expr("p div 32"))
             .join(F.broadcast(words), "word", "left")
             .withColumn("hit", F.coalesce(
                 (F.col("wbits").bitwiseAND(F.col("bitval")) != 0),
                 F.lit(False)))
             .groupBy("content_hash")
             .agg(F.expr("bool_and(hit)").alias("bloom_hit")))
    members = probe.join(store_h, "content_hash", "left_semi")
    assert members.filter(~F.col("bloom_hit")).count() == 0


# ---------------------------------------------------------------------------
# mm_scene_dedup (VERDICT r11 #7)
# ---------------------------------------------------------------------------

def test_scene_dedup_pairs_are_cross_video_and_verified(spark):
    rows = _rows(spark, "mm_scene_dedup")
    assert len(rows) > 0
    assert all(r["doc_a"] < r["doc_b"] for r in rows)
    assert all(r["hamming"] <= 1 for r in rows)


def test_scene_dedup_scene_ids_come_from_scene_table(spark):
    """Every (doc, scene) key the dedup emits must exist in the
    mm_scene_table manifest — the composition is over the same
    election."""
    scenes = {(r["doc_id"], r["scene_id"])
              for r in _rows(spark, "mm_scene_table")}
    pairs = _rows(spark, "mm_scene_dedup")
    keys = ({(r["doc_a"], r["scene_a"]) for r in pairs}
            | {(r["doc_b"], r["scene_b"]) for r in pairs})
    assert keys <= scenes

# ---------------------------------------------------------------------------
# mm_scene_components
# ---------------------------------------------------------------------------

def test_scene_components_cover_manifest_and_respect_pairs(spark):
    """Every manifest scene gets a label; every dedup pair's two ends
    share a component; every label is a member's own node id (min)."""
    comp = {(r["doc_id"], r["scene_id"]): r["component"]
            for r in _rows(spark, "mm_scene_components")}
    scenes = {(r["doc_id"], r["scene_id"])
              for r in _rows(spark, "mm_scene_table")}
    assert set(comp) == scenes
    nodes = {d * 100 + s for d, s in scenes}
    assert set(comp.values()) <= nodes
    assert all(c <= d * 100 + s for (d, s), c in comp.items())
    for r in _rows(spark, "mm_scene_dedup"):
        assert comp[(r["doc_a"], r["scene_a"])] == \
            comp[(r["doc_b"], r["scene_b"])]


# ---------------------------------------------------------------------------
# g13_ktruss
# ---------------------------------------------------------------------------

def test_ktruss_trajectory_monotone_and_anchored(spark):
    """Round 0 must equal the g6 census (same edge store, same
    triangle count); peeling shrinks edges and triangles monotonically
    and never below zero."""
    rows = sorted(_rows(spark, "g13_ktruss"), key=lambda r: r["round"])
    census = _rows(spark, "g6_triangle_census")[0]
    assert rows[0]["n_edges"] == census["n_edges"]
    assert rows[0]["n_triangles"] == census["n_triangles"]
    edges = [r["n_edges"] for r in rows]
    tris = [r["n_triangles"] for r in rows]
    assert edges == sorted(edges, reverse=True)
    assert tris == sorted(tris, reverse=True)
    assert edges[-1] >= 0 and tris[-1] >= 0


# ---------------------------------------------------------------------------
# ir6_bootstrap_ci
# ---------------------------------------------------------------------------

def test_ir6_internal_consistency(spark):
    """CI brackets the point estimate's direction consistently: lo <=
    hi, the significance flag matches the bracket, frac_positive is a
    share, and the point mean equals ir5's mean_ndcg_delta."""
    row = _rows(spark, "ir6_bootstrap_ci")[0]
    assert row["boot_ci_lo"] <= row["boot_ci_hi"]
    assert row["significant"] == (row["boot_ci_lo"] > 0
                                  or row["boot_ci_hi"] < 0)
    assert 0.0 <= row["frac_positive"] <= 1.0
    assert row["n_replicas"] == 200
    ir5 = _rows(spark, "ir5_sign_test")[0]
    assert row["n_queries"] == ir5["n_queries"]
    assert abs(row["mean_delta"] - ir5["mean_ndcg_delta"]) < 2e-6


# ---------------------------------------------------------------------------
# dq9_embedding_drift
# ---------------------------------------------------------------------------

def test_dq9_swap_symmetry_and_self_null(spark):
    """The card is symmetric under swapping ref/cur (L2 and cosine
    unchanged, variance ratio inverts) and null on a self-vs-self
    split; variances are positive on real data."""
    row = _rows(spark, "dq9_embedding_drift")[0]
    assert row["n_ref"] > 0 and row["n_cur"] > 0
    assert row["var_ref"] > 0 and row["var_cur"] > 0
    assert -1.0 <= row["centroid_cos"] <= 1.0
    assert row["centroid_l2"] >= 0
    assert abs(row["var_ratio"]
               - row["var_cur"] / row["var_ref"]) < 1e-4

# ---------------------------------------------------------------------------
# g14_modularity
# ---------------------------------------------------------------------------

def test_g14_modularity_bounds_and_inputs(spark):
    """Q is in [-0.5, 1]; node/edge counts are consistent with the g5
    labeling and the shared edge store."""
    row = _rows(spark, "g14_modularity")[0]
    assert -0.5 <= row["modularity"] <= 1.0
    labels = _rows(spark, "g5_label_prop")
    n_labeled = sum(1 for r in labels if r["label_pred"] != -1)
    assert row["n_nodes"] == n_labeled
    assert 1 <= row["n_communities"] <= row["n_nodes"]
    census = _rows(spark, "g6_triangle_census")[0]
    assert row["n_edges"] <= census["n_edges"]


# ---------------------------------------------------------------------------
# q_rfm_segments
# ---------------------------------------------------------------------------

def test_rfm_segments_partition_customers(spark):
    """Every purchasing customer lands in exactly one segment; scores
    stay in 1..4; segment member counts sum to the customer count."""
    rows = _rows(spark, "q_rfm_segments")
    orders = spark.read.parquet(f"{SF001}/orders.parquet")
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["r_score"] <= 4
        assert 1 <= r["f_score"] <= 4
        assert 1 <= r["m_score"] <= 4
        assert r["avg_frequency"] >= 1.0


# ---------------------------------------------------------------------------
# st_drift_monitor
# ---------------------------------------------------------------------------

def test_st_drift_monitor_equals_batch_card(spark):
    """Two checkpointed tranches of pre-quantized vectors through the
    moment-sum store must reproduce the batch drift card exactly."""
    st = _rows(spark, "st_drift_monitor")[0].asDict()
    bt = _rows(spark, "dq9_embedding_drift")[0].asDict()
    assert st == bt

# ---------------------------------------------------------------------------
# dq10_ewma_chart
# ---------------------------------------------------------------------------

def test_ewma_chart_smooths_and_flags_exactly(spark):
    """z is a convex combination of observed rates (stays inside the
    running min/max envelope); day 0's EWMA equals its own rate; the
    ooc flag reproduces the exact integer comparison."""
    rows = sorted(_rows(spark, "dq10_ewma_chart"),
                  key=lambda r: r["day"])
    assert len(rows) >= 10
    assert rows[0]["ewma_q"] == int(round(rows[0]["rate"] * 1000000))
    tot_e = sum(r["n_errors"] for r in rows)
    tot_n = sum(r["n_events"] for r in rows)
    pbar_q = (2 * tot_e * 1000000 + tot_n) // (2 * tot_n)
    lo = hi = rows[0]["ewma_q"]
    for r in rows:
        xq = int(round(r["rate"] * 1000000))
        lo, hi = min(lo, xq), max(hi, xq)
        assert lo - 1 <= r["ewma_q"] <= hi + 1
        expect = ((r["ewma_q"] - pbar_q) ** 2 * r["n_events"]
                  > pbar_q * (1000000 - pbar_q))
        assert r["ooc"] == expect

# ---------------------------------------------------------------------------
# ta_goodturing
# ---------------------------------------------------------------------------

def test_goodturing_identities(spark):
    """The unseen-mass row equals N1/N on the grid; class masses are
    r*N_r/N; the adjusted count r* discounts singletons below 1 when
    N2 < 2*N1 (the standard GT discount direction)."""
    rows = {r["r"]: r for r in _rows(spark, "ta_goodturing")}
    assert sorted(rows) == list(range(11))
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    from production_grade_rag_spark.operators.dedup import tokens
    import pyspark.sql.functions as FF
    tri = FF.expr(
        "CASE WHEN size(__a) >= 3 THEN transform("
        "sequence(1, size(__a) - 2), i -> concat("
        "element_at(__a, i), ' ', element_at(__a, i + 1), ' ',"
        " element_at(__a, i + 2))) ELSE array() END")
    tc = (docs.select(tokens(FF.col("text")).alias("__a"))
          .select(FF.explode(tri).alias("t"))
          .groupBy("t").count())
    n_tokens = tc.agg(FF.sum("count")).first()[0]
    n1 = tc.filter(FF.col("count") == 1).count()
    assert rows[0]["mass_q"] == (n1 * 1000000) // n_tokens
    assert rows[1]["n_r"] == n1
    for r in range(1, 11):
        assert rows[r]["mass_q"] == \
            (r * rows[r]["n_r"] * 1000000) // n_tokens
    if rows[1]["n_r"] > 0 and rows[2]["n_r"] < 2 * rows[1]["n_r"]:
        assert rows[1]["r_star_q"] < 1000000
