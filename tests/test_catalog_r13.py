"""Round-13 pins: the two r12 verdict nits (#4a delta-dedup bucket
double-count, #4b scene node-packing stride) plus the r13 additions.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF01  # noqa: F401  (shared SF constants)

SF001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# VERDICT r12 #5 / task 4a: a re-ingested id (present in base AND
# delta) meets its pair partner in the SAME band bucket through the
# cross leg and the within leg; min_band_overlap must count DISTINCT
# buckets, not candidate rows, or m is effectively halved for exactly
# those pairs.
# ---------------------------------------------------------------------------

# Text pair measured to share EXACTLY ONE band bucket at width 16/4
# (found by exhaustive search over single-word swaps; the test asserts
# the count so a hash/width change can't silently make it vacuous).
_TXT_A = ("the quick brown blue jumps over lazy dog while rain falls "
          "on green hills near old stone bridge today")
_TXT_B = ("the quick brown blue jumps over lazy dog river rain falls "
          "on green hills near old stone bridge today")


def _one_bucket_pair_frames(spark):
    base = spark.createDataFrame([(1, _TXT_A)], "doc_id long, text string")
    delta = spark.createDataFrame([(1, _TXT_A), (2, _TXT_B)],
                                  "doc_id long, text string")
    return base, delta


def test_one_bucket_precondition(spark):
    """The chosen texts share exactly one band bucket at width 16/4 —
    the scenario the double-count bug needs (1 distinct bucket, 2
    candidate rows across the legs)."""
    from production_grade_rag_spark.operators.dedup import (
        minhash_band_table, minhash_signatures)
    df = spark.createDataFrame([(1, _TXT_A), (2, _TXT_B)],
                               "doc_id long, text string")
    b = minhash_band_table(minhash_signatures(df), "doc_id", 16, 4)
    shared = (b.filter("doc_id = 1").select("band", "band_hash")
              .join(b.filter("doc_id = 2").select("band", "band_hash"),
                    ["band", "band_hash"])
              .distinct().count())
    assert shared == 1


def test_delta_overlap_no_double_count(spark):
    """Partial re-ingest: id 1 lives in the base corpus AND the delta.
    Its pair with id 2 shares ONE distinct bucket, reached through
    both legs — at min_band_overlap=2 the pair must be filtered (the
    pre-fix row count saw 2 rows and passed it through)."""
    from production_grade_rag_spark.operators.dedup import \
        minhash_delta_pairs
    base, delta = _one_bucket_pair_frames(spark)
    kw = dict(threshold=0.0, num_hashes=16, num_bands=4)
    at_m1 = minhash_delta_pairs(base, delta, min_band_overlap=1,
                                **kw).collect()
    assert [(r["id_a"], r["id_b"]) for r in at_m1] == [(1, 2)]
    at_m2 = minhash_delta_pairs(base, delta, min_band_overlap=2,
                                **kw).collect()
    assert at_m2 == []


def test_delta_overlap_matches_batch(spark):
    """With an overlapping id set, the delta operator must still equal
    the batch operator on the deduplicated union at the SAME m (the
    invariant the docstring claims for disjoint splits, extended)."""
    from production_grade_rag_spark.operators.dedup import (
        minhash_dedup_pairs, minhash_delta_pairs)
    docs = _t_docs(spark).limit(40)
    base = docs.filter("doc_id % 3 != 0")
    delta = docs.filter("doc_id % 2 = 0")   # overlaps base on 6k+2/6k+4
    union = base.unionByName(delta).dropDuplicates(["doc_id"])
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    for m in (1, 2):
        got = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_delta_pairs(
                base, delta, threshold=0.5, min_band_overlap=m).collect())
        want = sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in minhash_dedup_pairs(
                union, threshold=0.5, min_band_overlap=m).collect()
            if r["id_a"] in delta_ids or r["id_b"] in delta_ids)
        assert got == want, f"m={m}"


def _t_docs(spark):
    from production_grade_rag_spark.sources import load_table
    return load_table(spark, SF001, "documents").select("doc_id", "text")


# ---------------------------------------------------------------------------
# VERDICT r12 #4b: scene node packing must survive scene_id >= 100
# (the r12 stride).  Pins the widened stride end to end through the
# component operator: pack -> propagate -> unpack roundtrips.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# VERDICT r12 #5: the widened release-audit card's r13 rows equal
# their standalone entries (the r11 cross-check discipline extended).
# ---------------------------------------------------------------------------

def _card(spark):
    from production_grade_rag_spark.plans.catalog import CATALOG
    return {r["audit"]: r for r in
            CATALOG["cc_release_audit"].build(spark, SF01).collect()}


def test_audit_has_seven_rows(spark):
    assert sorted(_card(spark)) == [
        "embedding_drift", "error_rate_ewma", "isotropy",
        "kanonymity_risk", "minhash_lsh_recall", "order_clumping",
        "quality_length_bias"]


def test_audit_drift_row_matches_dq9(spark):
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.plans.catalog_r12 import (
        _DQ9_L2_MAX, _DQ9_VR_HI, _DQ9_VR_LO)
    row = _card(spark)["embedding_drift"]
    dq9 = CATALOG["dq9_embedding_drift"].build(spark, SF01).collect()[0]
    assert row["value_q"] == dq9["centroid_l2"]
    assert row["flag_ok"] == (
        dq9["centroid_l2"] <= _DQ9_L2_MAX
        and _DQ9_VR_LO <= dq9["var_ratio"] <= _DQ9_VR_HI)
    assert row["flag_ok"]   # parity splits of one corpus: no drift


def test_audit_ewma_row_matches_dq10(spark):
    from production_grade_rag_spark.plans.catalog import CATALOG
    row = _card(spark)["error_rate_ewma"]
    days = CATALOG["dq10_ewma_chart"].build(spark, SF01).collect()
    last = max(days, key=lambda r: r["day"])
    assert row["value_q"] == last["ewma"]
    assert row["flag_ok"] == (not any(r["ooc"] for r in days))


def test_audit_minhash_row_matches_stratum_standalone(spark):
    """The card's recall row == independent arithmetic on the SAME
    derived-modulus md5 stratum, with the exact denominator computed
    through the NESTED-LOOP form (ngram_jaccard_pairs) — so this also
    pins the inverted-index join the card uses against the original
    exact enumeration."""
    from pyspark.sql import functions as F
    from production_grade_rag_spark.operators.dedup import (
        md5_int32, minhash_dedup_pairs, ngram_jaccard_pairs)
    from production_grade_rag_spark.plans.catalog_r11 import (
        _AUDIT_MH_RECALL_MIN, audit_stratum_mod)
    from production_grade_rag_spark.sources import load_table
    row = _card(spark)["minhash_lsh_recall"]
    docs = load_table(spark, SF01, "documents").select("doc_id", "text")
    mod = audit_stratum_mod(docs.count())
    strat = docs.filter(
        F.pmod(md5_int32(F.concat(F.lit("pr:"),
                                  F.col("doc_id").cast("string"))),
               F.lit(mod)) == 0)
    tp = (minhash_dedup_pairs(strat, threshold=0.0)
          .filter(F.col("jaccard") >= 0.8).count())
    nex = ngram_jaccard_pairs(strat, threshold=0.8).count()
    assert nex > 0   # the stratum is non-vacuous at sf0.01
    assert row["value_q"] == round(tp / max(nex, 1), 6)
    assert row["flag_ok"] == (row["value_q"] >= _AUDIT_MH_RECALL_MIN
                              or nex == 0)


# ---------------------------------------------------------------------------
# VERDICT r12 #7: the ingest publish stage is gated by the SAME dq9
# card the standalone entry publishes, on the same split.
# ---------------------------------------------------------------------------

def test_ingest_publish_gated_by_drift(spark):
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.plans.catalog_r12 import (
        _DQ9_L2_MAX, _DQ9_VR_HI, _DQ9_VR_LO)
    stages = {r["stage"]: r for r in
              CATALOG["cc_ingest_delta"].build(spark, SF01).collect()}
    assert stages["published"]["stage_no"] == 6
    dq9 = CATALOG["dq9_embedding_drift"].build(spark, SF01).collect()[0]
    ok = (dq9["centroid_l2"] <= _DQ9_L2_MAX
          and _DQ9_VR_LO <= dq9["var_ratio"] <= _DQ9_VR_HI)
    want = stages["committed"]["docs"] if ok else 0
    assert stages["published"]["docs"] == want
    assert ok   # this corpus is stable: the batch ships


def test_scene_stride_survives_100_scenes(spark):
    from production_grade_rag_spark.operators import dedup
    from production_grade_rag_spark.plans.catalog_r12 import _SCENE_STRIDE

    assert _SCENE_STRIDE >= 1_000_000
    # two videos sharing a near-dup scene at scene_id 150 (> the old
    # stride of 100): under 100-packing doc 7 scene 150 collides with
    # doc 8 scene 50's node key and the labeling corrupts
    scenes = [(7, 150), (7, 3), (8, 150), (8, 50)]
    hsh = spark.createDataFrame(scenes, "doc_id long, scene_id long")
    pack = (F.col("doc_id") * _SCENE_STRIDE + F.col("scene_id"))
    nodes = hsh.select(pack.alias("node"))
    pairs = spark.createDataFrame(
        [(7 * _SCENE_STRIDE + 150, 8 * _SCENE_STRIDE + 150)],
        "id_a long, id_b long")
    comp = dedup.connected_components(pairs, nodes, id_col="node")
    out = {(r["node"] // _SCENE_STRIDE, r["node"] % _SCENE_STRIDE):
           r["component"] for r in comp.collect()}
    # unpacking recovers every (doc, scene) key distinctly
    assert set(out) == set(scenes)
    # the linked pair shares a component; the others are singletons
    assert out[(7, 150)] == out[(8, 150)] == 7 * _SCENE_STRIDE + 150
    assert out[(7, 3)] == 7 * _SCENE_STRIDE + 3
    assert out[(8, 50)] == 8 * _SCENE_STRIDE + 50


# ---------------------------------------------------------------------------
# Round-13 additions: sampled P/R estimator + bucket-containment card
# ---------------------------------------------------------------------------

def test_pr_sampled_matches_audit_row_and_stratum(spark):
    from pyspark.sql import functions as F
    from production_grade_rag_spark.operators.dedup import md5_int32
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.plans.catalog_r11 import \
        audit_stratum_mod
    from production_grade_rag_spark.sources import load_table
    row = CATALOG["dd_minhash_pr_sampled"].build(spark, SF01).collect()[0]
    docs = load_table(spark, SF01, "documents")
    mod = audit_stratum_mod(docs.count())
    n_strat = docs.filter(
        F.pmod(md5_int32(F.concat(F.lit("pr:"),
                                  F.col("doc_id").cast("string"))),
               F.lit(mod)) == 0).count()
    assert row["n_stratum"] == n_strat
    assert row["n_exact"] > 0          # non-vacuous at sf0.01
    assert row["recall"] == round(row["n_true_pos"]
                                  / max(row["n_exact"], 1), 6)
    assert row["precision"] == round(row["n_true_pos"]
                                     / max(row["n_candidates"], 1), 6)
    # the audit card's recall row IS this estimator's recall
    audit = {r["audit"]: r["value_q"] for r in
             CATALOG["cc_release_audit"].build(spark, SF01).collect()}
    assert audit["minhash_lsh_recall"] == row["recall"]


def test_g15_containment_nested_and_bounded(spark):
    from production_grade_rag_spark.operators.knn_graph import knn_und
    from production_grade_rag_spark.plans.catalog import CATALOG
    rows = {r["bits"]: r for r in
            CATALOG["g15_bucket_containment"].build(spark, SF01).collect()}
    assert sorted(rows) == [2, 4, 8]
    n_edges = knn_und(spark, SF01).count()
    for r in rows.values():
        assert r["n_edges"] == n_edges
        assert 0.0 <= r["containment"] <= 1.0
        assert r["n_buckets"] <= 1 << r["bits"]
    # bucket ids are NESTED (b mod 2^w), so same-bucket at 8 bits
    # implies same-bucket at 4 implies at 2 — containment must be
    # monotone nonincreasing in bits
    assert (rows[2]["n_same_bucket"] >= rows[4]["n_same_bucket"]
            >= rows[8]["n_same_bucket"])


def test_delta_rejects_aliasing_band_width(spark):
    import pytest
    from production_grade_rag_spark.operators.dedup import \
        minhash_delta_pairs
    base, delta = _one_bucket_pair_frames(spark)
    with pytest.raises(ValueError, match="bitmask"):
        minhash_delta_pairs(base, delta, num_hashes=130, num_bands=65)
