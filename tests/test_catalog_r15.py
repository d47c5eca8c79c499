"""Round-15 pins: VERDICT r14 #1 (hot-shingle guard on the inverted-
index exact-Jaccard join), #2 (band planner consumed), #5 (OPQ
decision card), and the four ADVICE r14 hardening items (rotation
metadata, NaN-safe geometry probe, epoch-idempotent stream stores).
"""
from __future__ import annotations

import math

import pytest

from tests.conftest import SF01  # noqa: F401

SF001 = "/root/testdata/sf0.001"


def _docs(spark, d=SF001):
    from production_grade_rag_spark.sources import load_table
    return load_table(spark, d, "documents").select("doc_id", "text")


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["jaccard"])
                  for r in df.collect())


# ---------------------------------------------------------------------------
# VERDICT r14 #1: the guarded (collapse + prefix-filter) index join is
# a plan change, not a semantics change — equal to both the unguarded
# index form and the nested loop, including on a corpus with exact-dup
# groups (the expansion paths: intra-clique at jaccard 1.0, cross
# pairs inheriting the representatives' jaccard).
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_guarded_equals_unguarded_with_dup_groups(spark, threshold):
    from production_grade_rag_spark.operators.dedup import (
        ngram_jaccard_pairs, ngram_jaccard_pairs_index)
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = []
    for i in range(6):          # clique A: 6 identical docs
        rows.append((i, base))
    for i in range(6, 9):       # clique B: 3 identical docs, near A
        rows.append((i, base + " bank"))
    for i in range(9, 14):      # distinct tail
        rows.append((i, f"wholly distinct document number {i} with "
                        f"unique words alpha{i} beta{i} gamma{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _pairs(ngram_jaccard_pairs(docs, threshold=threshold))
    got = _pairs(ngram_jaccard_pairs_index(docs, threshold=threshold))
    got_plain = _pairs(ngram_jaccard_pairs_index(
        docs, threshold=threshold, prefix_filter=False))
    assert got == want
    assert got_plain == want
    # non-vacuous: the cliques must actually pair (15 + 3 intra pairs)
    assert len(want) >= 18


def test_guarded_handles_boilerplate_megacluster(spark):
    """The adversarial shape VERDICT r14 #4 names: one big identical-
    text clique.  The guard must return the exact answer (the clique's
    own C(n,2) pairs at jaccard 1.0 plus cross pairs) — enumeration
    collapses to one representative, output stays exact."""
    from pyspark.sql import functions as F
    from production_grade_rag_spark.operators.dedup import \
        ngram_jaccard_pairs_index
    template = " ".join(f"boilerplate{i} clause{i % 7}"
                        for i in range(30))
    n_clique = 60
    docs = spark.range(0, n_clique + 20).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_clique, F.lit(template))
         .otherwise(F.concat(F.lit("unique text piece number "),
                             F.col("id").cast("string"),
                             F.lit(" with its own rare tokens "),
                             F.md5(F.col("id").cast("string"))))
        .alias("text"))
    out = ngram_jaccard_pairs_index(docs, threshold=0.8).collect()
    intra = [r for r in out if r["id_a"] < n_clique
             and r["id_b"] < n_clique]
    assert len(intra) == n_clique * (n_clique - 1) // 2
    assert all(r["jaccard"] == 1.0 for r in intra)
    assert len(out) == len(intra)   # distinct tail pairs with nothing


# ---------------------------------------------------------------------------
# VERDICT r14 #2: the band planner's recommendation is CONSUMED —
# recommended_bands replays the S-curve, equals the dd_band_plan
# card's flagged row for both documented widths, and
# minhash_dedup_pairs(num_bands=None) resolves through it.
# ---------------------------------------------------------------------------

def test_recommended_bands_matches_planner_card(spark):
    from production_grade_rag_spark.operators.dedup import \
        recommended_bands
    from production_grade_rag_spark.plans.catalog import CATALOG
    card = CATALOG["dd_band_plan"].build(spark, SF001).collect()
    flagged = {r["num_hashes"]: r["num_bands"]
               for r in card if r["recommended"]}
    assert flagged == {16: recommended_bands(16),
                       128: recommended_bands(128)}
    assert recommended_bands(16) == 8      # the 16/4 default is below
    with pytest.raises(ValueError, match="no divisor banding"):
        recommended_bands(2, threshold=0.1)


def test_minhash_planned_resolves_to_recommended(spark):
    from production_grade_rag_spark.operators.dedup import \
        minhash_dedup_pairs
    docs = _docs(spark)
    planned = _pairs(minhash_dedup_pairs(docs, num_bands=None))
    explicit = _pairs(minhash_dedup_pairs(docs, num_bands=8))
    assert planned == explicit


# ---------------------------------------------------------------------------
# VERDICT r14 #5: the OPQ decision card — honest FALSE on per-dim-
# independent geometry, TRUE on the correlated-spectrum shape.
# ---------------------------------------------------------------------------

def test_opq_gain_card_hash_corpus_says_dont_rotate(spark):
    from production_grade_rag_spark.plans.catalog import CATALOG
    row = CATALOG["r4_opq_gain"].build(spark, SF001).collect()[0]
    assert row["errs_positive"]
    assert row["opq_not_worse"]
    assert not row["rotation_pays"]


def test_opq_gain_card_pays_on_correlated(spark):
    import hashlib

    import numpy as np
    from production_grade_rag_spark.operators.pq import opq_gain_report
    dim, n = 16, 512
    raw = np.asarray(
        [[(int(hashlib.md5(f"t:{i}:{j}".encode()).hexdigest()[:8], 16)
           / 0xFFFFFFFF * 2 - 1) for j in range(dim)]
         for i in range(n)])
    M = np.asarray(
        [[(int(hashlib.md5(f"q:{i}:{j}".encode()).hexdigest()[:8], 16)
           / 0xFFFFFFFF * 2 - 1) for j in range(dim)]
         for i in range(dim)])
    Q, _ = np.linalg.qr(M)
    X = (raw * np.power(np.arange(1, dim + 1, dtype=float), -0.75)) @ Q
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    row = opq_gain_report(df, m=4, k_codes=8, sample=n,
                          pays_ratio=1.2).collect()[0]
    assert row["err_ratio"] > 1.2
    assert row["rotation_pays"]
    assert row["opq_not_worse"]


# ---------------------------------------------------------------------------
# ADVICE r14: rotation is store METADATA — an in-place rebuild with
# rotate toggled off must not apply the stale rotation; legacy stores
# without a meta table still work through the Spark-read fallback.
# ---------------------------------------------------------------------------

@pytest.mark.fulltier  # driver-window tier (VERDICT r15 #1): heaviest pins, unrelated to r16 changes
def test_ivfpq_rebuild_rotate_off_ignores_stale_rotation(spark):
    import shutil

    from production_grade_rag_spark.operators import pq
    from production_grade_rag_spark.plans.oracle_vec import QUERY_VEC
    from production_grade_rag_spark.session import scratch
    from production_grade_rag_spark.sources import load_table
    emb = load_table(spark, SF001, "embeddings")
    toggled = scratch("r15_opq_toggle")
    fresh = scratch("r15_opq_fresh")
    pq.ivfpq_build_store(emb, toggled, n_lists=4, m=8, k_codes=8,
                         rotate=True)
    rotated = [tuple(r) for r in pq.ivfpq_search_store(
        spark, toggled, QUERY_VEC, k=5, n_probe=2).collect()]
    # rebuild IN PLACE with rotate=False: {path}/rotation survives on
    # disk, but meta now says unrotated — search must match a fresh
    # plain store exactly
    pq.ivfpq_build_store(emb, toggled, n_lists=4, m=8, k_codes=8,
                         rotate=False)
    import os
    assert os.path.exists(f"{toggled}/rotation")   # the stale dir IS there
    pq.ivfpq_build_store(emb, fresh, n_lists=4, m=8, k_codes=8,
                         rotate=False)
    got = [tuple(r) for r in pq.ivfpq_search_store(
        spark, toggled, QUERY_VEC, k=5, n_probe=2).collect()]
    want = [tuple(r) for r in pq.ivfpq_search_store(
        spark, fresh, QUERY_VEC, k=5, n_probe=2).collect()]
    assert got == want
    # legacy-store fallback: drop meta from a ROTATED store — search
    # must still find and apply the rotation via the Spark read
    pq.ivfpq_build_store(emb, toggled, n_lists=4, m=8, k_codes=8,
                         rotate=True)
    shutil.rmtree(f"{toggled}/meta")
    legacy = [tuple(r) for r in pq.ivfpq_search_store(
        spark, toggled, QUERY_VEC, k=5, n_probe=2).collect()]
    assert legacy == rotated


# ---------------------------------------------------------------------------
# ADVICE r14: a zero-norm vector in the anisotropy chain reads as "no
# signal" (conservative default), never a NaN crash in the build path.
# ---------------------------------------------------------------------------

def test_measured_anisotropy_nan_guard(spark):
    from production_grade_rag_spark.operators.knn_graph import (
        measured_anisotropy, probe_bits)
    assert probe_bits(float("nan")) == 1
    rows = [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]), (3, [0.0] * 4)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    a = measured_anisotropy(df, 4, max_pairs=4)
    assert a == 0.0 and not math.isnan(a)


# ---------------------------------------------------------------------------
# ADVICE r14: epoch-idempotent versioned stream stores — a replayed
# micro-batch (crash between store writes and checkpoint commit)
# cannot fold its delta twice, and a partially-applied replay merges
# each store against the right prior.
# ---------------------------------------------------------------------------

def test_epoch_write_replay_is_idempotent(spark, tmp_path):
    import os

    from pyspark.sql import functions as F
    from production_grade_rag_spark.sources.tables import (fold_version,
                                                           list_versions)
    store = str(tmp_path / "qi_store")

    def fold(epoch_id, inc_rows):
        inc = spark.createDataFrame(inc_rows, "k string, n long")
        fold_version(spark, store, epoch_id, inc,
                     lambda p, i: (p.unionByName(i).groupBy("k")
                                   .agg(F.sum("n").cast("long").alias("n"))))

    def state():
        from production_grade_rag_spark.sources.tables import read_version
        return sorted(tuple(r) for r in
                      read_version(spark, store).collect())

    fold(0, [("a", 1)])
    fold(1, [("a", 2), ("b", 5)])
    assert state() == [("a", 3), ("b", 5)]
    assert list_versions(spark, store) == [1, 2]
    # full replay of epoch 1 (checkpoint commit was lost): the
    # committed v=2 snapshot is skipped — no double fold
    fold(1, [("a", 2), ("b", 5)])
    assert state() == [("a", 3), ("b", 5)]
    assert list_versions(spark, store) == [1, 2]
    # torn write (crash mid-snapshot): _SUCCESS missing -> the replay
    # REWRITES v=2 in place from the v=1 prior, same result
    os.remove(f"{store}/v=2/_SUCCESS")
    fold(1, [("a", 2), ("b", 5)])
    assert state() == [("a", 3), ("b", 5)]
    assert list_versions(spark, store) == [1, 2]


# ---------------------------------------------------------------------------
# r15 optimization pins: the factored query-cosine (materialized cast,
# driver-side query norm) is BIT-identical to the inline
# cosine(to_double_array(embedding), qvec) it replaced — every corpus
# row, packed-double comparison, on the knn_topk operator path (the
# frame helper's pin is in tests/test_retrieval.py).
# ---------------------------------------------------------------------------

def test_knn_topk_factored_bit_identical(spark):
    import struct

    from pyspark.sql import functions as F

    from production_grade_rag_spark.functions.vector import (cosine,
                                                             to_double_array)
    from production_grade_rag_spark.operators.similarity import knn_topk
    from production_grade_rag_spark.plans import oracle_vec as OV
    from production_grade_rag_spark.sources import load_table

    emb = load_table(spark, SF001, "embeddings")
    q = F.array(*[F.lit(float(x)) for x in OV.QUERY_VEC])
    inline = (emb.withColumn("score", cosine(
        to_double_array(F.col("embedding")), q))
        .orderBy(F.desc("score"), F.col("vec_id")).limit(20)
        .select("vec_id", "score").collect())
    got = (knn_topk(emb, OV.QUERY_VEC, k=20)
           .select("vec_id", "score").collect())
    assert [r["vec_id"] for r in inline] == [r["vec_id"] for r in got]
    for a, b in zip(inline, got):
        assert struct.pack("<d", a["score"]) == struct.pack("<d", b["score"])


# ---------------------------------------------------------------------------
# r15 session 2: the PPR frontier loop must equal the old dense loop
# (full-node left join per hop) row for row, including on a graph
# where the seed has no in-edges and where truncation zeroes small
# contributions.
# ---------------------------------------------------------------------------

def test_ppr_frontier_equals_dense_loop(spark):
    from pyspark.sql import functions as F

    import production_grade_rag_spark.plans.catalog  # noqa: F401 (registration order)
    from production_grade_rag_spark.plans.catalog_r10 import (
        _PPR_ITERS, _PPR_SEED, _PPR_TOP, _ppr_rank)

    import random
    rng = random.Random(11)
    n = 60
    emb = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    edges = []
    for src in range(n):
        for dst in rng.sample([j for j in range(n) if j != src], 5):
            edges.append((src, dst))
    nb = spark.createDataFrame(edges, "src long, dst long")

    # the pre-r15 dense loop, verbatim
    r = emb.select("vec_id",
                   F.when(F.col("vec_id") == _PPR_SEED, F.lit(1000000))
                    .otherwise(F.lit(0)).cast("long").alias("r"))
    for _ in range(_PPR_ITERS):
        contrib = (nb.join(r.withColumnRenamed("vec_id", "src"), "src")
                   .groupBy(F.col("dst").alias("vec_id"))
                   .agg(F.sum(F.expr("(17 * r) div 100")).cast("long")
                        .alias("m")))
        r = (emb.select("vec_id").join(contrib, "vec_id", "left")
             .select("vec_id",
                     (F.when(F.col("vec_id") == _PPR_SEED,
                             F.lit(150000)).otherwise(F.lit(0))
                      + F.coalesce("m", F.lit(0))).cast("long")
                     .alias("r")))
    want = [(row["vec_id"], row["ppr_scaled"]) for row in
            (r.filter(F.col("r") > 0)
             .orderBy(F.desc("r"), "vec_id").limit(_PPR_TOP)
             .select("vec_id", F.col("r").alias("ppr_scaled")).collect())]
    got = [(row["vec_id"], row["ppr_scaled"]) for row in
           _ppr_rank(emb, nb).collect()]
    assert got == want
    assert len(got) > 0


def test_ppr_frontier_seed_without_in_edges(spark):
    from pyspark.sql import functions as F  # noqa: F401

    import production_grade_rag_spark.plans.catalog  # noqa: F401 (registration order)
    from production_grade_rag_spark.plans.catalog_r10 import (
        _PPR_SEED, _ppr_rank)

    emb = spark.createDataFrame([(i,) for i in range(6)], "vec_id long")
    # seed 0 points out, nothing points back at it
    nb = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 1)],
        "src long, dst long")
    got = {row["vec_id"]: row["ppr_scaled"]
           for row in _ppr_rank(emb, nb).collect()}
    # the seed keeps its restart mass every iteration
    assert got[_PPR_SEED] == 150000
