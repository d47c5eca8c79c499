"""Property fuzz for the round-10 algorithmic tricks that one-corpus
oracle parity can't generalize:

- dedup.connected_components (Kiveris large/small-star) must label
  ARBITRARY graphs identically to a plain union-find reference —
  the catalog checks it on one kNN graph; the contraction's
  correctness argument is graph-shape-independent and so is this
  test (random edge sets, adversarial chains, self-contained
  components).
- dq7's CUSUM closed form S_t = P_t - min(0, min_{j<=t} P_j) must
  equal the sequential recurrence S_t = max(0, S_{t-1} + y_t) on
  arbitrary integer series — the identity that turned an inherently
  sequential loop into two windows.
- KMV two-phase candidate generation: the k smallest distinct values
  of a multiset must survive per-partition local top-k for ANY
  partitioning (the semilattice fact a30/a31/st_kmv_ingest lean on).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# star contraction vs union-find (needs spark)
# ---------------------------------------------------------------------------

import pytest


@pytest.fixture(scope="module")
def spark():
    from production_grade_rag_spark.session import get_spark
    s = get_spark("test-r10-fuzz", cpus=4, shuffle_partitions=4)
    yield s


EDGES = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=0, max_size=40)


def _union_find(n_ids, edges):
    parent = list(range(n_ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # roots are always the component minimum because union always
    # hangs the larger root under the smaller one
    return {i: find(i) for i in range(n_ids)}


@settings(max_examples=12, deadline=None)
@given(EDGES)
def test_star_contraction_matches_union_find(spark, edges):
    from production_grade_rag_spark.operators.dedup import \
        connected_components
    n_ids = 31
    ref = _union_find(n_ids, edges)
    # raw pairs: either orientation, repeats and self-loops included
    pairs = spark.createDataFrame(edges or [(0, 0)],
                                  "id_a long, id_b long")
    ids = spark.range(0, n_ids).withColumnRenamed("id", "vec_id")
    got = {r["vec_id"]: r["component"]
           for r in connected_components(pairs, ids,
                                         id_col="vec_id").collect()}
    assert got == ref


# ---------------------------------------------------------------------------
# CUSUM closed form vs sequential recurrence (pure python identity,
# then the same series through the Spark windows)
# ---------------------------------------------------------------------------

SERIES = st.lists(st.integers(-1000, 1000), min_size=1, max_size=50)


@settings(max_examples=200, deadline=None)
@given(SERIES)
def test_cusum_closed_form_identity(ys):
    s_seq, s = [], 0
    for y in ys:
        s = max(0, s + y)
        s_seq.append(s)
    p, run_min, s_closed = 0, 0, []
    for y in ys:
        p += y
        run_min = min(run_min, p)
        s_closed.append(p - min(0, run_min))
    assert s_closed == s_seq


@settings(max_examples=8, deadline=None)
@given(SERIES)
def test_cusum_spark_windows_match_recurrence(spark, ys):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    s_seq, s = [], 0
    for y in ys:
        s = max(0, s + y)
        s_seq.append(s)
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], "i long, y long")
    w = W.orderBy("i").rowsBetween(W.unboundedPreceding, W.currentRow)
    out = (df.select("i", F.sum("y").over(w).alias("p"))
           .select("i", (F.col("p")
                         - F.least(F.lit(0), F.min("p").over(w)))
                   .alias("s"))
           .orderBy("i").collect())
    assert [r["s"] for r in out] == s_seq


# ---------------------------------------------------------------------------
# KMV two-phase: per-partition local top-k preserves the global
# k-minimum set under any partitioning
# ---------------------------------------------------------------------------

MULTISET = st.lists(st.integers(0, 10_000), min_size=1, max_size=120)


@settings(max_examples=200, deadline=None)
@given(MULTISET, st.integers(1, 6), st.integers(1, 16))
def test_kmv_local_topk_preserves_global_minima(vals, n_parts, k):
    # arbitrary partitioning by round-robin
    parts = [vals[i::n_parts] for i in range(n_parts)]
    cand = set()
    for p in parts:
        cand.update(sorted(set(p))[:k])
    got = sorted(cand)[:k]
    want = sorted(set(vals))[:k]
    assert got == want
