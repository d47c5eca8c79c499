"""Vector similarity search (SURVEY §2.3 R4/R5/R6).

The reference's $vectorSearch (vector_search.py:37-95, metric per
index_manager.py:57-76) becomes:

- one query vector  : broadcast the vector as a literal column; score
  every row JVM-side; exact top-k = TakeOrderedAndProject (no shuffle
  of the corpus, no driver loop).
- many query vectors: broadcast hash join queries x corpus, per-query
  row_number top-k.
- pairwise (R5 self-similarity / near-dup candidates): exact
  cross-join for small n; BucketedRandomProjectionLSH above ~10^7
  vectors (cosine on unit vectors <-> euclidean LSH) — the
  ``numCandidates`` recall knob maps to LSH bucketLength/numHashTables.

Scores are raw cosine (SURVEY §7.0 convention — NOT Atlas' (1+cos)/2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot, euclidean, to_double_array

METRICS = {"cosine": cosine, "dotProduct": dot, "euclidean": euclidean}

def _score(metric: str, a, b):
    fn = METRICS[metric]
    s = fn(a, b)
    # euclidean is a distance: smaller = better; negate so desc sort works
    return -s if metric == "euclidean" else s


def knn_topk(corpus: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             metric: str = "cosine", min_score: float | None = None) -> DataFrame:
    """R4: exact top-k for ONE query vector (vector_search.py:37-95).

    The query is a literal array column — no shuffle, no crossJoin node;
    orderBy+limit compiles to TakeOrderedAndProject.  Deterministic
    tiebreak on the id column.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # r15 factoring (guide §1.2 step 2): materialize the double-cast
    # once (the inline cosine re-evaluated it 3x per row — dot + twice
    # inside the row norm) and precompute the query norm driver-side
    # with the same left-to-right IEEE fold + sqrt the in-plan
    # norm(q-literal) performed per row (Catalyst cannot constant-fold
    # HOF aggregates — they are CodegenFallback).  dot/(sqrt(selfdot)
    # * qnorm) is the same double ops in the same order as cosine();
    # bit-identical, pinned by tests/test_catalog_r15.py.
    ecol = F.col("__e")
    scored = corpus.withColumn("__e", to_double_array(F.col(vec_col)))
    if metric == "cosine":
        import math
        acc = 0.0
        for x in query_vec:
            acc += float(x) * float(x)
        scored = (scored
                  .withColumn("__d", dot(ecol, q))
                  .withColumn("__s", dot(ecol, ecol))
                  .withColumn("score", F.col("__d")
                              / (F.sqrt("__s") * F.lit(math.sqrt(acc))))
                  .drop("__d", "__s"))
    else:
        scored = scored.withColumn("score", _score(metric, ecol, q))
    scored = scored.drop("__e")
    if min_score is not None:
        scored = scored.filter(F.col("score") >= min_score)   # T5
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
             q_vec: str = "embedding", q_id: str = "query_id",
             c_vec: str = "embedding", c_id: str = "vec_id",
             metric: str = "cosine") -> DataFrame:
    """R4 batched: broadcast the (small) query set against the corpus,
    per-query top-k via row_number.  One shuffle on query_id only."""
    q = queries.select(F.col(q_id).alias("query_id"),
                       to_double_array(F.col(q_vec)).alias("__qv"))
    c = corpus.select(F.col(c_id).alias("result_id"),
                      to_double_array(F.col(c_vec)).alias("__cv"))
    scored = (c.crossJoin(F.broadcast(q))
               .withColumn("score", _score(metric, F.col("__cv"), F.col("__qv")))
               .drop("__qv", "__cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("result_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def fit_centroids(corpus: DataFrame, n_lists: int = 16,
                  vec_col: str = "embedding") -> DataFrame:
    """Seeded KMeans centroid table (cell_id, centroid) — the one-off
    offline fit every IVF path shares; at ingest this is part of
    ivf_build_store and amortized across all queries."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.withColumn(
        "__features", array_to_vector(to_double_array(F.col(vec_col))))
    km = KMeans(k=n_lists, seed=42, featuresCol="__features",
                predictionCol="__cell")
    model = km.fit(feats)
    cents = [(i, [float(x) for x in c])
             for i, c in enumerate(model.clusterCenters())]
    return corpus.sparkSession.createDataFrame(
        cents, ["cell_id", "centroid"])


def _cell_struct_col(vcol):
    """Array of (squared-distance, cell_id) structs for a pre-projected
    double-array column ``vcol`` against the 1-row packed centroid
    frame (_packed_centroids: columns ``cell_ids``/``cents``):
    array_min is the nearest cell (struct comparison is field-order —
    distance then id, ties -> lowest id) and a sorted slice is the
    probe set.  ONE transform loop per row over the n_lists cells,
    with ``vcol`` a bound attribute (the array cast happens once in
    the projection that produced it) — measured 5.4x faster than the
    per-centroid literal-tree form (whose 64 unrolled aggregate
    sub-expressions force the whole row projection interpreted AND
    re-inline the cast per centroid) and 1.7x faster than the
    assign_cells join+groupBy shape at the 10x tier."""
    return F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            F.aggregate(F.zip_with(vcol, c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            F.element_at(F.col("cell_ids"), i + 1).alias("c")))


def _packed_centroids(cent_df: DataFrame) -> tuple[DataFrame, int]:
    """The (cell_id, centroid) table packed into ONE broadcastable row
    (cell_ids array<int>, cents array<array<double>>), ids ascending —
    n_lists x dim doubles, metadata scale at any realistic list count
    (1024 lists x 64 dims = 512 KB).  Returns (frame, centroid dim);
    mixed-dim tables raise (zip_with would pad with silent nulls)."""
    crows = sorted((int(r["cell_id"]), [float(x) for x in r["centroid"]])
                   for r in cent_df.collect())
    dims = {len(c) for _, c in crows}
    if len(dims) != 1:
        raise ValueError(f"centroids have mixed dims {sorted(dims)}")
    frame = cent_df.sparkSession.createDataFrame(
        [([cid for cid, _ in crows], [c for _, c in crows])],
        "cell_ids array<int>, cents array<array<double>>")
    return frame, dims.pop()


def ivf_knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
                 n_lists: int = 16, n_probe: int = 4,
                 q_vec: str = "embedding", q_id: str = "query_id",
                 c_vec: str = "embedding", c_id: str = "vec_id",
                 metric: str = "cosine",
                 centroids: DataFrame | None = None,
                 probe_side: str = "broadcast") -> DataFrame:
    """R4 batched AT SCALE: the IVF form of ``knn_join``.  knn_join's
    crossJoin reads every (query, corpus-row) pair — fine for a
    broadcastable query set, quadratic wall-clock once the query batch
    grows.  Here both sides meet on an EQUI-join instead: the corpus
    is assigned to KMeans cells once (at ingest this is the stored
    partition layout, ivf_build_store), each query explodes to its
    ``n_probe`` nearest cells, and the join key is ``cell`` — every
    query scores n_probe/n_lists of the corpus, not all of it.

    Shuffle ledger at 100 TB (VERDICT r10 #1 — this function's
    constant factor was why no stress row showed IVF beating exact):
    BOTH the corpus cell assignment and the per-query probe selection
    are single-pass projections against the 1-row PACKED centroid
    frame (a broadcast of n_lists x dim doubles — one transform loop
    per row, the array cast bound once), so the whole plan is ONE
    hash exchange per side on ``cell`` (zero for the corpus if the
    store is already cell-partitioned) plus the per-query top-k
    window.  The previous shape paid four extra exchanges for the
    same rows: an n x n_lists crossJoin + groupBy + join-back for
    assignment, and a crossJoin + per-query window for probe
    selection.  Measured at the 10x tier (200k corpus, 64 lists,
    100 queries): 2.5 s vs 4.3 s (join shape) vs 13.6 s (unrolled
    per-centroid literal tree, which forces the projection
    interpreted).

    ``probe_side`` picks the cell-join strategy for the exploded
    query side.  "broadcast" (default): the probe set ships whole to
    every task and the join is a BroadcastHashJoin — the right call
    whenever the query batch is batch-sized (measured 4.2x faster at
    1x and 1.9x at 10x than the planner's fallback, which is a
    sort-merge join on the n_lists-ary ``cell`` key: without a stage
    boundary AQE never sees the probe side's size, plans SMJ, and
    sorting the candidate set into a handful of key groups is both
    the sort bill and a skew trap).  "shuffle": the hash-exchange
    form for the one case broadcast cannot serve — an all-corpus
    query set on a real cluster (the kNN-graph build at 1e9 vectors),
    where the corpus side is the cell-partitioned store (zero
    exchange) and cell cardinality has grown ~sqrt(n), so the shuffle
    is wide-keyed and skew-free at exactly the scale that needs it.

    Recall knob is n_probe, exactly like the single-query IVF path;
    gate: r4_ivf_join_recall.  ``centroids`` accepts a precomputed
    (cell_id, centroid) table — the stored-layout path that skips the
    one-off KMeans fit (fit_centroids / ivf_build_store).  Output is
    byte-identical across probe_side and to the r10 join shape (same
    distance arithmetic, same (distance, cell_id) tiebreaks — pinned
    in tests)."""
    cent_df = centroids if centroids is not None \
        else fit_centroids(corpus, n_lists, vec_col=c_vec)
    cent_row, _ = _packed_centroids(cent_df)

    cpre = corpus.select(F.col(c_id).alias("result_id"),
                         to_double_array(F.col(c_vec)).alias("__cv"))
    c = (cpre.join(F.broadcast(cent_row))
         .select("result_id", "__cv",
                 F.array_min(_cell_struct_col(F.col("__cv")))["c"]
                  .alias("cell")))
    qpre = queries.select(F.col(q_id).alias("query_id"),
                          to_double_array(F.col(q_vec)).alias("__qv"))
    probes = (qpre.join(F.broadcast(cent_row))
              .select("query_id", "__qv",
                      F.explode(F.transform(
                          F.slice(F.array_sort(
                              _cell_struct_col(F.col("__qv"))),
                              1, n_probe),
                          lambda s: s["c"])).alias("cell")))
    if probe_side == "broadcast":
        probes = F.broadcast(probes)
    elif probe_side != "shuffle":
        raise ValueError("probe_side must be broadcast|shuffle")
    scored = (c.join(probes, "cell")
              .withColumn("score",
                          _score(metric, F.col("__cv"), F.col("__qv")))
              .drop("__qv", "__cv", "cell"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col("result_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def self_similar(corpus: DataFrame, query_id, k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 exclude_same_doc: str | None = None,
                 metric: str = "cosine") -> DataFrame:
    """R5: rows similar to one existing row, excluding itself
    (vector_search.py:488-533 anti-predicates)."""
    target = corpus.filter(F.col(id_col) == query_id) \
                   .select(to_double_array(F.col(vec_col)).alias("__qv"))
    out = (corpus.filter(F.col(id_col) != query_id)
                 .crossJoin(F.broadcast(target))
                 .withColumn("score", _score(metric, to_double_array(F.col(vec_col)),
                                             F.col("__qv")))
                 .drop("__qv"))
    if exclude_same_doc is not None:
        out = out.filter(F.col("doc_id") != exclude_same_doc)
    return out.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def pairwise_similar(corpus: DataFrame, threshold: float,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     metric: str = "cosine") -> DataFrame:
    """R5 pairwise: all pairs (a < b) above a similarity threshold —
    the exact near-dup candidate generator.  O(n^2/2): fine to ~10^5
    rows; above that use ``lsh_similar_pairs``."""
    from ..functions.vector import norm
    if metric == "cosine":
        # hoist per-row norms out of the O(n^2) loop: one dot per pair
        # instead of three.  dot/(na*nb) is bit-identical to cosine()
        # (same double ops, just factored), so the oracle still matches.
        a = corpus.select(F.col(id_col).alias("id_a"),
                          to_double_array(F.col(vec_col)).alias("__va")) \
                  .withColumn("__na", norm(F.col("__va")))
        b = corpus.select(F.col(id_col).alias("id_b"),
                          to_double_array(F.col(vec_col)).alias("__vb")) \
                  .withColumn("__nb", norm(F.col("__vb")))
        score = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    else:
        a = corpus.select(F.col(id_col).alias("id_a"),
                          to_double_array(F.col(vec_col)).alias("__va"))
        b = corpus.select(F.col(id_col).alias("id_b"),
                          to_double_array(F.col(vec_col)).alias("__vb"))
        score = _score(metric, F.col("__va"), F.col("__vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
             .withColumn("score", score)
             .filter(F.col("score") >= threshold)
             .select("id_a", "id_b", F.round("score", 6).alias("score")))


def ivf_topk(corpus: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_lists: int = 16, n_probe: int = 4,
             centroids: DataFrame | None = None) -> DataFrame:
    """R4 approximate at scale: IVF (inverted-file) search.

    Offline: partition the corpus into ``n_lists`` Voronoi cells around
    KMeans centroids (seeded -> deterministic).  Online: score the
    query against the centroids only, probe the ``n_probe`` nearest
    cells, and run exact top-k inside them — scanning n_probe/n_lists
    of the corpus instead of all of it.  ``n_probe`` is the recall knob
    (the reference's numCandidates analog, vector_search.py:67).

    At 100 TB the cell assignment is computed once at ingest and the
    corpus is PARTITIONED BY cell on disk, so a probe prunes whole
    files; here assignment happens inline.  ``centroids`` accepts a
    precomputed (cell_id, centroid) frame to skip training.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # carry ALL corpus columns through (content/attributes included):
    # downstream engine strategies filter and project on them, and
    # knn_topk preserves its input columns — the ivf path must too.
    feats = corpus.withColumn(
        "__features", array_to_vector(to_double_array(F.col(vec_col))))
    if centroids is None:
        km = KMeans(k=n_lists, seed=42, featuresCol="__features",
                    predictionCol="__cell")
        model = km.fit(feats)
        assigned = model.transform(feats)
        centroids = [(i, [float(x) for x in c])
                     for i, c in enumerate(model.clusterCenters())]
        cent_df = corpus.sparkSession.createDataFrame(
            centroids, ["cell_id", "centroid"])
    else:
        cent_df = centroids
        # assignment against the 1-row PACKED centroid broadcast: one
        # transform loop per row over the n_lists cells, the features
        # array a bound attribute — the measured-fastest shape (see
        # _cell_struct_col; the per-centroid literal-tree and the
        # crossJoin+groupBy forms are both strictly slower).  The
        # packing collect doubles as the mixed-dim guard; the query
        # dim must match the centroid dim for the search to mean
        # anything, so this driver-side check covers the corpus too
        # WITHOUT launching a per-query sampling job (the online path
        # stays job-free until the actual probe scan).
        cent_row, cent_dim = _packed_centroids(cent_df)
        if cent_dim != len(query_vec):
            raise ValueError(
                f"centroid dim {cent_dim} != query dim "
                f"{len(query_vec)}")
        v = vector_to_array(F.col("__features"))
        assigned = (feats.join(F.broadcast(cent_row))
                    .withColumn("__cell",
                                F.array_min(_cell_struct_col(v))["c"])
                    .drop("cell_ids", "cents"))

    # probe selection is centroid-count work (n_lists rows) — driver-side
    probe_cells = _probe_cells(cent_df, query_vec, n_probe)
    probed = assigned.filter(F.col("__cell").isin(probe_cells)) \
                     .drop("__features", "__cell")
    return knn_topk(probed, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def _probe_cells(cent_df: DataFrame, query_vec: list[float],
                 n_probe: int) -> list[int]:
    """Nearest n_probe cell ids for a query — centroid-count work
    (n_lists rows), evaluated driver-side."""
    q = [float(x) for x in query_vec]
    return [
        r["cell_id"] for r in
        (cent_df.withColumn(
            "__d",
            F.aggregate(F.zip_with(F.col("centroid"),
                                   F.array(*[F.lit(x) for x in q]),
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x))
         .orderBy("__d", "cell_id").limit(n_probe).collect())
    ]


def adaptive_probe_cells(cent_df: DataFrame, query_vec: list[float],
                         floor: int = 1, mass_target: float = 0.95,
                         cap: int | None = None) -> list[int]:
    """Adaptive multi-probe (VERDICT r7 #2 — lift the fixed-n_probe
    recall ceiling): probe cells nearest-first until the cumulative
    QUERY-TO-CENTROID MASS share passes ``mass_target``, where a
    cell's mass is the inverse of its squared centroid distance —
    an ambiguous query sitting between cells spreads its mass and
    automatically probes wider; a query deep inside one cell
    concentrates its mass and stops early.  ``floor``/``cap`` bound
    the probe count on both sides.  Deterministic (distance then
    cell_id ordering); centroid-count work evaluated driver-side,
    exactly like _probe_cells."""
    import numpy as np
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    rows = cent_df.collect()
    ds = sorted(
        (float(((np.asarray(r["centroid"], dtype=np.float64) - q) ** 2)
               .sum()), int(r["cell_id"]))
        for r in rows)
    ws = [1.0 / max(d, 1e-12) for d, _ in ds]
    tot = sum(ws)
    cells: list[int] = []
    cum = 0.0
    for (_, cid), w in zip(ds, ws):
        cells.append(cid)
        cum += w / tot
        if len(cells) >= floor and cum >= mass_target:
            break
        if cap is not None and len(cells) >= cap:
            break
    return cells


def ivf_build_store(corpus: DataFrame, path: str, n_lists: int = 16,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """R4 at 100 TB, offline half: materialize the corpus PARTITIONED
    BY IVF cell so online probes prune whole directories — the layout
    ``ivf_topk``'s docstring promises.  KMeans (seeded) trains the
    cells; the store is ``{path}/data/cell=N/*.parquet`` plus an
    ``{path}/centroids`` table read back at query time.

    At scale this is the ingest job: one KMeans fit on a sample, one
    assign pass, one partitioned write.  Re-cluster only when drift
    degrades probe recall."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.withColumn(
        "__features", array_to_vector(to_double_array(F.col(vec_col))))
    km = KMeans(k=n_lists, seed=42, featuresCol="__features",
                predictionCol="cell")
    model = km.fit(feats)
    assigned = model.transform(feats).drop("__features")
    assigned.write.mode("overwrite").partitionBy("cell") \
        .parquet(f"{path}/data")
    cents = [(i, [float(x) for x in c])
             for i, c in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    spark.createDataFrame(cents, ["cell_id", "centroid"]) \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # build-time drift baseline: the overall mean squared distance of
    # the freshly-fit store (KMeans inertia / n).  ivf_maybe_rebuild
    # compares the live store against THIS number — appends that push
    # the live mean past ratio*baseline trigger a refit.
    base = (ivf_store_drift(spark, path, vec_col=vec_col)
            .filter(F.col("cell_id").isNull()).collect()[0])
    spark.createDataFrame(
        [(int(n_lists), float(base["mean_sq_dist"]), int(base["n_rows"]))],
        ["n_lists", "baseline_mean_sq_dist", "n_rows"]) \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def ivf_search_store(spark, path: str, query_vec: list[float], k: int = 10,
                     n_probe: int = 4, vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     mass_target: float | None = None,
                     n_probe_max: int | None = None) -> DataFrame:
    """R4 at 100 TB, online half: probe the ``n_probe`` nearest cells
    of an ``ivf_build_store`` layout.  The ``cell IN (...)`` predicate
    is a PARTITION filter — pruned directories are never opened
    (asserted in tests/test_similarity.py), so the scan cost is
    n_probe/n_lists of the corpus regardless of corpus size.

    With ``mass_target`` set, the probe count becomes ADAPTIVE
    (adaptive_probe_cells): ``n_probe`` is the floor, ``n_probe_max``
    the cap — ambiguous queries probe wider automatically."""
    cent_df = spark.read.parquet(f"{path}/centroids")
    if mass_target is not None:
        cells = adaptive_probe_cells(cent_df, query_vec, floor=n_probe,
                                     mass_target=mass_target,
                                     cap=n_probe_max)
    else:
        cells = _probe_cells(cent_df, query_vec, n_probe)
    data = spark.read.parquet(f"{path}/data") \
        .filter(F.col("cell").isin(cells))
    return knn_topk(data.drop("cell"), query_vec, k=k,
                    vec_col=vec_col, id_col=id_col)


def _sqdist_to_centroid(vec_col: str):
    """Squared euclidean distance between ``vec_col`` (array) and the
    joined ``centroid`` column — the shared assignment expression."""
    return F.aggregate(
        F.zip_with(to_double_array(F.col(vec_col)),
                   F.col("centroid").cast("array<double>"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def assign_cells(rows: DataFrame, cent_df: DataFrame,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Assign each row to its nearest centroid WITHOUT refitting:
    broadcast the n_lists-row centroid table, crossJoin, min-struct agg
    per id (ties -> lowest cell_id).  Adds ``cell`` and ``cell_dist``
    (squared distance) columns; input columns preserved."""
    best = (rows.select(F.col(id_col), F.col(vec_col))
            .crossJoin(F.broadcast(cent_df))
            .withColumn("__d", _sqdist_to_centroid(vec_col))
            .groupBy(id_col)
            .agg(F.min(F.struct(F.col("__d").alias("d"),
                                F.col("cell_id").alias("c"))).alias("__m"))
            .select(F.col(id_col), F.col("__m.c").alias("cell"),
                    F.col("__m.d").alias("cell_dist")))
    return rows.join(best, id_col)


def ivf_append_store(new_rows: DataFrame, path: str,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> None:
    """Incremental ingest for an ``ivf_build_store`` layout: assign new
    rows to the EXISTING centroids (no refit — one broadcast join, no
    KMeans pass) and append them into the partitioned data directory.
    Searches prune exactly as before; appended rows are found through
    the cell their vector lands in.

    At 100 TB this is the steady-state ingest path — refitting per
    batch would rewrite the whole layout.  Appends degrade the
    clustering as the corpus drifts away from the original centroids;
    monitor ``ivf_store_drift`` and rebuild (``ivf_build_store``) when
    the mean assigned distance trends up."""
    spark = new_rows.sparkSession
    cent_df = spark.read.parquet(f"{path}/centroids")
    # align the vector element type with the store: parquet appends
    # with a different physical type (float vs double) poison every
    # later scan of that partition directory.
    stored = dict(spark.read.parquet(f"{path}/data").dtypes)[vec_col]
    if dict(new_rows.dtypes).get(vec_col) != stored:
        new_rows = new_rows.withColumn(vec_col,
                                       F.col(vec_col).cast(stored))
    assigned = assign_cells(new_rows, cent_df, vec_col, id_col) \
        .drop("cell_dist")
    assigned.write.mode("append").partitionBy("cell") \
        .parquet(f"{path}/data")


def ivf_store_drift(spark, path: str,
                    vec_col: str = "embedding") -> DataFrame:
    """Refit signal for an IVF store: per-cell row count and mean
    squared distance to the assigned centroid (KMeans inertia per
    cell), plus an ALL row (cell_id null) for the overall mean.  A
    rising overall mean across appends — or one cell ballooning —
    means the centroids no longer describe the corpus: rebuild.

    One scan of the store + a broadcast join of the n_lists-row
    centroid table; no KMeans, no collect beyond the caller's."""
    cent_df = spark.read.parquet(f"{path}/centroids")
    data = spark.read.parquet(f"{path}/data")
    per_row = (data.join(F.broadcast(cent_df),
                         data.cell == cent_df.cell_id)
               .withColumn("__d", _sqdist_to_centroid(vec_col)))
    per_cell = (per_row.groupBy("cell_id")
                .agg(F.count("*").alias("n_rows"),
                     F.avg("__d").alias("mean_sq_dist")))
    overall = (per_row.agg(F.count("*").alias("n_rows"),
                           F.avg("__d").alias("mean_sq_dist"))
               .select(F.lit(None).cast("long").alias("cell_id"),
                       "n_rows", "mean_sq_dist"))
    return per_cell.unionByName(overall)


def ivf_maybe_rebuild(spark, path: str, ratio: float = 1.5,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> bool:
    """Close the drift loop: compare the live store's overall mean
    squared distance (``ivf_store_drift``) against the build-time
    baseline recorded in ``{path}/meta``; when it exceeds
    ``ratio * baseline`` — appended rows no longer described by the
    original centroids, which silently tanks probe recall — refit the
    store on its CURRENT contents and reset the baseline.  Returns
    True iff a rebuild happened.

    The rebuild reads the old ``data`` layout while writing a complete
    new store under ``{path}/_next`` (no read/overwrite overlap), then
    swaps the three directories in.  At 100 TB the swap becomes a
    version-pointer flip (build store/v{n+1}, update a manifest, GC
    v{n}); the drift check itself is one pruned scan + an n_lists-row
    broadcast, cheap enough to run after every append batch."""
    import os
    import shutil

    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    live = (ivf_store_drift(spark, path, vec_col=vec_col)
            .filter(F.col("cell_id").isNull()).collect()[0]["mean_sq_dist"])
    if live <= ratio * meta["baseline_mean_sq_dist"]:
        return False
    src = spark.read.parquet(f"{path}/data").drop("cell")
    nxt = f"{path}/_next"
    ivf_build_store(src, nxt, n_lists=int(meta["n_lists"]),
                    vec_col=vec_col, id_col=id_col)
    for sub in ("data", "centroids", "meta"):
        shutil.rmtree(os.path.join(path, sub))
        shutil.move(os.path.join(nxt, sub), os.path.join(path, sub))
    shutil.rmtree(nxt, ignore_errors=True)
    return True


def lsh_similar_pairs(corpus: DataFrame, threshold: float,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      bucket_length: float = 0.5,
                      num_hash_tables: int = 4) -> DataFrame:
    """R5 at scale: BucketedRandomProjectionLSH approxSimilarityJoin on
    L2-normalized vectors.  cos(a,b) >= t  <=>  ||a-b|| <= sqrt(2-2t)
    on the unit sphere, so the cosine threshold maps exactly to a
    euclidean radius.  Candidate recall is tuned by numHashTables (the
    ``numCandidates`` analog, vector_search.py:67)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT  # noqa: F401  (plan sanity)

    from ..functions.vector import l2_normalize

    dist = float((2.0 - 2.0 * threshold) ** 0.5)
    feats = corpus.select(
        F.col(id_col),
        array_to_vector(l2_normalize(to_double_array(F.col(vec_col)))).alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, dist, distCol="dist")
    return (joined
            .select(F.col(f"datasetA.{id_col}").alias("id_a"),
                    F.col(f"datasetB.{id_col}").alias("id_b"),
                    (1.0 - F.col("dist") * F.col("dist") / 2.0).alias("score"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round("score", 6).alias("score")))


def sq_bounds(corpus: DataFrame, vec_col: str = "embedding") -> tuple:
    """Per-dimension (lo, hi) bounds for 8-bit scalar quantization:
    one posexplode + groupBy(pos) pass — dim rows collected (metadata
    scale, like the IVF centroid table)."""
    rows = (corpus.select(F.posexplode(to_double_array(F.col(vec_col)))
                          .alias("pos", "v"))
            .groupBy("pos").agg(F.min("v").alias("lo"),
                                F.max("v").alias("hi"))
            .orderBy("pos").collect())
    return ([float(r["lo"]) for r in rows], [float(r["hi"]) for r in rows])


def sq_encode(corpus: DataFrame, los: list, his: list,
              vec_col: str = "embedding",
              code_col: str = "codes") -> DataFrame:
    """8-bit scalar quantization: code_i = round((x_i - lo_i) /
    (hi_i - lo_i) * 255), clamped.  A 64-dim float64 vector becomes 64
    small ints — at 100 TB the quantized table is what scans read
    (4-8x narrower), with originals kept only for rescoring.  Pure
    column expressions; constant-dim bound arrays are literals."""
    lo = F.array(*[F.lit(v) for v in los])
    span = F.array(*[F.lit(max(h - l, 1e-12)) for l, h in zip(los, his)])
    vec = to_double_array(F.col(vec_col))
    codes = F.transform(
        vec, lambda x, i: F.least(
            F.lit(255),
            F.greatest(F.lit(0), F.round(
                (x - F.element_at(lo, i + 1))
                / F.element_at(span, i + 1) * 255).cast("int"))))
    return corpus.withColumn(code_col, codes)


def sq_topk(encoded: DataFrame, corpus: DataFrame, query_vec: list[float],
            los: list, his: list, k: int = 10, rescore: int = 4,
            vec_col: str = "embedding", id_col: str = "vec_id",
            code_col: str = "codes") -> DataFrame:
    """Approximate top-k over the quantized table with exact rescoring:
    decode codes to cell midpoints, cosine against the query, take
    k*rescore candidates (TakeOrderedAndProject over the NARROW
    table), then join the originals back for the k*rescore rows only
    and rank by exact score.  The full-width vectors are touched for
    k*rescore rows regardless of corpus size."""
    lo = F.array(*[F.lit(v) for v in los])
    span = F.array(*[F.lit(max(h - l, 1e-12)) for l, h in zip(los, his)])
    decoded = F.transform(
        F.col(code_col),
        lambda c, i: F.element_at(lo, i + 1)
        + c.cast("double") / 255.0 * F.element_at(span, i + 1))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cand = (encoded
            .withColumn("__approx", _score("cosine", decoded, q))
            .orderBy(F.desc("__approx"), F.col(id_col))
            .limit(k * rescore)
            .select(id_col, "__approx"))
    exact = corpus.join(F.broadcast(cand), id_col) \
        .withColumn("score",
                    _score("cosine", to_double_array(F.col(vec_col)), q))
    return (exact.orderBy(F.desc("score"), F.col(id_col)).limit(k)
                 .drop("__approx"))
