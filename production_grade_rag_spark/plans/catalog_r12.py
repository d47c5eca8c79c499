"""Round-12 catalog entries.

VERDICT r11 task list: the precision/recall scoreboard for the
incremental dedup's shared-bucket filter (dd_minhash_delta_pr,
VERDICT #1 — the lever that cuts the verify bill, measured not
argued), the streaming MinHash band-index ingest (st_minhash_ingest,
VERDICT #3 — the last stored index without a checkpointed streaming
twin), the composed ingest capstone (cc_ingest_delta, VERDICT #4 —
gates + bloom + exact anti-join + near-dup-vs-index + versioned
commit as ONE ledger), the gated approx equi-depth histogram
(a29_equidepth_approx, VERDICT #5 — the one remaining docstring-only
approx knob compiled), and scene-granular multimodal dedup
(mm_scene_dedup, VERDICT #7).  VERDICT #2 (IVF build linearity
sweep), #6 (bench noise calibration) and #8 (theta state ledger) are
scripts/stress_bench.py / bench.py work.

"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register
from ..session import materialize


# ===========================================================================
# MinHash delta P/R scoreboard — the shared-bucket (min_band_overlap)
# precision lever measured against the exact pair set (VERDICT r11
# #1): at m=1 the candidate set is classic OR-banding; at m=2 the
# collision curve steepens and the verify volume drops.  Recall cost
# is a MEASURED number per operating point, not an S-curve argument.
# ===========================================================================

_DPR_THR = 0.8


def _ddpr_oracle() -> str:
    from . import oracle_vec as OV
    odd = "id_a % 2 = 1 OR id_b % 2 = 1"
    c1 = OV.minhash_pairs_sql(threshold=0.0, min_band_overlap=1)
    c2 = OV.minhash_pairs_sql(threshold=0.0, min_band_overlap=2)
    ex = OV.ngram_pairs_sql(threshold=_DPR_THR)
    return f"""
WITH ex AS (
  SELECT * FROM ({ex}) WHERE {odd}
), c1 AS (
  SELECT * FROM ({c1}) WHERE {odd}
), c2 AS (
  SELECT * FROM ({c2}) WHERE {odd}
), s AS (
  SELECT 1::BIGINT AS min_band_overlap,
         (SELECT count(*) FROM c1)::BIGINT AS n_candidates,
         (SELECT count(*) FROM c1 WHERE jaccard >= {_DPR_THR})::BIGINT
           AS n_true_pos,
         (SELECT count(*) FROM ex)::BIGINT AS n_exact
  UNION ALL
  SELECT 2::BIGINT,
         (SELECT count(*) FROM c2)::BIGINT,
         (SELECT count(*) FROM c2 WHERE jaccard >= {_DPR_THR})::BIGINT,
         (SELECT count(*) FROM ex)::BIGINT
)
SELECT min_band_overlap, n_candidates, n_true_pos, n_exact,
       round(n_true_pos::DOUBLE
             / greatest(n_candidates, 1)::DOUBLE, 6) AS precision,
       round(n_true_pos::DOUBLE / greatest(n_exact, 1)::DOUBLE, 6)
         AS recall
FROM s ORDER BY min_band_overlap
"""


@register("dd_minhash_delta_pr", oracle=_ddpr_oracle())
def dd_minhash_delta_pr(spark: SparkSession, d: str) -> DataFrame:
    """Precision/recall scoreboard for the incremental MinHash path's
    shared-bucket filter (VERDICT r11 #1): the dd_minhash_delta split
    (odd ids arrive as the new batch against the even-id index), run
    at BOTH min_band_overlap operating points — m=1 (any shared band
    bucket is a candidate, classic OR-banding) and m=2 (a pair must
    collide in >= 2 of the 4 bands before the exact-Jaccard verify
    runs).  Per point: candidate count (the verify bill), true
    positives at Jaccard >= 0.8, the exact pair count (the
    dd_minhash_pr audit twin restricted to >= 1 delta member), and
    the derived precision/recall.  Both engines band identically, so
    every number is value-oracled — the m=2 recall loss is a measured
    semantic outcome, exactly the dd_minhash_pr honesty applied to
    the ingest path's knob.

    Why it matters at 100 TB: on near-clique corpora the candidate
    verify dominates the delta ingest (the r11 adversarial tier spent
    ~12 s of 19 verifying a 1.7M-pair clique); the m>=2 filter costs
    one comparison on the ALREADY-aggregated candidate pairs and cuts
    candidates superlinearly where buckets disagree — this scoreboard
    is the evidence for where the knob is safe (at production width
    128/32, r=4 rows per band, a j=0.8 pair expects ~13 of 32 band
    collisions, so m=2 costs ~nothing; at the demo 16/4 width the
    curve is sharper — which is exactly what the measured recall
    column shows).  The stress ledger (minhash_delta_* rows,
    scripts/stress_bench.py) carries the wall-clock side."""
    from ..operators.dedup import (minhash_delta_pairs,
                                   ngram_jaccard_pairs_index)
    docs = _t(spark, d, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    odd = (F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1)
    ex_n = (ngram_jaccard_pairs_index(docs, threshold=_DPR_THR)
            .filter(odd)
            .agg(F.count("*").alias("n_exact")))
    rows = None
    for m in (1, 2):
        allc = minhash_delta_pairs(base, delta, threshold=0.0,
                                   min_band_overlap=m)
        r = (allc.agg(F.count("*").alias("n_candidates"),
                      F.coalesce(
                          F.sum((F.col("jaccard") >= _DPR_THR)
                                .cast("int")), F.lit(0))
                      .cast("long").alias("n_true_pos"))
             .select(F.lit(m).cast("long").alias("min_band_overlap"),
                     "n_candidates", "n_true_pos"))
        rows = r if rows is None else rows.unionByName(r)
    return (rows.crossJoin(F.broadcast(ex_n))
            .select("min_band_overlap", "n_candidates", "n_true_pos",
                    "n_exact",
                    F.round(F.col("n_true_pos").cast("double")
                            / F.greatest("n_candidates", F.lit(1))
                            .cast("double"), 6).alias("precision"),
                    F.round(F.col("n_true_pos").cast("double")
                            / F.greatest("n_exact", F.lit(1))
                            .cast("double"), 6).alias("recall"))
            .orderBy("min_band_overlap"))


# ===========================================================================
# Equi-depth histogram, approx twin (VERDICT r11 #5): GK-sketch
# boundaries (percentile_approx) gated per bucket against the exact
# depths — the s32_analyze_stats_approx pattern applied to the one
# remaining docstring-only approx knob.
# ===========================================================================

_A29A_ACC = 10000          # GK accuracy: rank error <= n / accuracy
_A29A_TOL = 0.25           # per-bucket depth agreement: |Δ| <= 25% of N/B


def _a29_hist_r12(spark: SparkSession, d: str,
                  mode: str = "both") -> DataFrame:
    """Equi-depth histogram with exact and/or GK-approx boundaries.

    mode="both": exact interpolated-percentile boundaries and depths
    (value-oracled — the a29 plan verbatim) PLUS approx boundaries
    from percentile_approx (Greenwald-Khanna, rank error <= n/accuracy)
    computed in the SAME single aggregate, with a per-bucket agreement
    gate: the approx bucket's depth must sit within _A29A_TOL of the
    exact bucket's target depth N/B.

    mode="approx": the pure 100 TB form — NO exact percentile
    compiles anywhere in the plan (pinned in
    tests/test_catalog_r12.py); boundaries and depths are the GK ones.
    Exact percentile is a global sort barrier (every value through
    one ordered path per column); GK carries a bounded-size quantile
    summary that partial-aggregates map-side, so the histogram costs
    one ordinary two-phase scan at any corpus size."""
    from .catalog_r9 import _HIST_BUCKETS as B
    orders = _t(spark, d, "orders")
    v = orders.select(F.round(F.col("o_totalprice") * 100).cast("long")
                      .alias("cents"))
    qs = [i / B for i in range(1, B + 1)]
    aggs = [F.min("cents").alias("mn"),
            F.count("*").cast("long").alias("n_total")]
    if mode == "both":
        aggs += [F.round(F.percentile("cents", F.lit(q))).cast("long")
                 .alias(f"h{i}") for i, q in enumerate(qs, 1)]
    aggs += [F.percentile_approx("cents", F.lit(q), F.lit(_A29A_ACC))
             .cast("long").alias(f"a{i}") for i, q in enumerate(qs, 1)]
    cuts = v.agg(*aggs)
    rows = None
    for i in range(1, B + 1):
        lo = (F.col("mn") - 1) if i == 1 else F.col(f"h{i - 1}")
        alo = (F.col("mn") - 1) if i == 1 else F.col(f"a{i - 1}")
        cols = [F.lit(i).cast("long").alias("bucket"),
                alo.cast("long").alias("alo_cents"),
                F.col(f"a{i}").alias("ahi_cents"),
                F.col("n_total")]
        if mode == "both":
            cols += [lo.cast("long").alias("lo_cents"),
                     F.col(f"h{i}").alias("hi_cents")]
        r = cuts.select(*cols)
        rows = r if rows is None else rows.unionByName(r)
    joined = v.crossJoin(F.broadcast(rows))
    if mode == "approx":
        cnt = (joined
               .filter((F.col("cents") > F.col("alo_cents"))
                       & (F.col("cents") <= F.col("ahi_cents")))
               .groupBy("bucket").agg(F.count("*").alias("n_approx")))
        return (rows.join(cnt, "bucket", "left")
                .select("bucket",
                        F.col("alo_cents").alias("lo_cents"),
                        F.col("ahi_cents").alias("hi_cents"),
                        F.coalesce(F.col("n_approx"), F.lit(0))
                        .cast("long").alias("n_rows"))
                .orderBy("bucket"))
    cnt = (joined
           .groupBy("bucket")
           .agg(F.coalesce(F.sum(
               ((F.col("cents") > F.col("lo_cents"))
                & (F.col("cents") <= F.col("hi_cents"))).cast("int")),
               F.lit(0)).cast("long").alias("n_exact"),
                F.coalesce(F.sum(
                    ((F.col("cents") > F.col("alo_cents"))
                     & (F.col("cents") <= F.col("ahi_cents")))
                    .cast("int")), F.lit(0)).cast("long")
                .alias("n_approx")))
    tol = F.col("n_total").cast("double") / B * _A29A_TOL
    return (rows.join(cnt, "bucket", "left")
            .select("bucket", "lo_cents", "hi_cents",
                    F.coalesce(F.col("n_exact"), F.lit(0)).cast("long")
                    .alias("n_rows"),
                    (F.abs(F.coalesce(F.col("n_approx"), F.lit(0))
                           - F.coalesce(F.col("n_exact"), F.lit(0)))
                     .cast("double") <= tol).alias("approx_ok"))
            .orderBy("bucket"))


def _a29_approx_oracle() -> str:
    from .registry import CATALOG
    base = CATALOG["a29_equidepth_histogram"].oracle
    return (f"SELECT bucket, lo_cents, hi_cents, n_rows, "
            f"TRUE AS approx_ok FROM ({base})")


@register("a29_equidepth_approx", oracle=_a29_approx_oracle)
def a29_equidepth_approx(spark: SparkSession, d: str) -> DataFrame:
    """The GK-sketch knob for the equi-depth histogram, gated
    (VERDICT r11 #5 — a29's docstring promised percentile_approx as
    the 100 TB path; this entry compiles it): exact boundaries and
    depths are value-oracled (DuckDB recomputes the interpolated
    quantiles), and per bucket the approx histogram's depth — the
    count the GK boundaries actually capture — must agree with the
    exact depth within 25% of the target depth N/B.  approx_ok is the
    in-plan audit, per bucket (the s32_analyze_stats_approx pattern).

    Why it matters at 100 TB: exact percentile is a global sort
    barrier; Greenwald-Khanna (percentile_approx, accuracy 10000 →
    rank error <= 0.01% of rows) is a bounded-state mergeable summary
    that partial-aggregates map-side, so boundary computation costs
    one two-phase scan at any scale.  The selectivity consumer (a17's
    Selinger audit) tolerates far more than 25% depth error by
    design.

    The pure-approx form (_a29_hist_r12 mode='approx') compiles NO
    exact percentile anywhere — pinned by plan inspection in
    tests/test_catalog_r12.py."""
    return _a29_hist_r12(spark, d, mode="both")


# ===========================================================================
# Streaming MinHash band-index ingest (VERDICT r11 #3): the band
# index became the stored dedup state in r11 (dd_minhash_delta);
# this maintains it through checkpointed out-of-order tranches —
# the last stored index to get its streaming twin.
# ===========================================================================

def _st_minhash_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
SELECT id_a, id_b, jaccard FROM ({OV.minhash_pairs_sql()})
ORDER BY id_a, id_b
"""


@register("st_minhash_ingest", oracle=_st_minhash_oracle)
def st_minhash_ingest(spark: SparkSession, d: str) -> DataFrame:
    """Streaming MinHash band-index ingest: each micro-batch of the
    paged document tranches computes its own signatures + band rows
    map-side (the batch plan on batch-sized input) and folds (doc_id,
    band, band_hash) rows into the versioned registry.  Band rows are
    a pure function of content, so the fold is SET UNION — a
    semilattice, idempotent under micro-batch replays (the
    st_ahash_ingest argument with the (id, band) pair as the key).
    The final near-dup pair set computed FROM THE DRAINED REGISTRY
    (operators/dedup.minhash_pairs_from_index — the identical
    candidate + verify tail the batch operator compiles) must equal
    batch dd_minhash_lsh through its own oracle, which completes the
    streaming-ingest family: every stored index in the repo — exact
    hashes, lines, SemDeDup keepers, kNN edges, CMS, theta, KMV,
    aHash, IVF cells, and now the MinHash band index — has a
    checkpointed incremental twin.

    Scale shape: per-batch work is batch-sized (signatures + band
    projection, one shuffle on the batch's ids); registry state is
    num_bands rows x 32-byte hashes per document ever seen (the
    narrow-forever index dd_minhash_delta reads); pair generation
    over the registry is the bucketed join, never all-pairs.
    Checkpoint resume is pinned in tests/test_catalog_r12.py."""
    import shutil

    from ..operators.dedup import (minhash_band_table,
                                   minhash_pairs_from_index,
                                   minhash_signatures)
    from ..session import scratch
    from ..sources.tables import fold_version, read_version
    from ..streaming import pipeline as SP

    docs = _t(spark, d, "documents")
    store = scratch("st_minhash_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        inc = minhash_band_table(minhash_signatures(rows.select(
            F.col("page_id").cast("long").alias("doc_id"),
            F.col("title").alias("text"))))
        fold_version(rows.sparkSession, store, epoch_id, inc,
                     lambda p, i: p.unionByName(i).distinct())

    SP.drain_paged_tranches(spark, "st_minhash",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)

    registry = read_version(spark, store)
    return (minhash_pairs_from_index(registry, docs)
            .orderBy("id_a", "id_b"))


# ===========================================================================
# Composed ingest capstone (VERDICT r11 #4): the production
# "new batch arrives" story — published gates, bloom pre-filter,
# exact-hash anti-join, near-dup vs the stored index, versioned
# commit — as ONE per-stage ledger.
# ===========================================================================

_ING_BF_BITS = 4096
_ING_BF_K = 3


def _ingest_oracle() -> str:
    from . import oracle_sql as O
    from . import oracle_vec as OV
    mp = OV.minhash_pairs_sql(threshold=0.8, source="uni")
    return f"""
WITH gat AS (
  SELECT doc_id,
         {O.clean_sql('text')} AS clean_text,
         {O.quality_sql('text')} AS q,
         {OV.detect_language_sql('text')} AS detected_lang
  FROM documents
), gk AS (
  SELECT doc_id, clean_text,
         md5(lower({O.pystrip_sql('clean_text')})) AS content_hash
  FROM gat
  WHERE (q IS NULL OR q >= 0.2) AND detected_lang = 'en'
), sg AS (SELECT * FROM gk WHERE doc_id % 2 = 0),
bg AS (SELECT * FROM gk WHERE doc_id % 2 = 1),
fresh AS (
  SELECT * FROM bg
  WHERE content_hash NOT IN (SELECT content_hash FROM sg)
), keep AS (
  SELECT content_hash, min(doc_id) AS keeper FROM fresh
  GROUP BY content_hash
), kd AS (
  SELECT f.doc_id, f.clean_text FROM fresh f
  JOIN keep k ON k.keeper = f.doc_id
             AND k.content_hash = f.content_hash
), uni AS (
  SELECT doc_id, clean_text AS text FROM sg
  UNION ALL
  SELECT doc_id, clean_text FROM kd
), mp AS (
  SELECT id_a, id_b FROM ({mp})
  WHERE id_a % 2 = 1 OR id_b % 2 = 1
), losers AS (
  SELECT DISTINCT CASE
    WHEN id_a % 2 = 1 AND id_b % 2 = 1 THEN greatest(id_a, id_b)
    WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id
  FROM mp
), surv AS (
  SELECT doc_id FROM kd
  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
), nraw AS (
  SELECT count(*)::BIGINT AS n FROM documents WHERE doc_id % 2 = 1
), drift AS ({_dq9_oracle()}),
counts AS (
  SELECT 0 AS stage_no, 'raw' AS stage, (SELECT n FROM nraw) AS docs
  UNION ALL
  SELECT 1, 'gated', (SELECT count(*) FROM bg)::BIGINT
  UNION ALL
  SELECT 2, 'exact_new', (SELECT count(*) FROM fresh)::BIGINT
  UNION ALL
  SELECT 3, 'batch_keeper', (SELECT count(*) FROM kd)::BIGINT
  UNION ALL
  SELECT 4, 'neardup_new', (SELECT count(*) FROM surv)::BIGINT
  UNION ALL
  SELECT 5, 'committed', (SELECT count(*) FROM surv)::BIGINT
  UNION ALL
  SELECT 6, 'published',
         CASE WHEN (SELECT centroid_l2 <= {_DQ9_L2_MAX}
                          AND var_ratio BETWEEN {_DQ9_VR_LO}
                                            AND {_DQ9_VR_HI}
                    FROM drift)
              THEN (SELECT count(*) FROM surv)::BIGINT
              ELSE 0::BIGINT END
)
SELECT stage_no::BIGINT AS stage_no, stage, docs::BIGINT AS docs,
       round(docs::DOUBLE / (SELECT n FROM nraw)::DOUBLE, 6)
         AS share_of_raw
FROM counts ORDER BY stage_no
"""


@register("cc_ingest_delta", headline=True, oracle=_ingest_oracle)
def cc_ingest_delta(spark: SparkSession, d: str) -> DataFrame:
    """The composed ingest capstone (VERDICT r11 #4): one entry runs
    the whole "new batch arrives" story the repo previously shipped
    as parts, emitting the per-stage ledger a production ingest logs —
    raw -> gated (cc_gate_keyed: clean + quality + language, the
    cc_curate front-end) -> exact_new (content-hash anti-join against
    the resident store, with the a21 Bloom pre-filter PHYSICALLY
    scoping the anti-join: hashes that miss the 4096-bit bloom are
    definitely new and bypass the join entirely; only the bloom hits
    — true members plus the ~0.5% false positives — reach it; no
    false negatives is a bloom guarantee, so the stage count equals
    the plain anti-join's, pinned in tests/test_catalog_r12.py) ->
    batch_keeper (in-batch min-id election per hash, the s15 tail) ->
    neardup_new (MinHash delta vs the stored band index,
    dd_minhash_delta's operator: a keeper is dropped if it pairs at
    Jaccard >= 0.8 with any resident doc — the store always wins, it
    is already committed — or with a smaller-id keeper) ->
    committed (the survivors APPENDED to the versioned store,
    sources/tables.fold_version, and the ledger row read back from
    the store — the count that survived the actual commit) ->
    published (VERDICT r12 #7: the dq9 embedding-drift card computed
    between the batch's vectors and the resident store's INSIDE this
    plan gates the publish step — docs = committed when the
    distribution is stable under the stated _DQ9_L2_MAX/_DQ9_VR
    policy, 0 when drift would poison downstream ANN gates; pinned
    against the standalone dq9 entry on the same split in
    tests/test_catalog_r13.py).

    Even doc_ids play the resident store, odd the incoming batch;
    near-dup runs on the CLEANED text both sides (the pipeline
    dedups what it stores, not what it crawled).  Every stage count
    is value-oracled end to end — gates, hashes, banding, verify and
    the loser election are all deterministic md5/column arithmetic
    DuckDB replays exactly.

    Scale shape per stage: gates are one fused map-side projection;
    the bloom is 128 bit_or'd words broadcast back (a21); the
    anti-join shuffles only bloom hits on the uniform crypto hash;
    banding + verify are the dd_minhash_delta shape (delta-sized
    signatures, two bucket equi-joins, candidate-scoped verify); the
    commit appends narrow keeper rows.  Nothing rescans the corpus
    and nothing is quadratic.  Wall-clock at catalog scale is a JOB-
    COUNT floor, not a data cost (the m6/g4 power-loop argument): six
    stage materializations + the versioned write are ~12 scheduled
    jobs, so the headline number (~5 s at sf0.1, ~4.5 s at sf0.01 —
    near-identical because it is scheduling, not data) amortizes to
    noise on real batch sizes."""
    import shutil

    from ..operators.dedup import md5_int32, minhash_delta_pairs
    from ..sources.tables import fold_version, read_version
    from ..session import scratch
    from .catalog_r6 import cc_gate_keyed

    docs = _t(spark, d, "documents")
    batch_raw = docs.filter(F.col("doc_id") % 2 == 1)

    # the gated and the exact-new frames are each read by several
    # downstream stages (the ledger, the bloom, the anti-join, the
    # near-dup delta) — materialized once each, as a production ingest
    # that logs its funnel keeps stage outputs as tables
    #
    # r15: gate ONCE and split by parity afterwards — the old
    # per-split gating ran the clean+quality+language pipeline as two
    # jobs over two scans (same total expression work, twice the scan
    # + checkpoint floor); the gate is per-row, so filter-then-gate ==
    # gate-then-filter row for row.
    g_all = materialize(cc_gate_keyed(docs), "ingest:gated")
    g_store = g_all.filter(F.col("doc_id") % 2 == 0)
    g_batch = g_all.filter(F.col("doc_id") % 2 == 1)

    # --- bloom pre-filter over the store's content hashes (a21) ----
    jcol = F.explode(F.array(*[F.lit(j) for j in range(_ING_BF_K)])) \
        .alias("j")

    def positions(df: DataFrame) -> DataFrame:
        return (df.select("content_hash", jcol)
                .withColumn("p", F.pmod(
                    md5_int32(F.concat(F.col("content_hash"),
                                       F.lit(":bf"),
                                       F.col("j").cast("string"))),
                    F.lit(_ING_BF_BITS)))
                .withColumn("bitval", F.expr(
                    "shiftleft(cast(1 as bigint), cast(p % 32 as int))")))

    store_hashes = g_store.select("content_hash").distinct()
    words = (positions(store_hashes)
             .groupBy(F.expr("p div 32").alias("word"))
             .agg(F.expr("bit_or(bitval)").alias("wbits")))
    batch_hashes = g_batch.select("content_hash").distinct()
    probe = (positions(batch_hashes).withColumn("word", F.expr("p div 32"))
             .join(F.broadcast(words), "word", "left")
             .withColumn("hit", F.coalesce(
                 (F.col("wbits").bitwiseAND(F.col("bitval")) != 0),
                 F.lit(False)))
             .groupBy("content_hash")
             .agg(F.expr("bool_and(hit)").alias("bloom_hit")))

    gb = g_batch.join(probe, "content_hash")
    # bloom misses are DEFINITELY new (no false negatives); only hits
    # pay the store-sized anti-join
    definite = gb.filter(~F.col("bloom_hit"))
    verified = (gb.filter(F.col("bloom_hit"))
                .join(store_hashes, "content_hash", "left_anti"))
    fresh = materialize(definite.unionByName(verified).drop("bloom_hit"),
                        "ingest:fresh")

    from pyspark.sql import Window
    w = Window.partitionBy("content_hash")
    keepers = (fresh.withColumn("__keeper", F.min("doc_id").over(w))
               .filter(F.col("doc_id") == F.col("__keeper"))
               .drop("__keeper"))

    # --- near-dup vs the resident store (dd_minhash_delta shape) ---
    base = g_store.select("doc_id", F.col("clean_text").alias("text"))
    delta = keepers.select("doc_id", F.col("clean_text").alias("text"))
    pairs = minhash_delta_pairs(base, delta, threshold=0.8,
                                max_bucket=None)
    # loser election: the store always wins (it is committed); among
    # keepers the min id wins.  Sides are recoverable by parity (base
    # even, delta odd) after the operator's canonicalization.
    both_delta = (F.col("id_a") % 2 == 1) & (F.col("id_b") % 2 == 1)
    losers = (pairs.select(
        F.when(both_delta, F.greatest("id_a", "id_b"))
         .when(F.col("id_a") % 2 == 1, F.col("id_a"))
         .otherwise(F.col("id_b")).alias("doc_id"))
        .distinct())
    survivors = keepers.join(losers, "doc_id", "left_anti")

    # --- the actual commit: versioned append, ledger reads it back --
    store_path = scratch("cc_ingest_store")
    shutil.rmtree(store_path, ignore_errors=True)
    fold_version(spark, store_path, 0,
                 survivors.select("doc_id", "content_hash"))
    committed = read_version(spark, store_path)

    def stage(no: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count("*").cast("long").alias("docs")) \
            .select(F.lit(no).cast("long").alias("stage_no"),
                    F.lit(name).alias("stage"), "docs")

    # --- drift gate on the publish step (VERDICT r12 #7): the dq9
    # card between the incoming batch's vectors (odd vec parity —
    # mirroring the odd-doc batch split) and the resident store's
    # (even), computed INSIDE the ingest plan; the commit is written
    # either way (it is the versioned staging area), but the batch
    # only PUBLISHES — ships to consumers — when the embedding
    # distribution is stable under the stated policy (_DQ9_L2_MAX /
    # _DQ9_VR bounds; see the policy comment above _DQ9_L2_MAX for
    # why centroid cosine is NOT the gate).  One extra scan of the
    # vectors, partial-aggregated to a 1-row broadcast frame.
    drift_ok = (_dq9_card(_dq9_moments(_t(spark, d, "embeddings")))
                .select(((F.col("centroid_l2") <= _DQ9_L2_MAX)
                         & (F.col("var_ratio") >= _DQ9_VR_LO)
                         & (F.col("var_ratio") <= _DQ9_VR_HI))
                        .alias("__drift_ok")))
    published =(committed.agg(F.count("*").cast("long").alias("__c"))
                 .crossJoin(F.broadcast(drift_ok))
                 .select(F.lit(6).cast("long").alias("stage_no"),
                         F.lit("published").alias("stage"),
                         F.when(F.col("__drift_ok"), F.col("__c"))
                          .otherwise(F.lit(0)).cast("long")
                          .alias("docs")))

    stages = (stage(0, "raw", batch_raw)
              .unionByName(stage(1, "gated", g_batch))
              .unionByName(stage(2, "exact_new", fresh))
              .unionByName(stage(3, "batch_keeper", keepers))
              .unionByName(stage(4, "neardup_new", survivors))
              .unionByName(stage(5, "committed", committed))
              .unionByName(published))
    nraw = batch_raw.agg(F.count("*").cast("long").alias("__nraw"))
    return (stages.crossJoin(F.broadcast(nraw))
            .select("stage_no", "stage", "docs",
                    F.round(F.col("docs").cast("double")
                            / F.col("__nraw").cast("double"), 6)
                    .alias("share_of_raw"))
            .orderBy("stage_no"))


# ===========================================================================
# Scene-granular multimodal dedup (VERDICT r11 #7): the two
# value-oracled multimodal surfaces composed — per-scene
# representative keyframes (mm_scene_table's election) deduped via
# the aHash band machinery (mm_ahash_neardup) at scene granularity.
# ===========================================================================

def _scene_hash_cte() -> str:
    """Shared CTE chain (no WITH keyword) through ``hsh``:
    (doc_id, scene_id, ahash) for every representative keyframe —
    the mm_scene_table election + the exact byte-ratio aHash fold.
    Consumed by the scene-dedup oracle and the scene-components
    oracle."""
    from .catalog_r8 import _mm_keyframes_oracle
    bs = [f"('0x' || substr(h, {2 * i + 1}, 2))::BIGINT"
          for i in range(8)]
    sumb = " + ".join(bs)
    bits = " + ".join(
        f"(CASE WHEN ({b}) * 8 >= sumb"
        f" THEN {1 << (8 - 1 - i)} ELSE 0 END)"
        for i, b in enumerate(bs))
    return f"""kf AS ({_mm_keyframes_oracle()}),
sc AS (
  SELECT doc_id, frame_index,
         CAST(sum(is_keyframe::INT) OVER (
           PARTITION BY doc_id ORDER BY frame_index
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS scene_id,
         is_keyframe
  FROM kf
), rep AS (
  SELECT doc_id, frame_index, scene_id FROM sc WHERE is_keyframe
), pay AS (
  SELECT r.doc_id, r.scene_id,
         md5(substr(d.text, 1 + r.frame_index * 7, 64)
             || ':' || r.frame_index::VARCHAR) AS h
  FROM rep r JOIN documents d USING (doc_id)
), raw AS (
  SELECT doc_id, scene_id, h, ({sumb})::BIGINT AS sumb FROM pay
), hsh AS (
  SELECT doc_id, scene_id, ({bits})::BIGINT AS ahash FROM raw
)"""


def _scene_dedup_oracle() -> str:
    return f"""
WITH {_scene_hash_cte()}, bands AS (
  SELECT doc_id, scene_id, ahash,
         0 AS band, (ahash & 15)::BIGINT AS bval FROM hsh
  UNION ALL
  SELECT doc_id, scene_id, ahash,
         1, ((ahash >> 4) & 15)::BIGINT FROM hsh
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.scene_id AS scene_a,
         b.doc_id AS doc_b, b.scene_id AS scene_b,
         a.ahash AS ha, b.ahash AS hb
  FROM bands a JOIN bands b
    ON b.band = a.band AND b.bval = a.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, scene_a, doc_b, scene_b,
       bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 1
ORDER BY doc_a, scene_a, doc_b, scene_b
"""


@register("mm_scene_dedup", oracle=_scene_dedup_oracle)
def mm_scene_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Scene-granular cross-video dedup (VERDICT r11 #7): the read
    the scene manifest exists for — "this scene was re-uploaded in
    another video".  Composition of the two value-oracled multimodal
    surfaces: mm_keyframes' shot-boundary election picks each scene's
    REPRESENTATIVE frame (the keyframe that opens it — the
    mm_scene_table scene_id arithmetic), the representative's payload
    goes through the SAME mapInPandas Arrow decode the image path
    uses, an 8-bit average hash is folded from the decoded feature
    bytes (bit i set iff cell i >= the frame mean, cross-multiplied
    so it stays BIGINT-exact), and near-dup scene pairs across
    DIFFERENT videos come from SimHash-style band blocking (2 bands x
    4 bits — pigeonhole: every Hamming<=1 pair shares an exact band)
    with the exact Hamming verify on candidates.  Within-video
    near-dup scenes are the keyframe election's own job (a repeated
    scene inside one video never opens a new scene unless the shot
    boundary fired), so the join is doc_a < doc_b by construction.

    Exactness: features come off the Arrow path as exact byte
    ratios (b/255); multiplying back by 255 and rounding recovers
    the bytes, and everything after is BIGINT band/bit_count
    arithmetic both engines replay — the fake decode backend
    exercises the identical plumbing a real decoder would (the
    mm_ahash_neardup caveat verbatim).

    Scale shape: decode is Arrow-batched map-side work bounded by
    scenes (<= 5/video); the only shuffle is the band-bucket
    self-join — the dd_minhash_lsh shape; the production 64-bit grid
    hash bands 4x16 and caps buckets exactly as minhash does
    (mm_ahash_neardup's width ledger applies verbatim)."""
    pairs = _scene_pair_frame(_scene_hash_frame(spark, d))
    return pairs.orderBy("doc_a", "scene_a", "doc_b", "scene_b")


# Node-packing stride for (doc_id, scene_id) -> flat BIGINT keys
# (VERDICT r12 #4b: the r12 stride of 100 would silently corrupt
# components for a video with >= 100 scenes; 1e6 leaves doc_id * 1e6
# far inside BIGINT for any plausible id space and any frame-sampling
# policy).  Shared by the Spark plan and the DuckDB oracle — the two
# sides must pack identically or the component labels diverge.
_SCENE_STRIDE = 1_000_000


def _scene_hash_frame(spark: SparkSession, d: str) -> DataFrame:
    """(doc_id, scene_id, ahash) for every representative keyframe:
    the mm_scene_table election over the Arrow decode path + the
    exact byte-ratio aHash fold.  Shared by mm_scene_dedup and
    mm_scene_components (the Spark twin of _scene_hash_cte)."""
    from pyspark.sql import Window
    from ..operators import multimodal
    from .catalog_r8 import _MM_KEY_TAU

    docs = _t(spark, d, "documents")
    fr = multimodal.frame_sample(
        docs.select("doc_id", (F.col("n_chars") / 100.0)
                    .alias("duration_s")))
    pay = (fr.join(docs.select("doc_id", "text"), "doc_id")
           .withColumn(
               "payload_str",
               F.concat(F.col("text").substr(
                   (F.col("frame_index") * 7 + 1).cast("int"), F.lit(64)),
                   F.lit(":"), F.col("frame_index").cast("string")))
           .withColumn("fid", F.col("doc_id") * _SCENE_STRIDE
                       + F.col("frame_index")))
    bin_df = pay.select(F.col("fid").alias("doc_id"),
                        F.encode(F.col("payload_str"), "utf-8")
                        .alias("content_bytes"))
    feats = (multimodal.decode_features(bin_df)
             .select(F.col("doc_id").alias("fid"), "features"))
    joined = pay.select("doc_id", "frame_index", "fid").join(feats, "fid")
    w = Window.partitionBy("doc_id").orderBy("frame_index")
    lagd = joined.withColumn("pf", F.lag("features").over(w))
    dist = F.round(F.aggregate(
        F.zip_with(F.col("features"), F.col("pf"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    flagged = lagd.withColumn(
        "is_keyframe",
        F.col("pf").isNull() | (dist > F.lit(_MM_KEY_TAU)))
    wcum = (Window.partitionBy("doc_id").orderBy("frame_index")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    reps = (flagged
            .withColumn("scene_id",
                        F.sum(F.col("is_keyframe").cast("int")).over(wcum)
                        .cast("long"))
            .filter(F.col("is_keyframe")))
    # decoded features are byte/255 — recover the exact bytes, fold
    # the 8-bit average hash (bit i set iff b_i * 8 >= sum of bytes)
    bts = F.transform(F.col("features"),
                      lambda x: F.round(x * 255).cast("long"))
    sumb = F.aggregate(bts, F.lit(0).cast("long"), lambda a, x: a + x)
    hashed = reps.select("doc_id", "scene_id", bts.alias("b"),
                         sumb.alias("sumb"))
    ahash = None
    for i in range(8):
        bit = F.when(F.element_at(F.col("b"), i + 1) * 8
                     >= F.col("sumb"),
                     F.lit(1 << (8 - 1 - i)).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        ahash = bit if ahash is None else ahash + bit
    return hashed.select("doc_id", "scene_id", ahash.alias("ahash"))


def _scene_pair_frame(hsh: DataFrame) -> DataFrame:
    """Cross-video near-dup scene pairs (Hamming <= 1 via 2x4-bit
    band blocking + exact verify) over a (doc_id, scene_id, ahash)
    frame — the tail mm_scene_dedup registers."""
    blocks = F.array(
        F.struct(F.lit(0).alias("band"),
                 (F.col("ahash") % 16).alias("bval")),
        F.struct(F.lit(1).alias("band"),
                 F.shiftright(F.col("ahash"), 4).alias("bval")))
    banded = (hsh.withColumn("__b", F.explode(blocks))
              .select("doc_id", "scene_id", "ahash",
                      F.col("__b.band").alias("band"),
                      F.col("__b.bval").alias("bval")))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("scene_id").alias("scene_a"),
                      F.col("ahash").alias("ha"), "band", "bval")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("scene_id").alias("scene_b"),
                      F.col("ahash").alias("hb"), "band", "bval")
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (a.join(b, ["band", "bval"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= 1)
            .select("doc_a", "scene_a", "doc_b", "scene_b", "hamming")
            .dropDuplicates(["doc_a", "scene_a", "doc_b", "scene_b"]))


# ===========================================================================
# Scene-dup CLUSTERS: connected components over the mm_scene_dedup
# pair graph (the optional components twin VERDICT r11 #7 named) —
# the component, not the pair, is the dedup unit whose min member
# becomes the canonical scene.
# ===========================================================================

def _scene_comp_oracle() -> str:
    # The oracle does NOT replay the pair-graph closure (near-dup
    # scene cliques make the transitive closure quadratic in clique
    # size); it proves the same labeling through the HASH graph: two
    # scenes are connected iff their 8-bit hashes are connected
    # through WITNESSED hash edges (an edge (h1, h2), hamming <= 1,
    # exists iff scenes in two DIFFERENT docs carry them — same-doc
    # carriers witness nothing), and a scene attaches to its hash's
    # component iff some other doc carries an adjacent hash.  The
    # closure then runs over <= 256 hash nodes instead of the scene
    # graph.  Equality of this construction with Spark's star
    # contraction over the ACTUAL pair graph is the check: routing
    # around same-doc corners (two same-doc scenes with equal hashes
    # only connect through a third video) must agree on both sides.
    return f"""
WITH RECURSIVE {_scene_hash_cte()},
hd AS (
  SELECT DISTINCT ahash AS h, doc_id FROM hsh
), hstat AS (
  SELECT h, count(*)::BIGINT AS n_docs, min(doc_id) AS one_doc
  FROM hd GROUP BY h
), adj AS (
  SELECT a.h AS h1, b.h AS h2
  FROM hstat a JOIN hstat b
    ON bit_count(xor(a.h, b.h)) <= 1
   AND (a.n_docs >= 2 OR b.n_docs >= 2 OR a.one_doc <> b.one_doc)
), hreach(h1, h2) AS (
  SELECT h1, h2 FROM adj
  UNION
  SELECT r.h1, a.h2 FROM hreach r JOIN adj a ON a.h1 = r.h2
), hcomp AS (
  SELECT h1 AS h, least(h1, min(h2)) AS hc FROM hreach GROUP BY h1
), att AS (
  SELECT DISTINCT s.doc_id, s.scene_id, s.ahash
  FROM hsh s JOIN hstat x
    ON bit_count(xor(s.ahash, x.h)) <= 1
   AND (x.n_docs >= 2 OR x.one_doc <> s.doc_id)
), lab AS (
  SELECT c.hc, min(a.doc_id * {_SCENE_STRIDE} + a.scene_id)::BIGINT
           AS component
  FROM att a JOIN hcomp c ON c.h = a.ahash
  GROUP BY c.hc
)
SELECT s.doc_id, s.scene_id,
       coalesce(l.component,
                s.doc_id * {_SCENE_STRIDE} + s.scene_id)::BIGINT
         AS component
FROM hsh s
LEFT JOIN att a ON a.doc_id = s.doc_id AND a.scene_id = s.scene_id
LEFT JOIN hcomp c ON c.h = a.ahash
LEFT JOIN lab l ON l.hc = c.hc
ORDER BY s.doc_id, s.scene_id
"""


@register("mm_scene_components", oracle=_scene_comp_oracle)
def mm_scene_components(spark: SparkSession, d: str) -> DataFrame:
    """Scene near-dup CLUSTERS: connected components over the
    mm_scene_dedup pair graph — the components twin VERDICT r11 #7
    left optional, and the multimodal sibling of dd_components /
    mm_ahash_components at SCENE granularity (pairs under-read
    duplication: a scene re-uploaded across five videos chains
    A~B~C~D~E, and the component — whose min (doc, scene) node
    becomes the canonical copy — is the dedup unit).  Spark runs the
    exact star-contraction operator over the ACTUAL pair graph
    (dedup.connected_components); the oracle proves the SAME
    labeling through an independent construction — closure over the
    <= 256-node WITNESSED hash-adjacency graph with per-scene
    attachment — so the same-doc corner (two scenes of one video
    with equal hashes connect only through a third video) is
    checked from both directions, and clique-heavy scene graphs
    never force a quadratic transitive closure in the oracle.

    Scale shape: pair generation is the banded join (never
    all-pairs); contraction rounds are groupBy-min passes over the
    flat node-key edge list with a per-round materialize and a
    fixed-point exit — O(log^2 n) rounds whatever the chain length
    (the dd_components argument at scene granularity)."""
    from ..operators import dedup
    hsh = _scene_hash_frame(spark, d)
    pairs = _scene_pair_frame(hsh).select(
        (F.col("doc_a") * _SCENE_STRIDE + F.col("scene_a")).alias("id_a"),
        (F.col("doc_b") * _SCENE_STRIDE + F.col("scene_b")).alias("id_b"))
    nodes = hsh.select((F.col("doc_id") * _SCENE_STRIDE
                        + F.col("scene_id")).alias("node"))
    comp = dedup.connected_components(pairs, nodes, id_col="node")
    return (comp.select(
        F.expr(f"node div {_SCENE_STRIDE}").cast("long").alias("doc_id"),
        F.pmod(F.col("node"), F.lit(_SCENE_STRIDE)).cast("long")
         .alias("scene_id"),
        F.col("component").cast("long").alias("component"))
        .orderBy("doc_id", "scene_id"))


# ===========================================================================
# k-truss peeling trajectory on the 5-NN graph — iterative family
# #10 (the EDGE-cohesion companion to g7's node-degree k-core: a
# k-truss edge sits in >= k-2 triangles, so the truss is the
# triangle-reinforced subgraph that survives when weak ties drop).
# ===========================================================================

_TRUSS_K = 4
_TRUSS_ROUNDS = 3


def _ktruss_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    parts = [f"""
e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM nb
)"""]
    for r in range(_TRUSS_ROUNDS + 1):
        parts.append(f""", t{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e{r} e1 JOIN e{r} e2 ON e2.u = e1.v
  JOIN e{r} e3 ON e3.u = e1.u AND e3.v = e2.v
), s{r} AS MATERIALIZED (
  SELECT u, v, count(*)::BIGINT AS sup FROM (
    SELECT a AS u, b AS v FROM t{r}
    UNION ALL SELECT b, c FROM t{r}
    UNION ALL SELECT a, c FROM t{r})
  GROUP BY u, v
), e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e JOIN s{r} s ON s.u = e.u AND s.v = e.v
  WHERE s.sup >= {_TRUSS_K - 2}
)""")
    rows = [f"SELECT {r}::BIGINT AS round,"
            f" (SELECT count(*) FROM e{r})::BIGINT AS n_edges,"
            f" (SELECT count(*) FROM t{r})::BIGINT AS n_triangles"
            for r in range(_TRUSS_ROUNDS + 1)]
    return ("WITH " + "".join(parts) + "\n"
            + "\nUNION ALL\n".join(rows) + "\nORDER BY round")


@register("g13_ktruss", oracle=_ktruss_oracle())
def g13_ktruss(spark: SparkSession, d: str) -> DataFrame:
    """k-truss peeling trajectory (Cohen 2008, public — the
    triangle-support analogue of k-core) on the symmetrized 5-NN
    cosine graph: repeatedly drop edges supported by fewer than
    k-2 = {SUP} triangles, reporting surviving edge and triangle
    counts per round — iterative family #10 and the EDGE-cohesion
    read beside g7's node-degree peel (a k-core can be held together
    by hub nodes with no shared neighborhoods; a k-truss cannot —
    every surviving tie is triangle-reinforced, which is why truss
    decomposition is the community-core detector of the public graph
    literature).  For a curation team: the truss is the region where
    SemDeDup-style semantic collapse concentrates, tighter than the
    k-core read.

    Bounded peeling ({R} rounds) computes a SUPERSET of the true
    {K}-truss that shrinks monotonically; the trajectory leveling
    off IS the convergence read (the g7/g5 bounded-iteration honesty
    convention).  All counts are exact integers; the oracle unrolls
    the identical peel as a materialized CTE chain (the g7 recipe —
    support recomputed from scratch each round on both engines, so
    a disagreement in ANY round's edge or triangle count fails the
    value hash).

    Scale shape: edges come from the SHARED materialized graph store
    (_g6_und; the IVF build is the registered recall-gated 100 TB
    swap); each round is the standard distributed triangle
    enumeration — two k-bounded equi-joins on the flat edge key
    (<= k fanout per edge, the g6 plan) — plus one partial-aggregable
    support count and one semi-join filter; a per-round
    materialize keeps lineage flat.  No window, no cartesian,
    nothing quadratic."""
    from .catalog_r9 import _g6_und
    cur = _g6_und(spark, d)
    out = []
    for r in range(_TRUSS_ROUNDS + 1):
        e1, e2, e3 = cur.alias("e1"), cur.alias("e2"), cur.alias("e3")
        tri = (e1.join(e2, F.col("e2.u") == F.col("e1.v"))
               .join(e3, (F.col("e3.u") == F.col("e1.u"))
                     & (F.col("e3.v") == F.col("e2.v")))
               .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
                       F.col("e2.v").alias("c")))
        tri = materialize(tri, "truss:triangles")
        out.append(
            cur.agg(F.count("*").cast("long").alias("n_edges"))
            .crossJoin(F.broadcast(
                tri.agg(F.count("*").cast("long").alias("n_triangles"))))
            .select(F.lit(r).cast("long").alias("round"),
                    "n_edges", "n_triangles"))
        if r < _TRUSS_ROUNDS:
            contrib = (tri.select(F.col("a").alias("u"),
                                  F.col("b").alias("v"))
                       .unionAll(tri.select(F.col("b").alias("u"),
                                            F.col("c").alias("v")))
                       .unionAll(tri.select(F.col("a").alias("u"),
                                            F.col("c").alias("v"))))
            sup = contrib.groupBy("u", "v").agg(F.count("*").alias("sup"))
            cur = materialize(cur.join(sup, ["u", "v"])
                              .filter(F.col("sup") >= _TRUSS_K - 2)
                              .select("u", "v"), "truss:round")
    res = out[0]
    for frame in out[1:]:
        res = res.unionByName(frame)
    return res.orderBy("round")


g13_ktruss.__doc__ = g13_ktruss.__doc__.format(
    SUP=_TRUSS_K - 2, R=_TRUSS_ROUNDS, K=_TRUSS_K)


# ===========================================================================
# Embedding-distribution drift card — the vector-space member of the
# dq drift family (dq2 PSI / dq3 KS read scalar columns; embeddings
# drift as a DISTRIBUTION in R^d, and re-embedding or re-indexing
# decisions hang on exactly this card).
# ===========================================================================

_DQ9_G = 1000000

# Drift POLICY (one policy, two consumers — the cc_ingest_delta
# publish gate and the cc_release_audit embedding_drift row): the
# centroid may move at most this far in L2 (mean_norm is ~1 on this
# corpus, so 0.25 is a quarter of a typical vector) and total
# variance may at most halve or double.  Centroid COSINE is published
# on the card but is NOT the gate: on a near-zero-mean (isotropic)
# space the mean vector's direction is noise — measured 0.105 between
# parity splits of the SAME corpus at sf0.01 — so gating on it would
# red-flag identical distributions.
_DQ9_L2_MAX = 0.25
_DQ9_VR_LO = 0.5
_DQ9_VR_HI = 2.0


def _dq9_oracle() -> str:
    return f"""
WITH x AS (
  SELECT vec_id % 2 AS side, t.i AS dim,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * {_DQ9_G})
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL unnest(range(1, len(embedding) + 1)) AS t(i)
), pd AS (
  SELECT dim,
         CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS nr,
         CAST(sum(CASE WHEN side = 0 THEN q ELSE 0 END) AS BIGINT)
           AS s1r,
         CAST(sum(CASE WHEN side = 0 THEN q * q ELSE 0 END) AS BIGINT)
           AS s2r,
         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS nc,
         CAST(sum(CASE WHEN side = 1 THEN q ELSE 0 END) AS BIGINT)
           AS s1c,
         CAST(sum(CASE WHEN side = 1 THEN q * q ELSE 0 END) AS BIGINT)
           AS s2c
  FROM x GROUP BY dim
), t AS (
  SELECT dim, nr, nc,
         s1r::DOUBLE / nr::DOUBLE AS mr,
         s1c::DOUBLE / nc::DOUBLE AS mc,
         s2r::DOUBLE / nr::DOUBLE AS e2r,
         s2c::DOUBLE / nc::DOUBLE AS e2c
  FROM pd
), qd AS (
  SELECT dim, nr, nc,
         CAST(round((mr - mc) * (mr - mc)) AS BIGINT) AS d2_q,
         CAST(round(mr * mc) AS BIGINT) AS cr_q,
         CAST(round(mr * mr) AS BIGINT) AS r2_q,
         CAST(round(mc * mc) AS BIGINT) AS c2_q,
         CAST(round(e2r - mr * mr) AS BIGINT) AS vr_q,
         CAST(round(e2c - mc * mc) AS BIGINT) AS vc_q
  FROM t
)
SELECT max(nr)::BIGINT AS n_ref, max(nc)::BIGINT AS n_cur,
       round(sqrt(sum(d2_q)::DOUBLE) / {_DQ9_G}, 6) AS centroid_l2,
       round(sum(cr_q)::DOUBLE
             / sqrt(sum(r2_q)::DOUBLE * sum(c2_q)::DOUBLE), 6)
         AS centroid_cos,
       round(sum(vr_q)::DOUBLE / {_DQ9_G} / {_DQ9_G}, 6) AS var_ref,
       round(sum(vc_q)::DOUBLE / {_DQ9_G} / {_DQ9_G}, 6) AS var_cur,
       round(sum(vc_q)::DOUBLE / sum(vr_q)::DOUBLE, 6) AS var_ratio
FROM qd
"""


@register("dq9_embedding_drift", oracle=_dq9_oracle())
def dq9_embedding_drift(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-distribution drift card between a reference and a
    current vector snapshot (vec_id parity as the deterministic
    split stand-in): centroid shift (L2 + cosine between the two
    mean vectors) and total-variance ratio — the mean-and-spread
    read of the public drift-monitoring literature (Rabanser et al.
    2019 "Failing Loudly"; the FID tradition of comparing embedding
    distributions by first and second moments, Heusel et al. 2017).
    dq2/dq3 catch drift in SCALAR columns; embeddings drift as a
    distribution in R^d, and this card is what gates "re-embed /
    re-train the IVF centroids / re-tune dedup thresholds" — a
    centroid that moved or a variance that collapsed silently
    degrades every ANN recall gate in the repo.

    Exactness: components quantize to the 1e-6 BIGINT grid BEFORE
    any sum (the commutative-sum rule), so all six per-dim moment
    sums are exact integers; per-dim derived terms (mean gap²,
    mean product, variance) are IEEE doubles computed from exact
    integers by the IDENTICAL expression in both engines, quantized
    back to the grid per dim, and summed exactly — the ta_zipf
    quantize-pre-sum convention, dimension playing the role of
    rank.  Display divisions happen once, at the end.

    Scale shape: ONE scan of the vectors (posexplode to (side, dim)
    partial-aggregable moment sums — 2d rows out of the shuffle,
    d = 64); everything after is a d-row aggregate and a 1-row
    finish.  No window, no join, corpus-linear."""
    return _dq9_card(_dq9_moments(_t(spark, d, "embeddings")))


def _dq9_moments(emb: DataFrame) -> DataFrame:
    """Per-(side, dim) exact integer moment sums (n, s1, s2) on the
    1e-6 grid — the drift card's sufficient statistics.  Pure sums,
    so the frame is MERGEABLE by addition across batches (the CMS
    merge property st_drift_monitor relies on)."""
    from ..functions.vector import to_double_array
    x = (emb.select((F.col("vec_id") % 2).alias("side"),
                    F.posexplode(to_double_array(F.col("embedding")))
                    .alias("pos", "xv"))
         .select("side", (F.col("pos") + 1).cast("long").alias("dim"),
                 F.round(F.col("xv") * _DQ9_G).cast("long").alias("q")))
    return x.groupBy("side", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"))


def _dq9_add(prior: DataFrame, inc: DataFrame) -> DataFrame:
    """Fold of two _dq9_moments frames: the moment sums add."""
    return (prior.unionByName(inc).groupBy("side", "dim")
            .agg(*[F.sum(c).cast("long").alias(c)
                   for c in ("n", "s1", "s2")]))


def _dq9_card(moments: DataFrame) -> DataFrame:
    """The 1-row drift card from the per-(side, dim) moment sums —
    shared by the batch entry and its streaming twin (identical
    arithmetic, so stream == batch reduces to the sums being
    equal)."""
    ref, cur = F.col("side") == 0, F.col("side") == 1

    def sides(cond, col, alias):
        return F.sum(F.when(cond, col).otherwise(F.lit(0))) \
            .cast("long").alias(alias)

    pd_ = moments.groupBy("dim").agg(
        sides(ref, F.col("n"), "nr"), sides(ref, F.col("s1"), "s1r"),
        sides(ref, F.col("s2"), "s2r"),
        sides(cur, F.col("n"), "nc"), sides(cur, F.col("s1"), "s1c"),
        sides(cur, F.col("s2"), "s2c"))
    mr = F.col("s1r").cast("double") / F.col("nr").cast("double")
    mc = F.col("s1c").cast("double") / F.col("nc").cast("double")
    e2r = F.col("s2r").cast("double") / F.col("nr").cast("double")
    e2c = F.col("s2c").cast("double") / F.col("nc").cast("double")
    qd = pd_.select(
        "nr", "nc",
        F.round((mr - mc) * (mr - mc)).cast("long").alias("d2_q"),
        F.round(mr * mc).cast("long").alias("cr_q"),
        F.round(mr * mr).cast("long").alias("r2_q"),
        F.round(mc * mc).cast("long").alias("c2_q"),
        F.round(e2r - mr * mr).cast("long").alias("vr_q"),
        F.round(e2c - mc * mc).cast("long").alias("vc_q"))
    g = float(_DQ9_G)
    return qd.agg(
        F.max("nr").cast("long").alias("n_ref"),
        F.max("nc").cast("long").alias("n_cur"),
        F.round(F.sqrt(F.sum("d2_q").cast("double")) / g, 6)
         .alias("centroid_l2"),
        F.round(F.sum("cr_q").cast("double")
                / F.sqrt(F.sum("r2_q").cast("double")
                         * F.sum("c2_q").cast("double")), 6)
         .alias("centroid_cos"),
        F.round(F.sum("vr_q").cast("double") / g / g, 6)
         .alias("var_ref"),
        F.round(F.sum("vc_q").cast("double") / g / g, 6)
         .alias("var_cur"),
        F.round(F.sum("vc_q").cast("double")
                / F.sum("vr_q").cast("double"), 6).alias("var_ratio"))


# ===========================================================================
# Newman modularity of the label-propagation communities — the
# quality number for g5's partition (g5_label_prop_report scores
# accuracy against held-out truth; modularity scores the PARTITION
# against the graph itself, truth-free — the number a clustering
# run publishes when no labels exist).
# ===========================================================================

def _g14_oracle() -> str:
    # le feeds THREE reads (mm/din/dg) and lf two — MATERIALIZED keeps
    # the label-prop closure single-shot instead of re-running the
    # all-pairs kNN per reference (VERDICT r13 #5: this entry alone was
    # 14% of the full driver-check sweep; with nb/lab{k} materialized
    # in _lp_cte and le/lf here, the oracle drops ~30x)
    from .catalog_r8b import _LP_ITERS, _lp_cte
    return _lp_cte() + f""",
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM nb
), lf AS MATERIALIZED (
  SELECT vec_id, lab FROM lab{_LP_ITERS} WHERE lab IS NOT NULL
), le AS MATERIALIZED (
  SELECT a.lab AS cu, b.lab AS cv
  FROM und e JOIN lf a ON a.vec_id = e.u JOIN lf b ON b.vec_id = e.v
), mm AS (
  SELECT count(*)::BIGINT AS m FROM le
), din AS (
  SELECT cu AS c, count(*)::BIGINT AS e_in FROM le WHERE cu = cv
  GROUP BY cu
), dg AS (
  SELECT c, count(*)::BIGINT AS deg FROM (
    SELECT cu AS c FROM le UNION ALL SELECT cv FROM le)
  GROUP BY c
), qn AS (
  SELECT d.c,
         4 * m.m * coalesce(i.e_in, 0) - d.deg * d.deg AS qnum
  FROM dg d CROSS JOIN mm m LEFT JOIN din i ON i.c = d.c
)
SELECT (SELECT count(*) FROM lf)::BIGINT AS n_nodes,
       (SELECT count(*) FROM dg)::BIGINT AS n_communities,
       (SELECT m FROM mm) AS n_edges,
       round((SELECT CAST(sum(qnum) AS BIGINT) FROM qn)::DOUBLE
             / (4.0 * (SELECT m FROM mm)::DOUBLE
                * (SELECT m FROM mm)::DOUBLE), 6) AS modularity
"""


@register("g14_modularity", oracle=_g14_oracle())
def g14_modularity(spark: SparkSession, d: str) -> DataFrame:
    """Newman modularity (Newman & Girvan 2004, public) of the g5
    label-propagation partition over the symmetrized 5-NN cosine
    graph: Q = sum_c (e_c/m - (deg_c/2m)^2) — how much denser inside
    the communities than a degree-preserving random rewiring.  The
    TRUTH-FREE quality read beside g5_label_prop_report's held-out
    accuracy: a production clustering run has no held-out labels,
    and modularity is the number it publishes instead (Q near 0 =
    the partition is noise; the embedding-affinity communities are
    real exactly when this is high).  Restricted to LABELED nodes
    (propagation coverage is its own reported number); edges with an
    unlabeled endpoint drop with them.

    Exactness: per-community terms use the common denominator 4m^2
    — q_num_c = 4*m*e_c - deg_c^2 is an exact BIGINT (m, e_c, deg_c
    are integers), summed exactly; ONE display division.  At 1e9
    edges 4*m*e_c stays under 4e18 only if e_c <= 1e9/4 per
    community — beyond that, shift the common denominator to the
    g2/g4 coarser grid (docstring convention).

    Scale shape: final labels are the bounded-iteration g5 frames
    (k-bounded joins over the shared graph store); the three
    modularity aggregates are one edge-community join (k-bounded),
    one partial-agg per community, one 1-row finish.  No window, no
    cartesian."""
    from .catalog_r8b import _lp_frames
    from .catalog_r9 import _g6_und
    _, lab = _lp_frames(spark, d)
    lf = (lab.filter(F.col("lab").isNotNull())
          .select("vec_id", "lab"))
    und = _g6_und(spark, d)
    le = (und.join(lf.select(F.col("vec_id").alias("u"),
                             F.col("lab").alias("cu")), "u")
          .join(lf.select(F.col("vec_id").alias("v"),
                          F.col("lab").alias("cv")), "v")
          .select("cu", "cv"))
    le = materialize(le, "g14:labelled_edges")
    mm = le.agg(F.count("*").cast("long").alias("m"))
    din = (le.filter(F.col("cu") == F.col("cv"))
           .groupBy(F.col("cu").alias("c"))
           .agg(F.count("*").cast("long").alias("e_in")))
    dg = (le.select(F.col("cu").alias("c"))
          .unionAll(le.select(F.col("cv").alias("c")))
          .groupBy("c").agg(F.count("*").cast("long").alias("deg")))
    qn = (dg.join(din, "c", "left")
          .crossJoin(F.broadcast(mm))
          .select((4 * F.col("m") * F.coalesce("e_in", F.lit(0))
                   - F.col("deg") * F.col("deg")).cast("long")
                  .alias("qnum")))
    nn = lf.agg(F.count("*").cast("long").alias("n_nodes"))
    nc = dg.agg(F.count("*").cast("long").alias("n_communities"))
    qs = qn.agg(F.sum("qnum").cast("long").alias("qsum"))
    return (nn.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(mm))
            .crossJoin(F.broadcast(qs))
            .select("n_nodes", "n_communities",
                    F.col("m").alias("n_edges"),
                    F.round(F.col("qsum").cast("double")
                            / (F.lit(4.0) * F.col("m").cast("double")
                               * F.col("m").cast("double")), 6)
                    .alias("modularity")))


# ===========================================================================
# RFM segmentation — the classic customer-value quartile grid
# (recency / frequency / monetary) over the orders table.
# ===========================================================================

@register("q_rfm_segments", oracle="""
WITH c AS (
  SELECT o_custkey,
         max(datediff('day', DATE '1970-01-01', o_orderdate::DATE))
           ::BIGINT AS r_days,
         count(*)::BIGINT AS freq,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS mon_cents
  FROM orders GROUP BY o_custkey
), cuts AS (
  SELECT CAST(round(quantile_cont(r_days, 0.25)) AS BIGINT) AS r1,
         CAST(round(quantile_cont(r_days, 0.50)) AS BIGINT) AS r2,
         CAST(round(quantile_cont(r_days, 0.75)) AS BIGINT) AS r3,
         CAST(round(quantile_cont(freq, 0.25)) AS BIGINT) AS f1,
         CAST(round(quantile_cont(freq, 0.50)) AS BIGINT) AS f2,
         CAST(round(quantile_cont(freq, 0.75)) AS BIGINT) AS f3,
         CAST(round(quantile_cont(mon_cents, 0.25)) AS BIGINT) AS m1,
         CAST(round(quantile_cont(mon_cents, 0.50)) AS BIGINT) AS m2,
         CAST(round(quantile_cont(mon_cents, 0.75)) AS BIGINT) AS m3
  FROM c
), s AS (
  SELECT (1 + (r_days > r1)::INT + (r_days > r2)::INT
            + (r_days > r3)::INT)::BIGINT AS r_score,
         (1 + (freq > f1)::INT + (freq > f2)::INT
            + (freq > f3)::INT)::BIGINT AS f_score,
         (1 + (mon_cents > m1)::INT + (mon_cents > m2)::INT
            + (mon_cents > m3)::INT)::BIGINT AS m_score,
         freq, mon_cents
  FROM c CROSS JOIN cuts
)
SELECT r_score, f_score, m_score,
       count(*)::BIGINT AS n_customers,
       ((2 * CAST(sum(freq) AS BIGINT) * 1000000 + count(*))
        // (2 * count(*)))::DOUBLE / 1000000 AS avg_frequency,
       ((2 * CAST(sum(mon_cents) AS BIGINT) * 10000 + count(*))
        // (2 * count(*)))::DOUBLE / 1000000 AS avg_monetary
FROM s GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""")
def q_rfm_segments(spark: SparkSession, d: str) -> DataFrame:
    """RFM segmentation (Hughes 1994, public — the classic
    recency/frequency/monetary customer-value grid): per customer,
    recency = last order day (epoch days, BIGINT), frequency = order
    count, monetary = lifetime spend in exact cents; each metric is
    quartile-scored 1-4 against the interpolated 25/50/75 cuts over
    the customer table (score 4 = most recent / most frequent /
    highest spend — "greater than cut" on all three, so higher is
    uniformly better), and the output is the segment grid with
    member counts and average frequency/spend — the marketing-
    analytics staple that doubles, for a data pipeline, as the
    contributor-value segmentation of any user-sourced corpus.

    Exactness: per-customer aggregates are exact BIGINTs (cents
    quantized per ROW before the sum — the commutative-sum rule);
    the quartile cuts are interpolated percentiles rounded to the
    integer grid (the a29 convention: F.percentile ==
    quantile_cont), so every score is an exact integer comparison;
    averages divide once for display.

    Scale shape: one partial-aggregable groupBy(custkey); the cuts
    are ONE aggregate over the customer table broadcast back (the
    exact-percentile barrier runs over customers, not orders — and
    percentile_approx is the documented 100 TB knob, the a29_approx
    pattern); scoring is map-side; the final groupBy lands on <= 64
    segment keys."""
    orders = _t(spark, d, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.max(F.datediff(F.col("o_orderdate"),
                         F.lit("1970-01-01").cast("date")))
         .cast("long").alias("r_days"),
        F.count("*").cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
         .cast("long").alias("mon_cents"))
    aggs = []
    for col, pfx in (("r_days", "r"), ("freq", "f"),
                     ("mon_cents", "m")):
        for i, q in enumerate((0.25, 0.50, 0.75), 1):
            aggs.append(F.round(F.percentile(col, F.lit(q)))
                        .cast("long").alias(f"{pfx}{i}"))
    cuts = c.agg(*aggs)

    def score(col, pfx):
        return (F.lit(1)
                + (F.col(col) > F.col(f"{pfx}1")).cast("int")
                + (F.col(col) > F.col(f"{pfx}2")).cast("int")
                + (F.col(col) > F.col(f"{pfx}3")).cast("int")) \
            .cast("long")

    s = (c.crossJoin(F.broadcast(cuts))
         .select(score("r_days", "r").alias("r_score"),
                 score("freq", "f").alias("f_score"),
                 score("mon_cents", "m").alias("m_score"),
                 "freq", "mon_cents"))
    # display averages via EXACT half-up integer rounding on the 1e-6
    # grid — (2*s*G + n) div (2*n), all BIGINT — so neither engine
    # ever rounds a tie-adjacent double (a plain round(sum/n, 6)
    # differed by 1 ulp on one segment)
    g = (s.groupBy("r_score", "f_score", "m_score")
         .agg(F.count("*").cast("long").alias("n_customers"),
              F.sum("freq").cast("long").alias("__sf"),
              F.sum("mon_cents").cast("long").alias("__sm")))
    return (g.select(
        "r_score", "f_score", "m_score", "n_customers",
        (F.expr("(2 * __sf * 1000000 + n_customers)"
                " div (2 * n_customers)").cast("double") / 1000000)
        .alias("avg_frequency"),
        (F.expr("(2 * __sm * 10000 + n_customers)"
                " div (2 * n_customers)").cast("double") / 1000000)
        .alias("avg_monetary"))
        .orderBy("r_score", "f_score", "m_score"))


# ===========================================================================
# Streaming drift monitor — the checkpointed ingest twin of the dq9
# card: moment sums are a pure-addition merge (the CMS property), so
# the monitor maintains 2d rows of state forever and re-emits the
# card per batch.
# ===========================================================================

@register("st_drift_monitor", oracle=_dq9_oracle())
def st_drift_monitor(spark: SparkSession, d: str) -> DataFrame:
    """Streaming embedding-drift MONITOR: the dq9 card maintained
    through checkpointed micro-batches — each micro-batch of the paged
    vector tranches folds its per-(side, dim) integer moment sums (n,
    s1, s2 on the 1e-6 grid) into a versioned store by PURE ADDITION
    (the CMS merge property: mergeable sufficient statistics are what
    make a drift monitor a streaming operator at all; addition is why
    the fold is epoch-keyed), and the drained card — computed by the
    IDENTICAL _dq9_card arithmetic the batch entry compiles — must
    equal batch dq9_embedding_drift through its own value oracle.
    Vectors travel PRE-QUANTIZED (the st_ivf_ingest convention), so
    serialization is integer-exact and the stream sums are bit-equal
    to the batch scan's.

    This is the production shape: a vector-ingest pipeline never
    re-scans the resident corpus to re-check drift — it adds each
    batch's 2d-row moment delta to 2d rows of state and re-reads
    the card, at any corpus size.

    Scale shape: per-batch work is batch-sized (one posexplode +
    partial-agg); state is 2d rows of BIGINTs regardless of corpus;
    the card is a d-row aggregate off the state."""
    import shutil

    from ..functions.vector import to_double_array
    from ..session import scratch
    from ..sources.tables import fold_version, read_version
    from ..streaming import pipeline as SP

    emb = _t(spark, d, "embeddings")
    qv = F.transform(to_double_array(F.col("embedding")),
                     lambda x: F.round(x * _DQ9_G).cast("long"))
    pages = emb.select(F.col("vec_id").cast("string").alias("page_id"),
                       F.to_json(qv).alias("title"),
                       F.lit("vec").alias("lang"),
                       F.lit(0).cast("long").alias("n_chars"))
    store = scratch("st_dq9_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        b = rows.select(F.col("page_id").cast("long").alias("vec_id"),
                        F.from_json(F.col("title"), "array<bigint>")
                        .alias("qv"))
        inc = (b.select((F.col("vec_id") % 2).alias("side"),
                        F.posexplode(F.col("qv")).alias("pos", "q"))
               .select("side", (F.col("pos") + 1).cast("long")
                       .alias("dim"), "q")
               .groupBy("side", "dim")
               .agg(F.count("*").cast("long").alias("n"),
                    F.sum("q").cast("long").alias("s1"),
                    F.sum(F.col("q") * F.col("q")).cast("long")
                    .alias("s2")))
        fold_version(rows.sparkSession, store, epoch_id, inc,
                     _dq9_add)

    SP.drain_paged_tranches(spark, "st_dq9", SP.parity_tranches(pages),
                            merge)

    return _dq9_card(read_version(spark, store))


# ===========================================================================
# EWMA control chart on the daily error rate — the third classic
# control chart, completing the triad: dq6 is the Shewhart p-chart
# (big isolated shifts), dq7_cusum localizes a sustained level
# change, EWMA (Roberts 1959) catches SMALL persistent drifts the
# other two are least sensitive to.
# ===========================================================================

_EW_G = 1000000          # rate grid
_EW_WG = 100000000       # weight grid (1e8)
_EW_H = 40               # max day horizon for the weight tables
# lambda = 0.2: WL[j] = round(0.2 * 0.8^j * 1e8) weights x_{t-j} for
# j < t; WP[t] = round(0.8^t * 1e8) weights the chart's seed x_0.
# Module literals — both engines consume the SAME integers (the ir1
# injected-weights convention), so the chart is engine-exact.
_EW_WL = tuple(round(0.2 * 0.8 ** j * _EW_WG) for j in range(_EW_H))
_EW_WP = tuple(round(0.8 ** t * _EW_WG) for t in range(_EW_H))


def _dq10_oracle() -> str:
    wl = ", ".join(f"({j}, {w})" for j, w in enumerate(_EW_WL))
    wp = ", ".join(f"({t}, {w})" for t, w in enumerate(_EW_WP))
    return f"""
WITH days AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400)
         - (SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
            FROM events) AS day_idx,
         count(*)::BIGINT AS n_events,
         CAST(sum((event_type = 'error')::INT) AS BIGINT) AS n_errors
  FROM events GROUP BY 1
), x AS (
  SELECT day_idx, n_events, n_errors,
         ((2 * n_errors * {_EW_G} + n_events)
          // (2 * n_events))::BIGINT AS x_q
  FROM days
), wl(j, w) AS (VALUES {wl}),
wp(t, w) AS (VALUES {wp}),
z AS (
  SELECT t.day_idx,
         CAST(sum(CASE WHEN i.day_idx = 0
                       THEN p.w ELSE l.w END * i.x_q) AS BIGINT)
         // CAST(sum(CASE WHEN i.day_idx = 0
                          THEN p.w ELSE l.w END) AS BIGINT) AS z_q
  FROM x t JOIN x i ON i.day_idx <= t.day_idx
  LEFT JOIN wl l ON l.j = t.day_idx - i.day_idx
  LEFT JOIN wp p ON p.t = t.day_idx
  GROUP BY t.day_idx
), tot AS (
  SELECT ((2 * CAST(sum(n_errors) AS BIGINT) * {_EW_G}
           + CAST(sum(n_events) AS BIGINT))
          // (2 * CAST(sum(n_events) AS BIGINT)))::BIGINT AS pbar_q
  FROM days
)
SELECT x.day_idx AS day, x.n_events, x.n_errors,
       round(x.x_q::DOUBLE / {_EW_G}, 6) AS rate,
       z.z_q AS ewma_q,
       round(z.z_q::DOUBLE / {_EW_G}, 6) AS ewma,
       ((z.z_q - t.pbar_q) * (z.z_q - t.pbar_q) * x.n_events
        > t.pbar_q * ({_EW_G} - t.pbar_q)) AS ooc
FROM x JOIN z USING (day_idx) CROSS JOIN tot t
ORDER BY day
"""


@register("dq10_ewma_chart", oracle=_dq10_oracle())
def dq10_ewma_chart(spark: SparkSession, d: str) -> DataFrame:
    """EWMA control chart (Roberts 1959, public) on the daily error
    rate: z_t = 0.2·x_t + 0.8·z_(t-1) with 3-sigma binomial limits —
    the small-persistent-drift detector that completes the classic
    control-chart triad (dq6's Shewhart p-chart catches big isolated
    shifts, dq7_cusum localizes one sustained change, EWMA is the
    between case every SPC text pairs with them).

    Two exactness tricks.  (1) The recurrence is compiled to its
    CLOSED FORM — z_t = sum_j w_j · x_(t-j) with the lambda(1-l)^j
    geometric weights PRE-QUANTIZED to a 1e-8 integer grid as module
    literals both engines consume (the ir1 injected-weights
    convention); z_q = (sum w·x_q) div (sum w) is one BIGINT
    division, so no engine ever evaluates a sequential float
    recurrence.  (2) With lambda = 0.2 and L = 3 the control test
    collapses: sigma_z^2 = [l/(2-l)]·p(1-p)/n and 9·l/(2-l) = 1
    exactly, so out-of-control is the pure-integer comparison
    (z_q - pbar_q)^2 · n_t > pbar_q·(1e6 - pbar_q) — no sqrt, no
    float anywhere in the decision.

    Scale shape: one partial-aggregable scan to the DAYS-sized
    table; the weight convolution is a days x days self-join (the
    calendar is bounded — 30 rows here, never corpus-sized) against
    two broadcast literal weight tables; one 1-row total.  The
    window-free closed form is also the 100 TB shape: daily partial
    sums append incrementally and any day's z recomputes from the
    last {H} days' rates alone — the weight tables cap the horizon
    at {H} days by construction (both engines drop unmatched-weight
    terms identically, renormalizing by the same truncated weight
    sum; the mass beyond day {H} is (0.8)^{H} < 1.4e-4 of the
    chart)."""
    ev = _t(spark, d, "events")
    day = F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400")
    days = (ev.groupBy(day.alias("d"))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum((F.col("event_type") == "error").cast("int"))
                 .cast("long").alias("n_errors")))
    return dq10_chart_from_days(spark, days)


def dq10_chart_from_days(spark: SparkSession, days: DataFrame) -> DataFrame:
    """The EWMA chart tail over an already-aggregated per-day (d,
    n_events, n_errors) frame — split from dq10_ewma_chart so the
    streaming release audit (st_release_audit, catalog_r14) can run
    the identical closed-form arithmetic over its drained day store
    (per-day sums merge by pure addition — the mergeable state the
    batch docstring's 100 TB paragraph describes)."""
    from pyspark.sql import Row
    mn = days.agg(F.min("d").alias("d0"))
    x = (days.crossJoin(F.broadcast(mn))
         .select((F.col("d") - F.col("d0")).alias("day_idx"),
                 "n_events", "n_errors",
                 F.expr(f"(2 * n_errors * {_EW_G} + n_events)"
                        " div (2 * n_events)").cast("long")
                 .alias("x_q")))
    wl = spark.createDataFrame(
        [Row(j=j, w=w) for j, w in enumerate(_EW_WL)])
    wp = spark.createDataFrame(
        [Row(t=t, wpv=w) for t, w in enumerate(_EW_WP)])
    t_ = x.select(F.col("day_idx").alias("t"))
    i_ = x.select(F.col("day_idx").alias("i"), F.col("x_q"))
    pairs = (t_.join(i_, F.col("i") <= F.col("t"))
             .join(F.broadcast(wl), F.col("j") == F.col("t") - F.col("i"),
                   "left")
             .join(F.broadcast(wp), "t", "left")
             .select("t", "i", "x_q",
                     F.when(F.col("i") == 0, F.col("wpv"))
                     .otherwise(F.col("w")).alias("wt")))
    z = (pairs.groupBy("t")
         .agg(F.sum(F.col("wt") * F.col("x_q")).cast("long").alias("zn"),
              F.sum("wt").cast("long").alias("zd"))
         .select(F.col("t").alias("day_idx"),
                 F.expr("zn div zd").cast("long").alias("z_q")))
    tot = days.agg(
        F.expr(f"(2 * CAST(sum(n_errors) AS BIGINT) * {_EW_G}"
               " + CAST(sum(n_events) AS BIGINT))"
               " div (2 * CAST(sum(n_events) AS BIGINT))").cast("long")
        .alias("pbar_q"))
    dz = F.col("z_q") - F.col("pbar_q")
    return (x.join(z, "day_idx").crossJoin(F.broadcast(tot))
            .select(F.col("day_idx").alias("day"),
                    "n_events", "n_errors",
                    F.round(F.col("x_q").cast("double") / _EW_G, 6)
                    .alias("rate"),
                    F.col("z_q").alias("ewma_q"),
                    F.round(F.col("z_q").cast("double") / _EW_G, 6)
                    .alias("ewma"),
                    (dz * dz * F.col("n_events")
                     > F.col("pbar_q") * (_EW_G - F.col("pbar_q")))
                    .alias("ooc"))
            .orderBy("day"))


dq10_ewma_chart.__doc__ = dq10_ewma_chart.__doc__.format(H=_EW_H)


# ===========================================================================
# Good-Turing frequency-of-frequencies — the unseen-mass axis of the
# vocabulary trio (ta_heaps_curve reads growth, ta_zipf_fit reads
# decay, this reads how much probability the corpus has NOT seen).
# ===========================================================================

_GT_R = 10


def _gt_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH ta AS (
  SELECT {OV.tokens_sql('text')} AS a FROM documents
), toks AS (
  SELECT unnest(CASE WHEN len(a) >= 3
    THEN list_transform(range(1, len(a) - 1),
                        i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2])
    ELSE [] END) AS tok
  FROM ta
), tc AS (
  SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok
), ff AS (
  SELECT c AS r, count(*)::BIGINT AS n_r FROM tc GROUP BY c
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*)::BIGINT AS v_types
  FROM tc
), grid AS (
  SELECT unnest(range(0, {_GT_R} + 1))::BIGINT AS r
), rows_ AS (
  SELECT g.r,
         coalesce(f.n_r, 0)::BIGINT AS n_r,
         coalesce(f2.n_r, 0)::BIGINT AS n_r1
  FROM grid g
  LEFT JOIN ff f ON f.r = g.r
  LEFT JOIN ff f2 ON f2.r = g.r + 1
)
SELECT w.r, w.n_r,
       (CASE WHEN w.r = 0 THEN 0
             ELSE ((w.r + 1) * w.n_r1 * 1000000)
                  // greatest(w.n_r, 1) END)::BIGINT AS r_star_q,
       (CASE WHEN w.r = 0 THEN (w.n_r1 * 1000000) // t.n_tokens
             ELSE (w.r * w.n_r * 1000000) // t.n_tokens END)::BIGINT
         AS mass_q,
       round((CASE WHEN w.r = 0 THEN (w.n_r1 * 1000000) // t.n_tokens
                   ELSE (w.r * w.n_r * 1000000) // t.n_tokens
              END)::DOUBLE / 1000000, 6) AS mass
FROM rows_ w CROSS JOIN tot t
ORDER BY w.r
"""


@register("ta_goodturing", oracle=_gt_oracle())
def ta_goodturing(spark: SparkSession, d: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies over word TRIGRAMS
    (Good 1953, public — the missing-mass estimator behind every
    smoothed n-gram language model, and trigrams are its canonical
    habitat: the r8 backoff entry smooths exactly these unseen
    events): the N_r table (how many trigram types occur exactly r
    times) for r <= {R}, the Turing-adjusted count
    r* = (r+1)·N_(r+1)/N_r per row, and each count class's share of
    total trigram mass — with the r = 0 row carrying the famous
    headline: the UNSEEN mass N_1/N, the probability the next
    trigram drawn is one the corpus has never produced.  Completes
    the vocabulary trio (ta_heaps_curve = growth, ta_zipf_fit =
    decay, this = what is still missing): a corpus whose unseen
    mass stays high after ingesting a new source genuinely
    diversified; one whose N_1 collapsed is saturated — the
    measured "is more of this data worth it" signal data-mixing
    decisions want.  (Unigrams are the degenerate case on this
    closed-vocabulary corpus — every type repeats, N_1 = 0 — which
    is itself the saturation reading; the trigram space is where
    the estimator has events to estimate.)

    Exactness: N_r, N and V are exact integers; r* and the masses
    are published as 1e-6-grid truncating quotients (BIGINT — no
    float in any comparison), with one display division.  Trigram
    assembly is 1-based element_at on both engines; docs under 3
    tokens contribute nothing.

    Scale shape: one tokens() scan (map-side trigram transform) to
    the trigram-vocab-sized count table, one partial-agg to the
    frequency-of-frequencies table, a {R}+1-row literal grid
    left-joined against it, a 1-row total broadcast.  Nothing after
    the first groupBy is corpus-sized."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    tri = F.expr(
        "CASE WHEN size(__a) >= 3 THEN transform("
        "sequence(1, size(__a) - 2), i -> concat("
        "element_at(__a, i), ' ', element_at(__a, i + 1), ' ',"
        " element_at(__a, i + 2))) ELSE array() END")
    tc = (docs.select(tokens(F.col("text")).alias("__a"))
          .select(F.explode(tri).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("c")))
    ff = tc.groupBy(F.col("c").alias("r")) \
        .agg(F.count("*").cast("long").alias("n_r"))
    tot = tc.agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("v_types"))
    grid = spark.range(0, _GT_R + 1).select(F.col("id").alias("r"))
    ff1 = ff.select((F.col("r") - 1).alias("r"),
                    F.col("n_r").alias("n_r1"))
    rows = (grid.join(F.broadcast(ff), "r", "left")
            .join(F.broadcast(ff1), "r", "left")
            .select("r",
                    F.coalesce("n_r", F.lit(0)).cast("long").alias("n_r"),
                    F.coalesce("n_r1", F.lit(0)).cast("long")
                    .alias("n_r1")))
    out = rows.crossJoin(F.broadcast(tot))
    r_star = F.when(F.col("r") == 0, F.lit(0).cast("long")) \
        .otherwise(F.expr(
            "((r + 1) * n_r1 * 1000000) div greatest(n_r, 1)"))
    mass_q = F.when(F.col("r") == 0,
                    F.expr("(n_r1 * 1000000) div n_tokens")) \
        .otherwise(F.expr("(r * n_r * 1000000) div n_tokens"))
    return (out.select("r", "n_r",
                       r_star.cast("long").alias("r_star_q"),
                       mass_q.cast("long").alias("mass_q"),
                       F.round(mass_q.cast("double") / 1000000, 6)
                       .alias("mass"))
            .orderBy("r"))


ta_goodturing.__doc__ = ta_goodturing.__doc__.format(R=_GT_R)
