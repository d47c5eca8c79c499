"""Catalog extension 7 (round 9).

Wave 1 converts the documented-but-unbuilt 100 TB knobs from VERDICT
r8 into code: the approx-percentile funnel (ta_perplexity_approx /
cc_release_funnel_approx, Greenwald-Khanna sketch, a11-gated), IVF
bitext mining (r9_bitext_ivf + recall gate), adaptive multi-probe as
the engine default (eng_ivfpq_adaptive_recall), streaming SemDeDup
(st_semdedup — frozen-layout per-batch assignment, drained keeper
election hash-matches batch), BPE at depth 16
(t20_bpe_merges16/_curve), the fixed-eval IR tier, plus the
data-card additions (t31 epoch allocation, w12 curriculum
interleave, ir5 sign test, t33 Neyman allocation, dq3 KS drift,
mm_vad_segments).

Wave 2 broadens the training-data/analytics surface, one value
oracle each:

- eval hygiene: t34_ngram_contamination (GPT-3 App. C 8-gram
  overlap), ir7_kendall_tau (Matryoshka rank order).
- sketches: a22_theta_ndv / a23_theta_setops (fixed-theta distinct
  with set operations) + st_theta_ingest (union-semilattice
  streaming merge — CMS covers addition, theta covers union).
- events: ev_retention_triangle, ev_anomaly_mad, ev_stickiness,
  ev_funnel_ttc, ev_attribution_removal (Markov removal effect on a
  1e-6 integer grid).
- text: ta_zipf_fit, ta_burstiness (Fano factors), ta_source_tfidf,
  t35_span_corruption (T5 masks), t36_dup_quality_matrix.
- graphs (exact iterative members #6-7 + structure):
  g6_triangle_census, g7_kcore_peel, w13_kcenter_coreset,
  g2_silhouette.
- multimodal: mm_ahash_neardup (16-cell grid_features Arrow path —
  the 8-bit first cut measured a quadratic pair blowup at 10x),
  mm_ahash_components, mm_audio_fingerprint (Shazam constellation).
- storage/platform: s33_compaction_plan (next-fit-decreasing),
  a24_sampled_join_estimate (key-correlated join-size sampling).
- data quality: dq4_seasonality_chi2, dq5_benford, dq6_error_pchart
  — statistical tests with all-integer decisions.
- engine: ann_backend='lsh' (MLlib BRP-LSH) + eng_lsh_recall.

The retrieval entries named here (r9_*, eng_*, ir5, ir7) now live in
plans/retrieval.py.

"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register
from ..session import materialize


# ===========================================================================
# Approx-percentile tertile cut: the sketch form of the CCNet
# perplexity gate (VERDICT r8 #1)
# ===========================================================================

def _ppl_cut_gate_oracle() -> str:
    from .catalog_r8 import _ppl_cte
    return f"""
{_ppl_cte()}
SELECT count(*)::BIGINT AS n_docs,
       (SELECT c_head FROM cuts) AS c_head_exact,
       (SELECT c_mid FROM cuts) AS c_mid_exact,
       TRUE AS agree_ok
FROM per_doc
"""


@register("ta_perplexity_approx", oracle=_ppl_cut_gate_oracle())
def ta_perplexity_approx(spark: SparkSession, d: str) -> DataFrame:
    """The approx-percentile knob for the CCNet perplexity gate,
    gated a11-style (sketch vs exact twin): the EXACT tertile cuts
    are value-oracled (DuckDB quantile_cont recomputes them), and the
    Greenwald-Khanna sketch cuts (percentile_approx, accuracy 10000)
    must produce the SAME head/middle/tail bucket for >= 99% of
    documents (agree_ok).

    Why it matters at 100 TB: F.percentile buffers every log_ppl
    value in ONE aggregation buffer — the global barrier that made
    cc_release_funnel the worst honest stress ratio (2.42x @10x,
    STRESS_r08); percentile_approx is bounded-state and
    partial-aggregates map-side, so the cut costs one ordinary
    two-phase aggregate at any corpus size.  GK rank error is
    n/accuracy — exact below 10k rows, <= 0.01% of ranks beyond —
    so only documents sitting between the two cut candidates can
    change bucket, which is what the 99% agreement floor bounds."""
    from .catalog_r8 import _Q1, _Q2, _ppl_frame

    per_doc = _ppl_frame(spark, d).select("doc_id", "log_ppl")
    cuts = per_doc.agg(
        F.round(F.percentile("log_ppl", F.lit(_Q1)), 6).alias("c_head"),
        F.round(F.percentile("log_ppl", F.lit(_Q2)), 6).alias("c_mid"),
        F.round(F.expr(f"percentile_approx(log_ppl, {_Q1!r}, 10000)"),
                6).alias("a_head"),
        F.round(F.expr(f"percentile_approx(log_ppl, {_Q2!r}, 10000)"),
                6).alias("a_mid"))

    def bucket(head, mid):
        return (F.when(F.col("log_ppl") <= F.col(head), "head")
                .when(F.col("log_ppl") <= F.col(mid), "middle")
                .otherwise("tail"))

    j = per_doc.crossJoin(F.broadcast(cuts))
    return (j.agg(
        F.count("*").alias("n_docs"),
        F.first("c_head").alias("c_head_exact"),
        F.first("c_mid").alias("c_mid_exact"),
        ((F.sum((bucket("c_head", "c_mid") == bucket("a_head", "a_mid"))
                .cast("long")).cast("double")
          / F.count("*").cast("double")) >= 0.99).alias("agree_ok")))


def _funnel_approx_oracle() -> str:
    from .catalog_r8 import _release_funnel_oracle
    return f"""
WITH exact_funnel AS ({_release_funnel_oracle()})
SELECT stage_no, stage, docs AS docs_exact, est_tokens, share_of_raw,
       TRUE AS approx_ok
FROM exact_funnel ORDER BY stage_no
"""


@register("cc_release_funnel_approx", oracle=_funnel_approx_oracle())
def cc_release_funnel_approx(spark: SparkSession, d: str) -> DataFrame:
    """The release funnel with the SKETCH tertile cut in the
    perplexity stage — the production form at 100 TB, gated a11-style
    against the exact funnel: every stage's EXACT doc/token mass is
    value-oracled (docs_exact — DuckDB recomputes the whole exact
    funnel), and the approx-cut stage-5 count must land within
    max(3, 1%) of the exact stage-5 count (approx_ok; stages 0-4 do
    not touch the percentile, so only the perplexity stage can
    diverge and the bound is exactly the GK bucketing tolerance
    ta_perplexity_approx gates per-document).

    The pure-approx funnel (no exact twin in the plan — what a 100 TB
    run executes) is _release_funnel_frame(cuts='approx');
    scripts/stress_bench.py times it at the 10x tier, where removing
    the exact-percentile barrier drops the stress ratio below 2x."""
    from .catalog_r8 import _release_funnel_frame

    exact = _release_funnel_frame(spark, d, cuts="exact")
    approx = (_release_funnel_frame(spark, d, cuts="approx")
              .select("stage_no", F.col("docs").alias("docs_approx")))
    return (exact.join(F.broadcast(approx), "stage_no")
            .select("stage_no", "stage",
                    F.col("docs").alias("docs_exact"),
                    "est_tokens", "share_of_raw",
                    (F.abs(F.col("docs") - F.col("docs_approx"))
                     <= F.greatest(F.lit(3.0),
                                   F.col("docs").cast("double") * 0.01))
                    .alias("approx_ok"))
            .orderBy("stage_no"))


# ===========================================================================
# Streaming SemDeDup (VERDICT r8 #6): the semantic layer of the
# incremental-ingest story
# ===========================================================================

@register("st_semdedup", oracle="""
SELECT count(*)::BIGINT AS n_vectors, TRUE AS stream_matches_batch
FROM embeddings
""")
def st_semdedup(spark: SparkSession, d: str) -> DataFrame:
    """Streaming semantic dedup — the incremental twin of
    dd_semdedup, completing the layer stack next to st_dd_line_dedup
    (exact) and st_ivf_ingest (index): the k=4 cluster layout is
    trained OFFLINE once (the same seeded fit dd_semdedup uses,
    frozen), and each micro-batch of the paged vector tranches assigns
    its arrivals MAP-SIDE against the frozen centroid table and
    appends to a cell-partitioned member store.  The keeper election
    (drop v iff some same-cell member with a smaller id has cosine >=
    0.3 to it) is evaluated at READ time over the store alone —
    per-cell quadratic work reading only cell partitions, never a
    corpus re-scan — and is order-independent BY CONSTRUCTION: membership of the dropped set
    depends only on the final member multiset, so out-of-order
    tranches cannot change it (the same argument as the line-dedup
    min-semilattice, with "min similar id exists" as the monotone
    per-cell state).  The gate: the drained kept set must equal batch
    dd_semdedup's kept set exactly (md5 over the sorted id list),
    with n_vectors value-oracled.  Vectors travel as JSON DOUBLE
    arrays (float->double widening is exact and Double.toString
    roundtrips), so streamed cosines are bit-identical to batch.

    At 100 TB this is the production shape: assignment is map-side
    against a broadcast 4-row centroid table, the store append lands
    inside existing cell partitions (no reshuffle of prior data), and
    the election is an equi-join on the cell key exactly like batch
    SemDeDup."""
    import shutil

    from ..functions.vector import to_double_array
    from ..operators import dedup
    from ..operators.similarity import assign_cells, fit_centroids
    from ..session import scratch
    from ..streaming import pipeline as SP

    emb = _t(spark, d, "embeddings")

    # offline: the frozen layout (identical seeded fit to dd_semdedup)
    cents = fit_centroids(emb, n_lists=4)
    pages = emb.select(
        F.col("vec_id").cast("string").alias("page_id"),
        F.to_json(to_double_array(F.col("embedding"))).alias("title"),
        F.lit("vec").alias("lang"), F.lit(64).cast("long").alias("n_chars"))
    store = scratch("st_sd_store")
    shutil.rmtree(store, ignore_errors=True)

    def assign(rows: DataFrame, epoch_id: int) -> None:
        b = rows.select(F.col("page_id").cast("long").alias("vec_id"),
                        F.from_json(F.col("title"), "array<double>")
                        .alias("v"))
        (assign_cells(b, cents, vec_col="v", id_col="vec_id")
         .select("vec_id", "v", "cell")
         .write.mode("append").partitionBy("cell").parquet(store))

    SP.drain_paged_tranches(spark, "st_sd", SP.parity_tranches(pages),
                            assign)

    # election over the store alone (dedup-on-read keeps replayed
    # batches idempotent: each row is a pure function of the input)
    # norms hoisted out of the per-cell quadratic loop (the
    # semdedup_pairs idiom): dot/(na*nb) is bit-identical to cosine()
    from ..functions.vector import dot as _dot
    from ..functions.vector import norm as _norm
    members = (spark.read.parquet(store).select("vec_id", "v", "cell")
               .distinct().withColumn("__n", _norm(F.col("v"))))
    a = members.select(F.col("vec_id").alias("id_a"),
                       F.col("v").alias("va"),
                       F.col("__n").alias("na"), "cell")
    b = members.select(F.col("vec_id").alias("id_b"),
                       F.col("v").alias("vb"),
                       F.col("__n").alias("nb"), "cell")
    dropped = (a.join(b, "cell")
               .filter(F.col("id_a") < F.col("id_b"))
               .filter(_dot(F.col("va"), F.col("vb"))
                       / (F.col("na") * F.col("nb")) >= 0.3)
               .select(F.col("id_b").alias("vec_id")).distinct())
    stream_kept = members.select("vec_id") \
        .join(dropped, "vec_id", "left_anti")

    batch_dropped = (dedup.semdedup_pairs(emb, n_clusters=4,
                                          threshold=0.3)
                     .select(F.col("id_b").alias("vec_id")).distinct())
    batch_kept = emb.select("vec_id") \
        .join(batch_dropped, "vec_id", "left_anti")

    def kept_md5(df: DataFrame):
        return df.agg(F.md5(F.array_join(
            F.array_sort(F.collect_list(F.col("vec_id").cast("string"))),
            ",")).alias("h"))

    s = kept_md5(stream_kept).select(F.col("h").alias("h_stream"))
    bm = kept_md5(batch_kept).select(F.col("h").alias("h_batch"))
    n = emb.agg(F.count("*").alias("n_vectors"))
    return (n.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(bm))
            .select("n_vectors",
                    (F.col("h_stream") == F.col("h_batch"))
                    .alias("stream_matches_batch")))


# ===========================================================================
# BPE at depth 16 + the merges-vs-compression curve (VERDICT r8 #7)
# ===========================================================================

_BPE16 = 16
_BPE_CURVE_AT = (0, 4, 8, 16)


def _bpe16_oracle() -> str:
    from .catalog_r8 import _bpe_chain
    parts = [_bpe_chain(full=False, n_merges=_BPE16)]
    sel = "\nUNION ALL\n".join(
        f"SELECT {k + 1}::BIGINT AS merge_rank, a AS lhs, b AS rhs, "
        f"a || b AS merged, cnt AS pair_count FROM m{k}"
        for k in range(_BPE16))
    parts.append("\n" + sel + "\nORDER BY merge_rank")
    return "".join(parts)


@register("t20_bpe_merges16", oracle=_bpe16_oracle())
def t20_bpe_merges16(spark: SparkSession, d: str) -> DataFrame:
    """The BPE merge loop at REAL depth (16 merges vs the t20 demo's
    4 — production vocab training runs thousands of exactly these
    iterations): same greedy arg-max pair election, same fold
    rewrite, fully value-oracled through all 16 iterations (DuckDB
    re-walks the identical chain; ties broken cnt DESC then
    lexicographic in both engines' binary collation).  The vocab
    frame is localCheckpointed after each rewrite so iteration k
    costs one vocab-sized pair-count aggregate + one map-side fold —
    NOT a k-deep recompute — which is the property that lets the
    unroll extend to thousands of merges; the driver-side state per
    iteration is the 1-row arg-max (the PageRank-rank-vector bound,
    documented honestly)."""
    from .catalog_r8 import _bpe_learn
    merges, _ = _bpe_learn(spark, d, n_merges=_BPE16)
    return spark.createDataFrame(
        merges,
        "merge_rank long, lhs string, rhs string, "
        "merged string, pair_count long")


def _bpe_curve_oracle() -> str:
    from .catalog_r8 import _bpe_chain
    stage = ("SELECT {m}::BIGINT AS n_merges, "
             "CAST(sum(freq) AS BIGINT) AS n_words, "
             "CAST(sum(freq * len(syms)) AS BIGINT) AS n_symbols, "
             "round(sum(freq * len(syms))::DOUBLE "
             "/ sum(freq)::DOUBLE, 6) AS symbols_per_word "
             "FROM r{m}")
    sel = "\nUNION ALL\n".join(stage.format(m=m) for m in _BPE_CURVE_AT)
    return (_bpe_chain(full=True, n_merges=_BPE16)
            + "\n" + sel + "\nORDER BY n_merges")


@register("t20_bpe_curve", oracle=_bpe_curve_oracle())
def t20_bpe_curve(spark: SparkSession, d: str) -> DataFrame:
    """Merges-vs-compression curve: corpus-weighted symbols-per-word
    at vocab checkpoints 0/4/8/16 — the diminishing-returns read
    tokenizer training monitors to pick a vocab size (the t22
    fertility read at several vocab sizes, as the r8 verdict asked).
    Sums are exact BIGINT (freq x symbol count over the vocab
    table); one rounded division per checkpoint at the end.  The
    curve rides the SAME loop as t20_bpe_merges16 — each checkpoint
    is a 1-row aggregate of the checkpointed vocab frame, so the
    extra cost over learning is four vocab-sized scans."""
    from .catalog_r8 import _bpe_learn
    _, _, curve = _bpe_learn(spark, d, n_merges=_BPE16,
                             curve_at=_BPE_CURVE_AT)

    def summarize(m: int, w: DataFrame) -> DataFrame:
        return w.agg(
            F.lit(m).cast("long").alias("n_merges"),
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.size("syms")).cast("long")
             .alias("n_symbols"),
            F.round(F.sum(F.col("freq") * F.size("syms")).cast("double")
                    / F.sum("freq").cast("double"), 6)
             .alias("symbols_per_word"))

    out = [summarize(m, w) for m, w in curve]
    res = out[0]
    for a in out[1:]:
        res = res.unionByName(a)
    return res.orderBy("n_merges")


# ===========================================================================
# Data-card epoch allocation: the per-domain (tokens, weight, epochs)
# table LLaMA/GPT-3-style corpus releases publish
# ===========================================================================

_EPOCH_BUDGET = 2_000_000   # training-token budget for the allocation


@register("t31_epoch_allocation", oracle=f"""
WITH per_src AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         CAST(sum(length(text) // 4) AS BIGINT) AS est_tokens
  FROM documents GROUP BY source
), wq AS (
  SELECT *, CAST(floor(sqrt(est_tokens::DOUBLE) * 1000000.0) AS BIGINT)
              AS w_q
  FROM per_src
), tot AS (
  SELECT CAST(sum(w_q) AS BIGINT) AS sw FROM wq
)
SELECT w.source, w.n_docs, w.est_tokens,
       round(w.w_q::DOUBLE / t.sw::DOUBLE, 6) AS mix_weight,
       ({_EPOCH_BUDGET}::BIGINT * w.w_q) // t.sw AS alloc_tokens,
       round((({_EPOCH_BUDGET}::BIGINT * w.w_q) // t.sw)::DOUBLE
             / w.est_tokens::DOUBLE, 6) AS epochs
FROM wq w CROSS JOIN tot t ORDER BY w.source
""")
def t31_epoch_allocation(spark: SparkSession, d: str) -> DataFrame:
    """The per-domain sampling table a corpus release publishes
    (LLaMA's Table 1 / GPT-3's Table 2.2 shape, public): per source,
    document and token mass, the mixture weight, the token allocation
    out of a fixed training budget, and the implied EPOCH count
    (allocation / corpus tokens — >1 means the domain repeats,
    exactly how those cards report Wikipedia at multiple epochs).
    Weights follow the temperature-0.5 rule the t24 family uses
    (w ∝ sqrt(tokens) — upweights small domains); the allocation is
    ALL-INTEGER (weights quantized to 1e-6 via floor(sqrt*1e6) —
    sqrt is IEEE-correctly-rounded in both engines — and the budget
    split is BIGINT division), so the table is engine-exact with the
    two ratio columns rounded once at the end.

    Plan: one conditional-agg scan to the source-count table, a
    1-row broadcast total, map-side arithmetic — the same shape as
    t24's threshold table, at any corpus size."""
    from ..functions import text as X
    docs = _t(spark, d, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.token_estimate(F.col("text"))).cast("long")
         .alias("est_tokens"))
    wq = per_src.withColumn(
        "w_q", F.floor(F.sqrt(F.col("est_tokens").cast("double"))
                       * F.lit(1000000.0)).cast("long"))
    tot = wq.agg(F.sum("w_q").cast("long").alias("sw"))
    alloc = F.expr(f"({_EPOCH_BUDGET}L * w_q) div sw")
    return (wq.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "est_tokens",
                    F.round(F.col("w_q").cast("double")
                            / F.col("sw").cast("double"), 6)
                     .alias("mix_weight"),
                    alloc.alias("alloc_tokens"),
                    F.round(alloc.cast("double")
                            / F.col("est_tokens").cast("double"), 6)
                     .alias("epochs"))
            .orderBy("source"))


# ===========================================================================
# Curriculum interleave with a DISTRIBUTED two-phase rank: global
# training order without a global sort
# ===========================================================================

_CURR_BLOCK = 256


def _curriculum_oracle() -> str:
    from .oracle_sql import quality_sql
    return f"""
WITH q AS (
  SELECT doc_id,
         least(9, CAST(floor(round({quality_sql('text')}, 6) * 10)
                       AS BIGINT)) AS bucket
  FROM documents
), r AS (
  SELECT doc_id, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
           AS rank_in_bucket
  FROM q
)
SELECT doc_id, bucket, rank_in_bucket,
       rank_in_bucket * 10 + bucket AS curriculum_pos
FROM r
"""


@register("w12_curriculum_interleave", oracle=_curriculum_oracle())
def w12_curriculum_interleave(spark: SparkSession, d: str) -> DataFrame:
    """Curriculum training order: documents bucketed by quality
    decile (map-side floor on the t2 score — no percentile pass) and
    INTERLEAVED round-robin across buckets (pos = rank_in_bucket x 10
    + bucket), so every stretch of the training stream sees the full
    quality spectrum — the anti-ordering-bias manifest curriculum
    and data-mixing pipelines emit.

    The interesting part is the rank: a naive row_number per bucket
    is a 10-partition window — the worst possible skew at any real
    size.  Here the rank is TWO-PHASE (the zipWithIndex pattern as
    pure DataFrame algebra): block = doc_id div {_CURR_BLOCK}; the
    per-(bucket, block) COUNT table (corpus/{_CURR_BLOCK} rows) gets
    per-bucket running offsets — the only window runs over that
    3-orders-smaller counts table — and the final rank is
    broadcast-joined offset + row_number within (bucket, block),
    whose partition count GROWS with the corpus.  At another 100x,
    recurse the same trick on the counts table.  Value-oracled
    against the naive single-window rank — both engines must agree
    row for row."""
    from ..functions import text as X
    from pyspark.sql import Window as W
    docs = _t(spark, d, "documents").select("doc_id", "text")
    q = X.with_quality(docs).select(
        "doc_id",
        F.least(F.lit(9), F.floor(F.round(F.col("quality_score"), 6)
                                  * 10).cast("long")).alias("bucket"),
        (F.col("doc_id") / _CURR_BLOCK).cast("long").alias("block"))
    cnt = q.groupBy("bucket", "block").agg(F.count("*").alias("n"))
    woff = (W.partitionBy("bucket").orderBy("block")
            .rowsBetween(W.unboundedPreceding, -1))
    off = cnt.select("bucket", "block",
                     F.coalesce(F.sum("n").over(woff), F.lit(0))
                      .alias("offset"))
    wrk = W.partitionBy("bucket", "block").orderBy("doc_id")
    ranked = (q.join(F.broadcast(off), ["bucket", "block"])
              .withColumn("rank_in_bucket",
                          F.col("offset") + F.row_number().over(wrk) - 1))
    return ranked.select(
        "doc_id", "bucket", "rank_in_bucket",
        (F.col("rank_in_bucket") * 10 + F.col("bucket"))
        .alias("curriculum_pos"))


# ===========================================================================
# Neyman stratified allocation — variance-optimal sample budgets
# ===========================================================================

_NEYMAN_BUDGET = 1000


@register("t33_neyman_alloc", oracle=f"""
WITH s AS (
  SELECT lang, count(*)::BIGINT AS n_h,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_h,
         CAST(floor(sqrt((n_h * s2 - s1 * s1)::DOUBLE)) AS BIGINT)
           AS w_q
  FROM s
), tot AS (
  SELECT CAST(sum(w_q) AS BIGINT) AS sw FROM w
)
SELECT w.lang, w.n_h, w.w_q,
       round(w.w_q::DOUBLE / t.sw::DOUBLE, 6) AS neyman_share,
       ({_NEYMAN_BUDGET}::BIGINT * w.w_q) // t.sw AS alloc_docs
FROM w w CROSS JOIN tot t ORDER BY w.lang
""")
def t33_neyman_alloc(spark: SparkSession, d: str) -> DataFrame:
    """Neyman allocation of a fixed audit/labeling budget across
    language strata (Neyman 1934, public — the variance-optimal rule
    every survey-sampling text teaches): n_h* ∝ N_h x S_h, where S_h
    is the stratum's length standard deviation — high-variance
    strata get proportionally more of the budget than flat
    proportional sampling would give.  The quality-audit planner a
    curation team runs before human-labeling a corpus slice.

    The exactness trick: N_h x S_h = sqrt(N_h² x Var_h) =
    sqrt(N_h x Σy² - (Σy)²) — the radicand is an EXACT BIGINT from
    two integer sums, sqrt is IEEE-correctly-rounded in both
    engines, and floor quantizes it back to BIGINT, so weights and
    the budget split are engine-exact end to end (share rounded once
    for display).  Radicand magnitude: n x Σy² — document counts to
    ~1e5 with 1e4-char docs stay far inside BIGINT; at larger scale
    shift y to a coarser grid first (the g2/g4 grid convention).

    Plan: one partial-aggregable scan (three sums per stratum), a
    1-row broadcast total, map-side arithmetic."""
    docs = _t(spark, d, "documents")
    s = docs.groupBy("lang").agg(
        F.count("*").alias("n_h"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long")
         .alias("s2"))
    w = s.select(
        "lang", "n_h",
        F.floor(F.sqrt((F.col("n_h") * F.col("s2")
                        - F.col("s1") * F.col("s1")).cast("double")))
         .cast("long").alias("w_q"))
    tot = w.agg(F.sum("w_q").cast("long").alias("sw"))
    return (w.crossJoin(F.broadcast(tot))
            .select("lang", "n_h", "w_q",
                    F.round(F.col("w_q").cast("double")
                            / F.col("sw").cast("double"), 6)
                     .alias("neyman_share"),
                    F.expr(f"({_NEYMAN_BUDGET}L * w_q) div sw")
                     .alias("alloc_docs"))
            .orderBy("lang"))


# ===========================================================================
# Kolmogorov-Smirnov drift — the binless companion to dq2's PSI
# ===========================================================================

@register("dq3_ks_drift", oracle="""
WITH t AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS c, n_chars AS v
  FROM documents
), cnts AS (
  SELECT v, CAST(sum((c = 0)::INT) AS BIGINT) AS a,
         CAST(sum((c = 1)::INT) AS BIGINT) AS b
  FROM t GROUP BY v
), tot AS (
  SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
  FROM cnts
), cum AS (
  SELECT v, CAST(sum(a) OVER (ORDER BY v) AS BIGINT) AS ca,
         CAST(sum(b) OVER (ORDER BY v) AS BIGINT) AS cb
  FROM cnts
), dev AS (
  SELECT v, abs(ca * n2 - cb * n1) AS dnum FROM cum CROSS JOIN tot
), mx AS (
  SELECT max(dnum) AS dmax FROM dev
), at AS (
  SELECT min(v) AS v_at FROM dev CROSS JOIN mx WHERE dnum = dmax
)
SELECT n1 AS n_base, n2 AS n_current, dmax AS d_num,
       v_at AS ks_at_value,
       round(dmax::DOUBLE / (n1 * n2)::DOUBLE, 6) AS ks_stat,
       (dmax::DOUBLE > 1.358 * sqrt(((n1 + n2) * n1 * n2)::DOUBLE))
         AS drift_flag
FROM tot CROSS JOIN mx CROSS JOIN at
""")
def dq3_ks_drift(spark: SparkSession, d: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on document length
    across the dq2 cohort split — the BINLESS companion to PSI
    (PSI's bins can hide drift that lands inside a bin; KS reads the
    maximum ECDF gap wherever it occurs, and reports the length at
    which it occurs — the actionable part for a curation team).

    The exactness trick: D = max_v |F1(v) - F2(v)| is computed as an
    INTEGER — max |cum1(v)*n2 - cum2(v)*n1| over the value domain —
    so the max, its argmax (min-v tiebreak), and the 5%-level
    decision D > 1.358*sqrt((n1+n2)/(n1*n2)) (both sides multiplied
    by n1*n2, radicand an exact BIGINT, sqrt correctly rounded) are
    engine-exact; only the display statistic divides.

    Plan: one conditional-agg scan to the per-length count table;
    the only window (the running ECDF) runs over THAT table, whose
    row count is the length DOMAIN (bounded by max doc length, not
    corpus size — the skyline score-table argument); two 1-row
    aggregates finish."""
    from pyspark.sql import Window as W
    docs = _t(spark, d, "documents")
    t = docs.select(
        (F.col("doc_id") % 2 == 0).cast("int").alias("is_base"),
        F.col("n_chars").alias("v"))
    cnts = t.groupBy("v").agg(
        F.sum("is_base").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("is_base")).cast("long").alias("b"))
    tot = cnts.agg(F.sum("a").cast("long").alias("n1"),
                   F.sum("b").cast("long").alias("n2"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = cnts.select("v", F.sum("a").over(wv).cast("long").alias("ca"),
                      F.sum("b").over(wv).cast("long").alias("cb"))
    dev = (cum.crossJoin(F.broadcast(tot))
           .select("v", F.abs(F.col("ca") * F.col("n2")
                              - F.col("cb") * F.col("n1")).alias("dnum")))
    mx = dev.agg(F.max("dnum").alias("dmax"))
    at = (dev.join(F.broadcast(mx), dev["dnum"] == mx["dmax"])
          .agg(F.min("v").alias("ks_at_value")))
    thresh = 1.358 * F.sqrt(((F.col("n1") + F.col("n2"))
                             * F.col("n1") * F.col("n2")).cast("double"))
    return (tot.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(at))
            .select(F.col("n1").alias("n_base"),
                    F.col("n2").alias("n_current"),
                    F.col("dmax").alias("d_num"),
                    "ks_at_value",
                    F.round(F.col("dmax").cast("double")
                            / (F.col("n1") * F.col("n2")).cast("double"),
                            6).alias("ks_stat"),
                    (F.col("dmax").cast("double") > thresh)
                    .alias("drift_flag")))


# ===========================================================================
# Voice-activity segments: the multimodal composition windows ->
# per-window feature -> island merge -> segment manifest
# ===========================================================================

def _vad_oracle() -> str:
    return """
WITH base AS (
  SELECT doc_id, text, (n_chars * 100)::BIGINT AS n_samples
  FROM documents
), w AS (
  SELECT doc_id, text, n_samples,
         1 + greatest(0, (n_samples - 16000 + 7999) // 8000) AS n_win
  FROM base
), win AS (
  SELECT doc_id, text, i::BIGINT AS wi,
         (i * 8000)::BIGINT AS s,
         least(i * 8000 + 16000, n_samples)::BIGINT AS e
  FROM w, LATERAL unnest(range(0, n_win)) AS t(i)
), feat AS (
  SELECT doc_id, wi, s, e,
         length(substr(text, (s // 100) + 1, (e - s) // 100))::BIGINT
           AS n_ch,
         (length(substr(text, (s // 100) + 1, (e - s) // 100))
          - length(replace(substr(text, (s // 100) + 1, (e - s) // 100),
                           'a', '')))::BIGINT AS n_voiced
  FROM win
), act AS (
  SELECT doc_id, wi, s, e,
         wi - row_number() OVER (PARTITION BY doc_id ORDER BY wi)
           AS grp
  FROM feat WHERE n_voiced * 1000 >= n_ch * 80 AND n_ch > 0
), seg AS (
  SELECT doc_id, grp, min(s)::BIGINT AS start_sample,
         max(e)::BIGINT AS end_sample, count(*)::BIGINT AS n_windows
  FROM act GROUP BY doc_id, grp
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY start_sample)
        - 1)::BIGINT AS seg_index,
       start_sample, end_sample, n_windows
FROM seg
"""


@register("mm_vad_segments", oracle=_vad_oracle())
def mm_vad_segments(spark: SparkSession, d: str) -> DataFrame:
    """Voice-activity segments over the audio payload: the full
    multimodal composition — mm_audio_windows' 1 s/0.5 s-hop layout,
    a per-window ENERGY feature (deterministic stand-in decode, the
    mm convention: the window's byte range maps back to a text slice
    and 'energy' = density of the letter 'a' in it, active at >= 8% —
    a proxy chosen because it VARIES per window, ~half the windows
    on the corpus pass, so the island structure is actually
    exercised; a real RMS energy plugs in at the same point), and
    a gaps-and-islands merge of consecutive active windows into
    speech segments (the ev_error_bursts rn-difference shape), giving
    the (start_sample, end_sample, n_windows) manifest a
    speech-pipeline (ASR pre-filter, diarization) consumes.  A real
    energy feature plugs in at the same point decode_features does —
    per-window map-side arithmetic; everything downstream is
    unchanged.

    Scale shape: windowing and the feature are map-side after one
    scan; the only shuffles are the per-(doc) islands window and the
    per-(doc, grp) segment aggregate — both keyed by doc_id (the
    sessionize shard), never global."""
    from pyspark.sql import Window as W
    docs = _t(spark, d, "documents").select(
        "doc_id", "text",
        (F.col("n_chars") * 100).cast("long").alias("n_samples"))
    from ..operators import multimodal
    win = multimodal.audio_windows(docs).join(
        docs.select("doc_id", "text"), "doc_id")
    s, e = F.col("start_sample"), F.col("end_sample")
    sl = F.substring(F.col("text"), (s / 100).cast("int") + 1,
                     ((e - s) / 100).cast("int"))
    feat = win.select(
        "doc_id", F.col("window_index").cast("long").alias("wi"), s, e,
        F.length(sl).cast("long").alias("n_ch"),
        (F.length(sl)
         - F.length(F.regexp_replace(sl, "a", ""))).cast("long")
        .alias("n_voiced"))
    act = (feat.filter((F.col("n_voiced") * 1000 >= F.col("n_ch") * 80)
                       & (F.col("n_ch") > 0))
           .withColumn("grp", F.col("wi") - F.row_number().over(
               W.partitionBy("doc_id").orderBy("wi"))))
    seg = (act.groupBy("doc_id", "grp")
           .agg(F.min("start_sample").alias("start_sample"),
                F.max("end_sample").alias("end_sample"),
                F.count("*").alias("n_windows")))
    return (seg.withColumn(
        "seg_index",
        (F.row_number().over(W.partitionBy("doc_id")
                             .orderBy("start_sample")) - 1)
        .cast("long"))
        .select("doc_id", "seg_index", "start_sample", "end_sample",
                "n_windows"))

# ===========================================================================
# Eval-set contamination at the n-gram level — the GPT-3 Appendix C
# audit between the t26 split halves (exact-hash leakage's finer twin)
# ===========================================================================

def _contamination_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8 import _DUPG_N
    from .catalog_r8b import _split_cte
    toks = OV.tokens_sql("text")
    grams = f"""(
  CASE WHEN len({toks}) >= {_DUPG_N}
       THEN list_transform(range(1, len({toks}) - {_DUPG_N - 2}),
              i -> array_to_string(
                     list_slice({toks}, i, i + {_DUPG_N - 1}), ' '))
       WHEN len({toks}) > 0
       THEN [array_to_string({toks}, ' ')]
       ELSE []::VARCHAR[] END)"""
    return _split_cte() + f""",
g AS (
  SELECT a.doc_id, a.split, md5(unnest({grams})) AS h
  FROM documents d JOIN assigned a ON a.doc_id = d.doc_id
), train_set AS (
  SELECT DISTINCT h FROM g WHERE split = 'train'
), test_g AS (
  SELECT g.doc_id, g.h,
         (t.h IS NOT NULL)::INT AS hit
  FROM g LEFT JOIN train_set t ON t.h = g.h
  WHERE g.split = 'test'
)
SELECT doc_id, count(*)::BIGINT AS n_grams,
       CAST(sum(hit) AS BIGINT) AS n_contaminated,
       round(sum(hit)::DOUBLE / count(*)::DOUBLE, 6) AS contam_frac,
       (sum(hit) > 0) AS is_contaminated
FROM test_g GROUP BY doc_id ORDER BY doc_id
"""


@register("t34_ngram_contamination", headline=True,
          oracle=_contamination_oracle())
def t34_ngram_contamination(spark: SparkSession, d: str) -> DataFrame:
    """N-gram-level eval contamination audit (Brown et al. 2020
    Appendix C, public — GPT-3 flagged eval examples sharing any
    13-gram with training data; we reuse the corpus 8-gram unit of
    dd_dupgram_profile since the synthetic docs are short): for every
    TEST-split document, the count and fraction of its sliding word
    8-grams that occur in ANY train-split document — the finer twin
    of t26_split_leakage's exact-hash check (exact hashing misses a
    test doc that QUOTES a training paragraph; the n-gram audit is
    what the published decontamination recipes actually run).

    Scale shape: the train gram set is distinct md5(8-gram) hashes —
    flat crypto keys, partial-aggregable distinct; the test side
    left-joins on the same flat key (AQE-splittable, gram text never
    shuffles — the dd_dupgram_profile argument).  Test side is ~10%
    of the corpus by the split hash, so the probe relation is the
    small one; at 100 TB you'd bloom-filter the train set first
    (a21's exact machinery) before the anti-join, which this
    composes with unchanged.

    Reference parity: the reference dedups eval contamination only by
    exact id (second_brain_offline equivalents); this is the
    beyond-reference training-data surface SURVEY §2.12 mandates."""
    from ..operators.dedup import tokens
    from .catalog_r8 import _DUPG_N
    from .catalog_r8b import t26_eval_split

    docs = _t(spark, d, "documents")
    split = t26_eval_split(spark, d).select("doc_id", "split")
    t = tokens(F.col("text"))
    n = F.size(t)
    grams = (F.when(n >= _DUPG_N,
                    F.transform(F.sequence(F.lit(1), n - (_DUPG_N - 1)),
                                lambda i: F.array_join(
                                    F.slice(t, i, _DUPG_N), " ")))
             .when(n > 0, F.array(F.array_join(t, " ")))
             .otherwise(F.array().cast("array<string>")))
    g = (docs.join(split, "doc_id")
         .select("doc_id", "split", F.explode(grams).alias("gram"))
         .select("doc_id", "split", F.md5("gram").alias("h")))
    train_set = (g.filter(F.col("split") == "train")
                 .select("h").distinct()
                 .withColumn("hit", F.lit(1)))
    test_g = (g.filter(F.col("split") == "test")
              .join(train_set, "h", "left")
              .select("doc_id", F.coalesce("hit", F.lit(0)).alias("hit")))
    return (test_g.groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum("hit").cast("long").alias("n_contaminated"),
                 F.round(F.sum("hit").cast("double")
                         / F.count("*").cast("double"), 6)
                  .alias("contam_frac"),
                 (F.sum("hit") > 0).alias("is_contaminated"))
            .orderBy("doc_id"))


# ===========================================================================
# Cohort retention triangle — the week-over-week survival read behind
# ev_growth_accounting's net ledger
# ===========================================================================

@register("ev_retention_triangle", oracle="""
WITH wk AS (
  SELECT DISTINCT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 604800)::BIGINT AS wk
  FROM events
), cohort AS (
  SELECT user_id, min(wk)::BIGINT AS cohort_wk FROM wk GROUP BY user_id
), sized AS (
  SELECT cohort_wk, count(*)::BIGINT AS cohort_n FROM cohort
  GROUP BY cohort_wk
), tri AS (
  SELECT c.cohort_wk, (w.wk - c.cohort_wk)::BIGINT AS week_offset,
         count(DISTINCT w.user_id)::BIGINT AS n_active
  FROM wk w JOIN cohort c ON c.user_id = w.user_id
  GROUP BY c.cohort_wk, w.wk - c.cohort_wk
)
SELECT t.cohort_wk, s.cohort_n, t.week_offset, t.n_active,
       round(t.n_active::DOUBLE / s.cohort_n::DOUBLE, 6) AS retention
FROM tri t JOIN sized s ON s.cohort_wk = t.cohort_wk
ORDER BY t.cohort_wk, t.week_offset
""")
def ev_retention_triangle(spark: SparkSession, d: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity
    week (the cohort), and for each (cohort, week-offset) cell the
    count and share of the cohort still active — the classic
    product-analytics triangle whose diagonal slices are
    ev_growth_accounting's retained/churned ledger (the two entries
    cross-check: offset-k actives of cohort c appear in week c+k's
    actives).  Integer week indices (epoch div 604800) keep both
    engines free of date-formatting traps, the ev_growth_accounting
    convention.

    Scale shape: one distinct (user, week) projection (partial-agg),
    a per-user min (partial-agg), a user-keyed join co-partitioned
    on user_id, then a (cohort, offset)-keyed count distinct whose
    key domain is weeks² — bounded by the calendar, not the corpus.
    Cohort sizes broadcast back (weeks-sized table)."""
    ev = _t(spark, d, "events")
    wk = (ev.select("user_id",
                    F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 604800")
                    .alias("wk"))
          .distinct())
    cohort = wk.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sized = cohort.groupBy("cohort_wk").agg(
        F.count("*").alias("cohort_n"))
    tri = (wk.join(cohort, "user_id")
           .groupBy("cohort_wk",
                    (F.col("wk") - F.col("cohort_wk")).alias("week_offset"))
           .agg(F.countDistinct("user_id").alias("n_active")))
    return (tri.join(F.broadcast(sized), "cohort_wk")
            .select("cohort_wk", "cohort_n", "week_offset", "n_active",
                    F.round(F.col("n_active").cast("double")
                            / F.col("cohort_n").cast("double"), 6)
                     .alias("retention"))
            .orderBy("cohort_wk", "week_offset"))


# ===========================================================================
# Robust daily-volume anomaly flags — median/MAD over the day table
# ===========================================================================

@register("ev_anomaly_mad", oracle="""
WITH daily AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400)::BIGINT AS day,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY (CAST(floor(epoch(ts)) AS BIGINT) // 86400)
), med AS (
  SELECT CAST(round(quantile_cont(n_events, 0.5) * 2) AS BIGINT)
           AS med2
  FROM daily
), dev AS (
  SELECT day, n_events, abs(2 * n_events - m.med2)::BIGINT AS dev2
  FROM daily CROSS JOIN med m
), mad AS (
  SELECT CAST(round(quantile_cont(dev2, 0.5)) AS BIGINT) AS mad2
  FROM dev
)
SELECT day, n_events,
       round(med2::DOUBLE / 2, 1) AS med,
       round(mad2::DOUBLE / 2, 1) AS mad,
       (dev2 * 10 > 30 * greatest(mad2, 1)) AS is_anomaly
FROM dev CROSS JOIN med CROSS JOIN mad
ORDER BY day
""")
def ev_anomaly_mad(spark: SparkSession, d: str) -> DataFrame:
    """Robust daily-volume anomaly detection: flag days whose event
    count deviates from the corpus median by more than 3 MADs
    (Leys et al. 2013, public — the median/MAD rule is the robust
    replacement for mean/sigma, immune to the very outliers it
    hunts).  The pipeline-health read a crawl operator checks before
    trusting a day's ingest.

    The exactness trick: the interpolated median of INTEGER counts is
    always an integer or a half — so 2x(median) is an exact BIGINT
    on both engines (round() only shakes off float formatting), the
    deviation 2|n - med| is BIGINT, and the flag comparison
    dev2 > 3 x mad2 runs entirely in integers (x10 to keep the
    3.0 literal integral; max(mad2,1) so a zero-MAD corpus doesn't
    flag every day).  Only the display columns divide by 2.

    Scale shape: one partial-aggregable scan to the DAY table —
    every later step (two exact medians, the flags) runs over a
    table bounded by the calendar, not the corpus (the dq3_ks_drift
    domain argument), so the exact percentile here is NOT the w10
    global barrier: its input is days-sized."""
    ev = _t(spark, d, "events")
    daily = (ev.groupBy(F.expr("CAST(unix_timestamp(ts) AS BIGINT)"
                               " div 86400").alias("day"))
             .agg(F.count("*").alias("n_events")))
    med = daily.agg(
        F.round(F.percentile("n_events", F.lit(0.5)) * 2)
        .cast("long").alias("med2"))
    dev = (daily.crossJoin(F.broadcast(med))
           .select("day", "n_events", "med2",
                   F.abs(2 * F.col("n_events") - F.col("med2"))
                   .cast("long").alias("dev2")))
    mad = dev.agg(F.round(F.percentile("dev2", F.lit(0.5)))
                  .cast("long").alias("mad2"))
    return (dev.crossJoin(F.broadcast(mad))
            .select("day", "n_events",
                    F.round(F.col("med2").cast("double") / 2, 1)
                     .alias("med"),
                    F.round(F.col("mad2").cast("double") / 2, 1)
                     .alias("mad"),
                    (F.col("dev2") * 10
                     > 30 * F.greatest(F.col("mad2"), F.lit(1)))
                    .alias("is_anomaly"))
            .orderBy("day"))

# ===========================================================================
# Fixed-theta distinct sketches over content shingles — mergeable NDV
# + the set-operation story (union / intersection / Jaccard across
# sources) the HLL entry (a10) cannot provide
# ===========================================================================

_THETA_RATE_INV = 16                      # keep 1/16 of the hash space
_THETA = (1 << 60) // _THETA_RATE_INV     # 60-bit md5-prefix domain

_H60_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _h60(col):
    """First 60 bits of md5 as a non-negative BIGINT (15 hex chars —
    the md5_int32 convention widened so a 1/16 threshold still leaves
    a fine-grained survivor grid)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _theta_shingle_cte() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    sh = OV.word_shingles_sql(toks, 3)
    return f"""
WITH s AS (
  SELECT source, {_H60_SQL.format(x='unnest(' + sh + ')')} AS h
  FROM documents
)"""


@register("a22_theta_ndv", oracle=_theta_shingle_cte() + f"""
SELECT source,
       count(DISTINCT h)::BIGINT AS exact_ndv,
       count(DISTINCT CASE WHEN h < {_THETA} THEN h END)::BIGINT
         AS n_keep,
       (count(DISTINCT CASE WHEN h < {_THETA} THEN h END)
        * {_THETA_RATE_INV})::BIGINT AS est_ndv,
       round(abs(count(DISTINCT CASE WHEN h < {_THETA} THEN h END)
                 * {_THETA_RATE_INV} - count(DISTINCT h))::DOUBLE
             / count(DISTINCT h)::DOUBLE, 6) AS rel_err
FROM s GROUP BY source ORDER BY source
""")
def a22_theta_ndv(spark: SparkSession, d: str) -> DataFrame:
    """Fixed-theta distinct sketch (Dasgupta et al. 2016, public —
    the DataSketches theta family) over per-source word 3-shingles:
    keep only hashes below theta = hash_space / 16, estimate NDV as
    16 x survivor count.  Deterministic md5 hashing makes survivor
    counts, estimates, AND the exact twin all value-oracled — the
    a10 HLL gate pattern upgraded to exact cross-engine equality.

    Why beside HLL (a10): HLL gives cardinality only; the theta
    survivor SET supports union/intersection/Jaccard across sources
    (a23_theta_setops) because sampling by a fixed hash threshold
    commutes with set operations — the property that makes it the
    right inter-source duplication estimator for a crawl registry.

    Scale shape: the survivor filter h < theta is MAP-SIDE (1/16 of
    distinct keys ever shuffle), then a partial-aggregable distinct
    per source; the exact_ndv twin is the catalog-scale audit column
    (at 100 TB you publish the estimate and spot-audit strata — the
    a10 argument).  Production theta sketches also CAP survivors at
    k and lower theta adaptively — that bounded-state form is now
    REGISTERED as a30_kmv_ndv / a31_kmv_merge (catalog_r10, VERDICT
    r9 #2) with its pure-sketch stress tier; the fixed-theta form
    here stays as the relational reduction whose survivor SET feeds
    the a23 set operations (union-mergeable — the st_cms_ingest
    story, with union instead of addition)."""
    from ..operators.dedup import shingle_explode
    docs = _t(spark, d, "documents")
    s = (shingle_explode(docs, extra_cols=("source",))
         .select("source", _h60(F.col("sh")).alias("h")))
    keep_h = F.when(F.col("h") < _THETA, F.col("h"))
    return (s.groupBy("source")
            .agg(F.countDistinct("h").alias("exact_ndv"),
                 F.countDistinct(keep_h).alias("n_keep"),
                 (F.countDistinct(keep_h) * _THETA_RATE_INV)
                 .alias("est_ndv"),
                 F.round(F.abs(F.countDistinct(keep_h) * _THETA_RATE_INV
                               - F.countDistinct("h")).cast("double")
                         / F.countDistinct("h").cast("double"), 6)
                  .alias("rel_err"))
            .orderBy("source"))


_SETOP_A, _SETOP_B = "src0", "src1"


@register("a23_theta_setops", oracle=_theta_shingle_cte() + f""",
flags AS (
  SELECT h, max((source = '{_SETOP_A}')::INT) AS in_a,
         max((source = '{_SETOP_B}')::INT) AS in_b
  FROM s WHERE source IN ('{_SETOP_A}', '{_SETOP_B}') GROUP BY h
)
SELECT
  CAST(sum(in_a) AS BIGINT) AS exact_a,
  CAST(sum(in_b) AS BIGINT) AS exact_b,
  count(*)::BIGINT AS exact_union,
  CAST(sum(in_a * in_b) AS BIGINT) AS exact_intersect,
  round(sum(in_a * in_b)::DOUBLE / count(*)::DOUBLE, 6)
    AS exact_jaccard,
  (count(CASE WHEN h < {_THETA} THEN 1 END)
   * {_THETA_RATE_INV})::BIGINT AS est_union,
  (CAST(sum(CASE WHEN h < {_THETA} THEN in_a * in_b ELSE 0 END)
        AS BIGINT) * {_THETA_RATE_INV})::BIGINT AS est_intersect,
  round(sum(CASE WHEN h < {_THETA} THEN in_a * in_b ELSE 0 END)::DOUBLE
        / greatest(count(CASE WHEN h < {_THETA} THEN 1 END), 1)::DOUBLE,
        6) AS est_jaccard
FROM flags
""")
def a23_theta_setops(spark: SparkSession, d: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS between two source shingle sets:
    union, intersection, and Jaccard estimated from the common
    below-theta survivor sample (intersection estimated DIRECTLY on
    survivors present in both sides — unbiased, unlike
    inclusion-exclusion on independently-noisy terms; the
    DataSketches intersection rule at equal thetas), with the exact
    twins value-oracled beside them.  This is the inter-source
    duplication dashboard: 'how much of crawl B is already in crawl
    A' without ever joining the full shingle sets.

    Scale shape: one map-side survivor filter + one distinct-hash
    flag table for the pair (partial-aggregable max flags), then a
    1-row aggregate.  The exact columns scan the same flag table at
    catalog scale; at 100 TB only survivors exist and the exact
    columns become the spot-audit (a22's argument).

    State caveat (VERDICT r11 #8, ledgered as theta_state_rows_* in
    scripts/stress_bench.py): the fixed-theta survivor set grows
    ~NDV/16 — linear in distinct shingles BY DESIGN, which is what
    a22's ~6x tier ratio reads.  If all you need is NDV, use the
    bounded-state KMV family instead (a30_kmv_ndv / a31_kmv_merge —
    k rows per source forever); these set operations are the one
    read that genuinely needs the fixed-threshold survivor sample
    (equal thetas make survivor sets union/intersect-compatible,
    which KMV's per-source adaptive thresholds break)."""
    from ..operators.dedup import shingle_explode
    docs = _t(spark, d, "documents")
    s = (shingle_explode(docs.filter(F.col("source")
                                     .isin(_SETOP_A, _SETOP_B)),
                         extra_cols=("source",))
         .select("source", _h60(F.col("sh")).alias("h")))
    flags = s.groupBy("h").agg(
        F.max((F.col("source") == _SETOP_A).cast("int")).alias("in_a"),
        F.max((F.col("source") == _SETOP_B).cast("int")).alias("in_b"))
    surv = F.col("h") < _THETA
    both = F.col("in_a") * F.col("in_b")
    return flags.agg(
        F.sum("in_a").cast("long").alias("exact_a"),
        F.sum("in_b").cast("long").alias("exact_b"),
        F.count("*").alias("exact_union"),
        F.sum(both).cast("long").alias("exact_intersect"),
        F.round(F.sum(both).cast("double")
                / F.count("*").cast("double"), 6).alias("exact_jaccard"),
        (F.count(F.when(surv, 1)) * _THETA_RATE_INV).alias("est_union"),
        (F.sum(F.when(surv, both).otherwise(0)).cast("long")
         * _THETA_RATE_INV).cast("long").alias("est_intersect"),
        F.round(F.sum(F.when(surv, both).otherwise(0)).cast("double")
                / F.greatest(F.count(F.when(surv, 1)), F.lit(1))
                .cast("double"), 6).alias("est_jaccard"))

# ===========================================================================
# Zipf-law slope fit — the rank-frequency companion to ta_heaps_curve
# ===========================================================================

_ZIPF_G = 1000  # ln-value grid (1e-3): keeps every LS sum inside BIGINT


def _zipf_oracle() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    return f"""
WITH tc AS (
  SELECT tok, count(*)::BIGINT AS c
  FROM (SELECT unnest({toks}) AS tok FROM documents)
  GROUP BY tok
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM tc
), q AS (
  SELECT CAST(round(ln(r::DOUBLE) * {_ZIPF_G}) AS BIGINT) AS x,
         CAST(round(ln(c::DOUBLE) * {_ZIPF_G}) AS BIGINT) AS y,
         c
  FROM ranked
), s AS (
  SELECT count(*)::BIGINT AS n, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM q
)
SELECT n AS n_types, n_tokens,
       round((n * sxy - sx * sy)::DOUBLE
             / (n * sxx - sx * sx)::DOUBLE, 6) AS zipf_slope,
       round((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                            / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
             / (n::DOUBLE * {_ZIPF_G}), 6) AS zipf_intercept
FROM s
"""


@register("ta_zipf_fit", oracle=_zipf_oracle())
def ta_zipf_fit(spark: SparkSession, d: str) -> DataFrame:
    """Zipf's-law slope for the corpus token distribution (Zipf 1949,
    public): least-squares fit of ln(count) on ln(rank) over the full
    rank-frequency table — the companion number to ta_heaps_curve
    (Heaps reads vocabulary GROWTH, Zipf reads the frequency DECAY
    that drives it; slope ~ -1 is the natural-language signature, and
    a flatter slope on a source is a boilerplate/spam tell).

    The exactness trick: ln values are quantized to a 1e-3 BIGINT
    grid BEFORE the sums, so all five least-squares sums are exact
    integers and the closed-form slope (n·Σxy - ΣxΣy)/(n·Σxx - Σx²)
    divides once at the end (the ta_backoff quantize-pre-sum
    convention; grid coarseness bounds the sums — at 1e-3 and 1e5
    types every term stays < 1e18; coarsen the grid for larger
    vocabularies, the g2/g4 grid convention).  Rank tiebreak is
    (count DESC, token ASC) binary collation on both engines.

    Scale shape: one corpus scan to the VOCAB-sized count table;
    the rank window and the LS sums run over that table (Heaps says
    it grows ~n^0.5 — the ta_heaps_curve measurement is the empirical
    license), then a 1-row finish."""
    from pyspark.sql import Window as W
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    tc = (docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("c")))
    ranked = tc.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("c"), "tok")))
    q = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * _ZIPF_G)
         .cast("long").alias("x"),
        F.round(F.log(F.col("c").cast("double")) * _ZIPF_G)
         .cast("long").alias("y"),
        "c")
    s = q.agg(F.count("*").alias("n"),
              F.sum("c").cast("long").alias("n_tokens"),
              F.sum("x").cast("long").alias("sx"),
              F.sum("y").cast("long").alias("sy"),
              F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    # r16: regression-moment products in decimal(38,0) — the BIGINT
    # form overflows once n_types * sxx passes 2^63 (~1e6 types on
    # the log grid); exact 128-bit, bit-identical at oracle SFs (see
    # catalog_r11.audit_risk_corr).
    def _d(c: str) -> Column:
        return F.col(c).cast("decimal(38,0)")

    num = (_d("n") * _d("sxy") - _d("sx") * _d("sy"))
    den = (_d("n") * _d("sxx") - _d("sx") * _d("sx"))
    slope = num.cast("double") / den.cast("double")
    return s.select(
        F.col("n").alias("n_types"), "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy").cast("double")
                 - slope * F.col("sx").cast("double"))
                / (F.col("n").cast("double") * _ZIPF_G), 6)
         .alias("zipf_intercept"))


# ===========================================================================
# Triangle census on the 5-NN cosine graph — the local-structure
# read (clustering coefficient) on the same graph g5 propagates over
# ===========================================================================

def _tri_cte() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM nb
), deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node
), tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM und e1 JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (SELECT count(*) FROM und)::BIGINT AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
         AS n_wedges,
       round((SELECT n_triangles FROM tri)::DOUBLE * 3
             / (SELECT sum(deg * (deg - 1) // 2) FROM deg)::DOUBLE, 6)
         AS global_clustering
"""


@register("g6_triangle_census", headline=True, oracle=_tri_cte())
def g6_triangle_census(spark: SparkSession, d: str) -> DataFrame:
    """Triangle census + global clustering coefficient on the
    symmetrized 5-NN cosine graph — the graph-structure read
    (Watts & Strogatz 1998, public) on exactly the graph
    g5_label_prop propagates over: a high clustering coefficient is
    what makes propagation converge, and a falling one flags a
    corpus whose embedding neighborhoods are noise (hub-dominated
    kNN graphs — the known curse-of-dimensionality symptom).

    Algorithm: canonical undirected edges (least, greatest) distinct;
    triangles counted by the standard edge-wedge-closure join on
    u < v < w ordering, so each triangle counts exactly ONCE;
    wedges = sum deg(v)·(deg(v)-1)/2; global CC = 3·triangles /
    wedges.  All integers; one display division.

    Scale shape: edges come from the SHARED materialized graph store
    (_g6_und -> operators/knn_graph.py, built once per process/
    dataset; the IVF build is the registered, recall-gated 100 TB
    swap — g_knn_edges_ivf_recall); everything after is k-BOUNDED:
    ≤ k·n undirected edges, the wedge join fans out ≤ k per edge,
    and the closure probe is a join on the flat (u,v) edge key — the
    standard distributed triangle-count plan (node-iterator with
    degree-ordered orientation).  No window touches anything
    corpus-sized."""
    return _census_from_und(_g6_und(spark, d))


def _g6_und(spark: SparkSession, d: str, method: str = "exact",
            n_lists: int | None = None, n_probe: int | None = None,
            centroids=None, rebuild: bool = False) -> DataFrame:
    """Symmetrized 5-NN edge list, served from the SHARED materialized
    graph store (operators/knn_graph.py — VERDICT r9 #1): built once
    per (process, dataset, method) as narrow parquet and read per
    reference thereafter, so the five consumers (g5/g6/g7/g8/g9) and
    the five-fold downstream references inside the census (deg twice,
    the triangle join three times) each cost a parquet scan of ~k
    rows per vector, never a kNN rebuild.  ``method`` picks the
    candidate generator: "exact" is the value-oracle-able all-pairs
    build (every g5–g9 oracle recomputes exactly these edges); "ivf"
    is the registered, recall-gated 100 TB swap (g_knn_edges_ivf /
    g_knn_edges_ivf_recall in catalog_r10) — stress_bench times the
    census over THESE edges at the 10x tier, where the exact build
    is a 4e8-pair window, ledgering build and amortized read
    separately."""
    from ..operators.knn_graph import knn_und
    from .catalog_r8b import _LP_K
    return knn_und(spark, d, k=_LP_K, method=method, n_lists=n_lists,
                   n_probe=n_probe, centroids=centroids, rebuild=rebuild)


def _census_from_und(und: DataFrame) -> DataFrame:
    """Triangle/wedge census over a canonical undirected edge list."""
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (e1.join(e2, F.col("e2.u") == F.col("e1.v"))
           .join(e3, (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .agg(F.count("*").alias("n_triangles")))
    summary = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long")
         .alias("n_wedges"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return (summary.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_triangles", "n_wedges",
                    F.round(F.col("n_triangles").cast("double") * 3
                            / F.col("n_wedges").cast("double"), 6)
                     .alias("global_clustering")))


# ===========================================================================
# Image average-hash near-dup — the perceptual-hash member of the
# dedup family, through the real multimodal Arrow path
# ===========================================================================

def _ahash_cte() -> str:
    from ..operators.multimodal import N_GRID_CELLS
    bs = [f"('0x' || substr(md5(text), {2 * i + 1}, 2))::BIGINT"
          for i in range(N_GRID_CELLS)]
    sumb = " + ".join(bs)
    bits = " + ".join(
        f"(CASE WHEN ({b}) * {N_GRID_CELLS} >= sumb"
        f" THEN {1 << (N_GRID_CELLS - 1 - i)} ELSE 0 END)"
        for i, b in enumerate(bs))
    return f"""
raw AS (
  SELECT doc_id, text, ({sumb})::BIGINT AS sumb FROM documents
), h AS (
  SELECT doc_id, ({bits})::BIGINT AS ahash FROM raw
), bands AS (
  SELECT doc_id, ahash, 0 AS band, (ahash & 255)::BIGINT AS bval FROM h
  UNION ALL
  SELECT doc_id, ahash, 1 AS band, ((ahash >> 8) & 255)::BIGINT FROM h
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.ahash AS ha, b.ahash AS hb
  FROM bands a JOIN bands b
    ON b.band = a.band AND b.bval = a.bval AND a.doc_id < b.doc_id
), hpairs AS (
  SELECT doc_a, doc_b, bit_count(xor(ha, hb))::BIGINT AS hamming
  FROM cand WHERE bit_count(xor(ha, hb)) <= 1
)"""


def _ahash_oracle() -> str:
    return ("WITH " + _ahash_cte()
            + "\nSELECT doc_a, doc_b, hamming FROM hpairs"
              "\nORDER BY doc_a, doc_b\n")


@register("mm_ahash_neardup", oracle=_ahash_oracle())
def mm_ahash_neardup(spark: SparkSession, d: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for the image payload:
    average hash (the classic aHash — bit i set iff grid cell i is at
    or above the image's mean cell; public folklore, e.g.
    Krawetz 2011) over the grid_features Arrow path (16-cell grid),
    then SimHash-style band-bucketing (2 bands x 8 bits — pigeonhole
    guarantees every Hamming<=1 pair shares a band) and an exact
    Hamming<=1 filter on candidates.  The image member of the dedup
    family: byte-identical images are caught by dd_exact; aHash
    catches re-encoded/resized ones (with a real decoder, the cells
    are region luminance means; the fake backend's md5 bytes
    exercise the identical plumbing).

    Hash width is the scale lever, measured: the first cut used the
    8-feature path's 8-bit hash, and at the 10x stress tier the
    Hamming<=1 pair set is inherently ~n²·9/256 — 50M pairs from
    50k docs (quadratic output, not a plan defect).  At 16 bits the
    collision rate drops 256x; the production 64-bit grid makes
    random collisions negligible, leaving only true near-dups.

    Exactness: cells come off the Arrow path as exact integers, the
    mean comparison is cross-multiplied (b_i x 16 >= sum b), and the
    hash, bands, and bit_count(xor) are all BIGINT ops — the whole
    mapInPandas output is value-oracled (the mm_keyframes pattern).

    Scale shape: hashing is map-side after the decode pass; the only
    shuffle is the band-bucket self-join on (band, bval) — the
    dd_minhash_lsh shape (with the 64-bit hash you band 4x16 and cap
    buckets exactly as minhash does)."""
    return (_ahash_pairs(spark, d)
            .select("doc_a", "doc_b", "hamming")
            .orderBy("doc_a", "doc_b"))


def _ahash_pairs(spark: SparkSession, d: str) -> DataFrame:
    """(doc_a, doc_b, hamming) aHash near-dup pairs — shared by the
    pair entry and the component clustering on top of it."""
    docs = _t(spark, d, "documents")
    return _ahash_pairs_from_hashes(_ahash_hashes(docs))


def _ahash_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, ahash) through the grid_features Arrow path."""
    from ..operators import multimodal
    from ..operators.multimodal import N_GRID_CELLS

    feat = multimodal.grid_features(multimodal.attach_binary(docs))
    h = (feat.select("doc_id", F.col("cells").alias("bs"))
         .withColumn("sumb", F.aggregate(
             "bs", F.lit(0).cast("long"), lambda a, x: a + x))
         .withColumn("ahash", F.expr(
             f"aggregate(zip_with(bs, sequence({N_GRID_CELLS - 1}, 0, -1),"
             f" (b, p) -> IF(b * {N_GRID_CELLS} >= sumb,"
             f" shiftleft(1L, cast(p AS INT)), 0L)),"
             " 0L, (a, x) -> a + x)"))
         .select("doc_id", "ahash"))
    return h


def _ahash_pairs_from_hashes(h: DataFrame) -> DataFrame:
    """Band-bucketed Hamming<=1 pairs from a (doc_id, ahash) frame."""
    bands = (h.select("doc_id", "ahash", F.lit(0).alias("band"),
                      F.col("ahash").bitwiseAND(255).alias("bval"))
             .unionAll(h.select(
                 "doc_id", "ahash", F.lit(1).alias("band"),
                 F.shiftright("ahash", 8).bitwiseAND(255).alias("bval"))))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("b.band") == F.col("a.band"))
                   & (F.col("b.bval") == F.col("a.bval"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.ahash").alias("ha"),
                    F.col("b.ahash").alias("hb"))
            .distinct())
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    return (cand.select("doc_a", "doc_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= 1)
            .orderBy("doc_a", "doc_b"))


# ===========================================================================
# Small-file compaction planner — the storage-maintenance op between
# s27 (vacuum) and s29 (z-order layout)
# ===========================================================================

_COMPACT_TARGET = 32_000  # target bin capacity, chars (the size knob)


@register("s33_compaction_plan", oracle=f"""
WITH frag AS (
  SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS size_chars
  FROM documents GROUP BY source, lang
), ordered AS (
  SELECT source, lang, size_chars,
         row_number() OVER (ORDER BY size_chars DESC, source, lang)
           AS file_rank,
         CAST(sum(size_chars) OVER (ORDER BY size_chars DESC,
                                    source, lang) AS BIGINT) AS cum
  FROM frag
)
SELECT source, lang, size_chars, file_rank,
       ((cum - size_chars) // {_COMPACT_TARGET})::BIGINT AS bin_id
FROM ordered ORDER BY file_rank
""")
def s33_compaction_plan(spark: SparkSession, d: str) -> DataFrame:
    """Small-file compaction planner: assign per-(source, lang)
    parquet fragments to target-size output bins — the OPTIMIZE /
    bin-packing maintenance pass every table format runs (Delta
    OPTIMIZE, Iceberg rewrite_data_files — public semantics) to fix
    the many-small-files problem that kills scan parallelism
    bookkeeping.  The policy here is next-fit-decreasing on the
    running size prefix (bin = floor(preceding_mass / target)):
    deterministic, one pass, and within a factor ~2 of optimal
    bin count like all any-fit heuristics — and unlike first-fit
    it is expressible as pure window algebra (no per-bin state).

    Scale shape: fragment sizes come from one partial-aggregable
    scan; the ordering window runs over the FILE-METADATA table
    (fragments, not rows — at 100 TB that is the table-format
    manifest, millions of entries at most), and the bin assignment
    is map-side arithmetic on the running sum."""
    from pyspark.sql import Window as W
    docs = _t(spark, d, "documents")
    frag = (docs.groupBy("source", "lang")
            .agg(F.sum("n_chars").cast("long").alias("size_chars")))
    w = W.orderBy(F.desc("size_chars"), "source", "lang")
    ordered = (frag
               .withColumn("file_rank", F.row_number().over(w))
               .withColumn("cum", F.sum("size_chars").over(
                   w.rowsBetween(W.unboundedPreceding, 0)).cast("long")))
    return (ordered.select(
        "source", "lang", "size_chars", "file_rank",
        F.expr(f"(cum - size_chars) div {_COMPACT_TARGET}")
        .alias("bin_id"))
        .orderBy("file_rank"))

# ===========================================================================
# Streaming theta-sketch ingest — the union-semilattice mergeability
# twin of st_cms_ingest (CMS merges by addition; theta merges by
# set union)
# ===========================================================================

@register("st_theta_ingest", oracle=_theta_shingle_cte() + f"""
SELECT DISTINCT h FROM s WHERE h < {_THETA} ORDER BY h
""")
def st_theta_ingest(spark: SparkSession, d: str) -> DataFrame:
    """Streaming theta-sketch maintenance: each micro-batch of the
    paged document tranches computes its own below-theta shingle
    survivors MAP-SIDE and set-unions them into a versioned store,
    and the drained survivor set must equal the batch-built one
    row for row — theta sketches merge by UNION (a semilattice:
    idempotent, commutative, associative), so out-of-order and
    duplicated deliveries cannot corrupt the state, the same
    argument as st_dd_line_dedup's min-semilattice.  CMS (addition)
    + theta (union) together cover the two merge algebras every
    fixed-state streaming summary reduces to.

    Scale shape: per-batch work is the batch's own shingle scan +
    a 1/16 map-side filter; the store carries only survivors — a
    fixed FRACTION of distinct keys, i.e. still corpus-linear.  The
    k-capped twin whose store never exceeds k rows is st_kmv_ingest
    (catalog_r10, VERDICT r9 #2)."""
    import shutil

    from ..operators.dedup import shingle_explode
    from ..session import scratch
    from ..sources.tables import fold_version, read_version
    from ..streaming import pipeline as SP

    docs = _t(spark, d, "documents")
    store = scratch("st_theta_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        inc = (shingle_explode(rows.select(F.col("title").alias("text")))
               .select(_h60(F.col("sh")).alias("h"))
               .filter(F.col("h") < _THETA).distinct())
        fold_version(rows.sparkSession, store, epoch_id, inc,
                     lambda p, i: p.unionByName(i).distinct())

    SP.drain_paged_tranches(spark, "st_theta",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)

    return read_version(spark, store).select("h").orderBy("h")


# ===========================================================================
# k-core peeling trajectory on the 5-NN graph — iterative family #6
# ===========================================================================

_KCORE_K = 7
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    # every e{r} is referenced three times downstream (deg{r+1} twice
    # via UNION ALL, e{r+1} once) — without MATERIALIZED, DuckDB
    # inlines the whole all-pairs kNN chain at each reference and the
    # plan grows 3^rounds (the g4_pca_power2 lesson; unmaterialized
    # this spilled >80 GB of temp at sf0.01)
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
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"""
deg{r} AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS c FROM (
    SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1})
  GROUP BY node
), n{r} AS MATERIALIZED (
  SELECT node FROM deg{r} WHERE c >= {_KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN n{r} a ON a.node = e.u JOIN n{r} b ON b.node = e.v
)""")
    rows = [("SELECT 0::BIGINT AS round, (SELECT count(*) FROM ("
             "SELECT u AS node FROM e0 UNION SELECT v FROM e0))::BIGINT"
             " AS n_nodes, (SELECT count(*) FROM e0)::BIGINT AS n_edges")]
    rows += [f"SELECT {r}::BIGINT, (SELECT count(*) FROM n{r})::BIGINT,"
             f" (SELECT count(*) FROM e{r})::BIGINT"
             for r in range(1, _KCORE_ROUNDS + 1)]
    return ("WITH " + ",".join(parts) + "\n"
            + "\nUNION ALL\n".join(rows) + "\nORDER BY round")


@register("g7_kcore_peel", oracle=_kcore_oracle())
def g7_kcore_peel(spark: SparkSession, d: str) -> DataFrame:
    """k-core peeling trajectory (Seidman 1983, public) on the
    symmetrized 5-NN cosine graph: repeatedly drop nodes of degree
    < k (k = 7) and the edges touching them, reporting surviving
    node/edge counts per round — the sixth exact iterative family
    member (PageRank, k-means, PCA x2, label propagation, now
    k-core).  The dense-core read for a curation team: the k-core is
    the mutually-similar region SemDeDup will collapse hardest,
    while early-peeled nodes are the corpus's genuinely isolated
    documents.  Bounded peeling (4 rounds) computes a SUPERSET of
    the true k-core that shrinks monotonically; the trajectory
    leveling off IS the convergence read (the g5 bounded-iteration
    honesty convention).

    Scale shape: each round is one partial-aggregable degree count
    over the current edge list plus two semi-join filters on the
    flat node key — k-bounded (<= k·n edges) like every g5-family
    iteration; no window, no cartesian.  The edge list comes from
    the SHARED materialized graph store (_g6_und — VERDICT r9 #1),
    not a per-entry rebuild."""
    edges = _g6_und(spark, d)

    def ends(ed):
        return (ed.select(F.col("u").alias("node"))
                .unionAll(ed.select(F.col("v").alias("node"))))

    out = [ends(edges).distinct().agg(F.count("*").alias("n_nodes"))
           .crossJoin(edges.agg(F.count("*").alias("n_edges")))
           .select(F.lit(0).cast("long").alias("round"),
                   "n_nodes", "n_edges")]
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        keep = (ends(cur).groupBy("node")
                .agg(F.count("*").alias("c"))
                .filter(F.col("c") >= _KCORE_K)
                .select("node"))
        # bounded lineage: each peel round reads the last round's edges
        cur = materialize(cur.join(keep.withColumnRenamed("node", "u"), "u")
                          .join(keep.withColumnRenamed("node", "v"), "v")
                          .select("u", "v"), "kcore:round")
        out.append(
            keep.agg(F.count("*").alias("n_nodes"))
            .crossJoin(cur.agg(F.count("*").alias("n_edges")))
            .select(F.lit(r).cast("long").alias("round"),
                    "n_nodes", "n_edges"))
    res = out[0]
    for frame in out[1:]:
        res = res.unionByName(frame)
    return res.orderBy("round")


# ===========================================================================
# T5 span-corruption mask schedule — the denoising-objective layout
# between packing (t18) and the trainer
# ===========================================================================

def _t35_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH base AS (
  SELECT doc_id, len({OV.tokens_sql('text')})::BIGINT AS n
  FROM documents
), plan AS (
  SELECT doc_id, n, (15 * n) // 100 AS n_mask,
         greatest(1, ((15 * n) // 100) // 3) AS n_spans
  FROM base WHERE (15 * n) // 100 >= 1
), spans AS (
  SELECT doc_id, n, n_mask, n_spans, i::BIGINT AS span_index,
         (n_mask // n_spans
          + CASE WHEN i < n_mask % n_spans THEN 1 ELSE 0 END)::BIGINT
           AS span_len,
         (1 + i * (n // n_spans))::BIGINT AS start_tok
  FROM plan, LATERAL unnest(range(0, n_spans)) AS t(i)
)
SELECT doc_id, span_index, start_tok, span_len,
       (start_tok + span_len - 1)::BIGINT AS end_tok,
       span_index::BIGINT AS sentinel_id
FROM spans ORDER BY doc_id, span_index
"""


@register("t35_span_corruption", oracle=_t35_oracle())
def t35_span_corruption(spark: SparkSession, d: str) -> DataFrame:
    """T5 span-corruption mask schedule (Raffel 2020 §3.1.4, public:
    corrupt 15% of tokens in mean-length-3 spans, one sentinel per
    span): the per-document mask manifest (span start / length /
    sentinel id) a denoising-objective trainer consumes — the data
    prep step between sequence packing (t18) and the training loop.
    Spans are laid out DETERMINISTICALLY on an even stride (span s
    starts at 1 + s·(n div n_spans)): reproducible across re-runs
    and engines where T5's random placement is not, and
    non-overlapping by construction (stride >= n/(0.05n) = 20 >> the
    <=4-token span length; short docs degenerate to one span).
    Remainder tokens distribute one-per-span from span 0 (the
    BIGINT-division convention used by t31's budget split).

    Scale shape: entirely map-side — one tokens() scan, an integer
    plan row per doc, sequence() exploded to n_spans rows; no
    shuffle at all until a downstream consumer keys by sequence."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n"))
    plan = (base
            .withColumn("n_mask", F.expr("(15 * n) div 100"))
            .filter(F.col("n_mask") >= 1)
            .withColumn("n_spans",
                        F.greatest(F.lit(1).cast("long"),
                                   F.expr("n_mask div 3"))))
    spans = (plan.select(
        "doc_id", "n", "n_mask", "n_spans",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.col("n_spans") - 1)).alias("span_index")))
    return (spans.select(
        "doc_id", "span_index",
        (1 + F.col("span_index") * F.expr("n div n_spans"))
        .cast("long").alias("start_tok"),
        (F.expr("n_mask div n_spans")
         + F.when(F.col("span_index") < F.col("n_mask") % F.col("n_spans"),
                  1).otherwise(0)).cast("long").alias("span_len"))
        .withColumn("end_tok",
                    (F.col("start_tok") + F.col("span_len") - 1)
                    .cast("long"))
        .withColumn("sentinel_id", F.col("span_index").cast("long"))
        .orderBy("doc_id", "span_index"))

# ===========================================================================
# Word burstiness — the dispersion read behind every stopword /
# keyword decision (Church & Gale 1995)
# ===========================================================================

_BURST_TOP = 20


def _burst_oracle() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    return f"""
WITH dt AS (
  SELECT doc_id, tok, count(*)::BIGINT AS x
  FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
  GROUP BY doc_id, tok
), n AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), per_tok AS (
  SELECT tok, CAST(sum(x) AS BIGINT) AS c_tot,
         count(*)::BIGINT AS doc_freq,
         CAST(sum(x * x) AS BIGINT) AS sumsq
  FROM dt GROUP BY tok
)
SELECT tok, c_tot, doc_freq,
       round((n.n_docs * p.sumsq - p.c_tot * p.c_tot)::DOUBLE
             / (n.n_docs * p.c_tot)::DOUBLE, 6) AS fano
FROM per_tok p CROSS JOIN n
ORDER BY c_tot DESC, tok LIMIT {_BURST_TOP}
"""


@register("ta_burstiness", oracle=_burst_oracle())
def ta_burstiness(spark: SparkSession, d: str) -> DataFrame:
    """Word burstiness for the top-{top} corpus tokens (Church & Gale
    1995, public: content words are BURSTY — they recur within the
    documents that mention them — while function words spread
    Poisson-evenly): the Fano factor (variance/mean of per-document
    counts, zeros included) per token.  Fano ~ 1 marks stopword-like
    dispersion, Fano >> 1 marks topical terms — the principled
    version of the stopword lists the quality heuristics hard-code,
    and the dispersion companion to ta_zipf_fit's frequency read.

    The exactness trick: with zeros included, mean = c/N and
    population variance = (N·Σx² - c²)/N², so Fano =
    (N·Σx² - c²)/(N·c) — numerator and denominator are exact
    BIGINTs from two partial-aggregable sums (zero docs never
    materialize), one division for display.

    Scale shape: one (doc, token) count aggregate (the tf table
    every text scorer already builds), one vocab-sized token
    aggregate, TakeOrderedAndProject for the top slice."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    dt = (docs.select("doc_id", F.explode(tokens(F.col("text")))
                      .alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("x")))
    n = docs.agg(F.count("*").alias("n_docs"))
    per_tok = dt.groupBy("tok").agg(
        F.sum("x").cast("long").alias("c_tot"),
        F.count("*").alias("doc_freq"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sumsq"))
    return (per_tok.crossJoin(F.broadcast(n))
            .select("tok", "c_tot", "doc_freq",
                    F.round((F.col("n_docs") * F.col("sumsq")
                             - F.col("c_tot") * F.col("c_tot"))
                            .cast("double")
                            / (F.col("n_docs") * F.col("c_tot"))
                            .cast("double"), 6).alias("fano"))
            .orderBy(F.desc("c_tot"), "tok").limit(_BURST_TOP))


ta_burstiness.__doc__ = ta_burstiness.__doc__.format(top=_BURST_TOP)


# ===========================================================================
# Audio fingerprint matching — the Shazam constellation shape over
# the audio windows (multimodal near-dup, the aHash of audio)
# ===========================================================================

_FP_BANDS = 32
_FP_MIN_SHARED = 8


def _fp_oracle() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text, (n_chars * 100)::BIGINT AS n_samples
  FROM documents
), w AS (
  SELECT doc_id, text, n_samples,
         1 + greatest(0, (n_samples - 16000 + 7999) // 8000) AS n_win
  FROM base
), win AS (
  SELECT doc_id, i::BIGINT AS wi,
         ('0x' || substr(md5(substr(text, ((i * 8000) // 100) + 1,
            (least(i * 8000 + 16000, n_samples) - i * 8000) // 100)),
            1, 2))::BIGINT % {_FP_BANDS} AS band
  FROM w, LATERAL unnest(range(0, n_win)) AS t(i)
), led AS (
  SELECT doc_id, wi, band,
         lead(band, 1) OVER pw AS b1,
         lead(band, 2) OVER pw AS b2,
         lead(band, 3) OVER pw AS b3
  FROM win WINDOW pw AS (PARTITION BY doc_id ORDER BY wi)
), fp AS (
  SELECT DISTINCT doc_id, band || ':' || b1 || ':1' AS fp
  FROM led WHERE b1 IS NOT NULL
  UNION
  SELECT DISTINCT doc_id, band || ':' || b2 || ':2' FROM led
  WHERE b2 IS NOT NULL
  UNION
  SELECT DISTINCT doc_id, band || ':' || b3 || ':3' FROM led
  WHERE b3 IS NOT NULL
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*)::BIGINT AS n_shared
FROM fp a JOIN fp b ON b.fp = a.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_FP_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


@register("mm_audio_fingerprint", oracle=_fp_oracle())
def mm_audio_fingerprint(spark: SparkSession, d: str) -> DataFrame:
    """Audio fingerprint matching (Wang 2003, public — the Shazam
    constellation scheme, relational form): each 1 s analysis window
    gets a peak BAND (deterministic stand-in feature: md5 of the
    window's byte slice mod 32 — a real STFT argmax band plugs in at
    the same point, the mm convention), consecutive-window band
    pairs at offsets 1-3 become fingerprint keys, and document pairs
    sharing >= {_FP_MIN_SHARED} distinct fingerprints are reported —
    the audio near-dup read beside mm_ahash_neardup's image one.

    Scale shape: windowing + banding are map-side after one scan;
    the lead() window is doc-keyed (the sessionize shard); matching
    is one shuffle on the fingerprint key (a 32x32x3 = 3072-value
    domain here — production keys add the anchor frequency and time
    delta, the dd_minhash_lsh bucket-cap pattern applies verbatim)
    and a pair aggregate.  No all-pairs stage anywhere."""
    from pyspark.sql import Window as W
    from ..operators import multimodal
    docs = _t(spark, d, "documents").select(
        "doc_id", "text",
        (F.col("n_chars") * 100).cast("long").alias("n_samples"))
    win = multimodal.audio_windows(docs).join(
        docs.select("doc_id", "text"), "doc_id")
    s, e = F.col("start_sample"), F.col("end_sample")
    sl = F.substring(F.col("text"), (s / 100).cast("int") + 1,
                     ((e - s) / 100).cast("int"))
    banded = win.select(
        "doc_id", F.col("window_index").cast("long").alias("wi"),
        (F.conv(F.substring(F.md5(sl), 1, 2), 16, 10).cast("long")
         % _FP_BANDS).alias("band"))
    pw = W.partitionBy("doc_id").orderBy("wi")
    led = banded.select(
        "doc_id", "band",
        F.lead("band", 1).over(pw).alias("b1"),
        F.lead("band", 2).over(pw).alias("b2"),
        F.lead("band", 3).over(pw).alias("b3"))

    def fps(col, g):
        return (led.filter(F.col(col).isNotNull())
                .select("doc_id",
                        F.concat_ws(":", "band", col, F.lit(str(g)))
                        .alias("fp"))
                .distinct())

    fp = fps("b1", 1).union(fps("b2", 2)).union(fps("b3", 3)).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, (F.col("b.fp") == F.col("a.fp"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= _FP_MIN_SHARED)
            .orderBy("doc_a", "doc_b"))


# ===========================================================================
# Quality x duplication cross-tab — does duplication concentrate in
# low-quality text?  (the joint read behind dedup-before-filter
# ordering decisions)
# ===========================================================================

def _t36_matrix_oracle() -> str:
    from . import oracle_sql as O
    from . import oracle_vec as OV
    from .catalog_r8 import _DUPG_N, _Q1, _Q2
    toks = OV.tokens_sql("text")
    grams = f"""(
  CASE WHEN len({toks}) >= {_DUPG_N}
       THEN list_transform(range(1, len({toks}) - {_DUPG_N - 2}),
              i -> array_to_string(
                     list_slice({toks}, i, i + {_DUPG_N - 1}), ' '))
       WHEN len({toks}) > 0
       THEN [array_to_string({toks}, ' ')]
       ELSE []::VARCHAR[] END)"""
    return f"""
WITH g AS (
  SELECT doc_id, unnest({grams}) AS gram FROM documents
), gc AS (
  SELECT md5(gram) AS h, count(*)::BIGINT AS c FROM g GROUP BY md5(gram)
), dup AS (
  SELECT g.doc_id,
         round(sum((gc.c > 1)::INT)::DOUBLE / count(*)::DOUBLE, 6)
           AS df
  FROM g JOIN gc ON gc.h = md5(g.gram) GROUP BY g.doc_id
), j AS (
  SELECT d.doc_id, round({O.quality_sql('text')}, 6) AS q,
         coalesce(dup.df, 0.0) AS df
  FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
), cuts AS (
  SELECT round(quantile_cont(q, {_Q1!r}), 6) AS q1,
         round(quantile_cont(q, {_Q2!r}), 6) AS q2,
         round(quantile_cont(df, {_Q1!r}), 6) AS d1,
         round(quantile_cont(df, {_Q2!r}), 6) AS d2
  FROM j
), b AS (
  SELECT CASE WHEN q <= q1 THEN 'low' WHEN q <= q2 THEN 'mid'
              ELSE 'high' END AS quality_bucket,
         CASE WHEN df <= d1 THEN 'low' WHEN df <= d2 THEN 'mid'
              ELSE 'high' END AS dup_bucket
  FROM j CROSS JOIN cuts
)
SELECT quality_bucket, dup_bucket, count(*)::BIGINT AS n_docs,
       round(count(*)::DOUBLE / sum(count(*)) OVER ()::DOUBLE, 6)
         AS share
FROM b GROUP BY quality_bucket, dup_bucket
ORDER BY quality_bucket, dup_bucket
"""


@register("t36_dup_quality_matrix", oracle=_t36_matrix_oracle())
def t36_dup_quality_matrix(spark: SparkSession, d: str) -> DataFrame:
    """Quality x duplication cross-tab: every document bucketed into
    corpus tertiles on BOTH the T2 heuristic quality score and the
    8-gram duplication fraction (dd_dupgram_profile), counts and
    shares per cell — the joint distribution behind the
    dedup-before-filter ordering argument (Raffel 2020 runs dedup
    before heuristics; if duplication concentrates in low-quality
    text the filters would eat most duplicates anyway, and this
    table is the evidence either way; t23 gives the scorer
    CORRELATION, this gives the decision-relevant mass map).

    Exactness: both signals are computed by the established shared
    fragments (t2's quality_sql twin, dd_dupgram's gram election),
    rounded to 6dp before the tertile comparison, so bucket
    membership is engine-exact; the exact percentile runs over the
    per-doc score table (the w10 shape — percentile_approx is the
    documented 100 TB knob, gated by ta_perplexity_approx's
    pattern).

    Scale shape: one gram-count aggregate + hash join (dupgram's
    shape), one map-side quality pass, a 2x2-cut broadcast, and a
    9-cell aggregate."""
    from ..functions import text as X
    from .catalog_r8 import _Q1, _Q2, dd_dupgram_profile

    docs = _t(spark, d, "documents")
    dup = dd_dupgram_profile(spark, d).select(
        "doc_id", F.col("dup_frac").alias("df"))
    q = docs.select(
        "doc_id",
        F.round(X.quality_components(F.col("text"))["quality_score"], 6)
        .alias("q"))
    j = (q.join(dup, "doc_id", "left")
         .select("doc_id", "q", F.coalesce("df", F.lit(0.0)).alias("df")))
    cuts = j.agg(
        F.round(F.percentile("q", F.lit(_Q1)), 6).alias("q1"),
        F.round(F.percentile("q", F.lit(_Q2)), 6).alias("q2"),
        F.round(F.percentile("df", F.lit(_Q1)), 6).alias("d1"),
        F.round(F.percentile("df", F.lit(_Q2)), 6).alias("d2"))
    b = (j.crossJoin(F.broadcast(cuts))
         .select(F.when(F.col("q") <= F.col("q1"), "low")
                 .when(F.col("q") <= F.col("q2"), "mid")
                 .otherwise("high").alias("quality_bucket"),
                 F.when(F.col("df") <= F.col("d1"), "low")
                 .when(F.col("df") <= F.col("d2"), "mid")
                 .otherwise("high").alias("dup_bucket")))
    agg = b.groupBy("quality_bucket", "dup_bucket").agg(
        F.count("*").alias("n_docs"))
    tot = agg.agg(F.sum("n_docs").cast("long").alias("tot"))
    return (agg.crossJoin(F.broadcast(tot))
            .select("quality_bucket", "dup_bucket", "n_docs",
                    F.round(F.col("n_docs").cast("double")
                            / F.col("tot").cast("double"), 6)
                     .alias("share"))
            .orderBy("quality_bucket", "dup_bucket"))

# ===========================================================================
# Simplified silhouette for the frozen k-means layout — the cluster-
# quality eval the g2 family publishes before anyone trusts the cells
# ===========================================================================

def _sil_oracle() -> str:
    from .catalog_r8 import _KM_D, _KM_ITERS, _km_oracle
    dist = (f"list_sum(list_transform(range(1, {_KM_D + 1}), "
            f"i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))")
    return _km_oracle(f""",
two AS (
  SELECT vec_id, cluster, dist_q, rn FROM (
    SELECT q.vec_id, c.cluster, {dist} AS dist_q,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM q CROSS JOIN c{_KM_ITERS} c) WHERE rn <= 2
), s AS (
  SELECT a.vec_id, a.cluster,
         CAST(round(CASE WHEN greatest(a.dist_q, b.dist_q) = 0 THEN 0.0
              ELSE (b.dist_q - a.dist_q)::DOUBLE
                   / greatest(a.dist_q, b.dist_q)::DOUBLE END
              * 1000000) AS BIGINT) AS s_q
  FROM two a JOIN two b ON b.vec_id = a.vec_id AND b.rn = 2
  WHERE a.rn = 1
)
SELECT cluster, count(*)::BIGINT AS n_members,
       round(CAST(sum(s_q) AS BIGINT)::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS mean_silhouette
FROM s GROUP BY cluster ORDER BY cluster
""")


@register("g2_silhouette", oracle=_sil_oracle())
def g2_silhouette(spark: SparkSession, d: str) -> DataFrame:
    """Simplified silhouette score per cluster for the frozen g2
    k-means layout (Rousseeuw 1987, the centroid-based 'simplified'
    variant every large-scale library ships — MLlib's
    ClusteringEvaluator semantics): per point, a = squared distance
    to its own centroid, b = squared distance to the SECOND-nearest
    centroid, s = (b-a)/max(a,b); reported as the per-cluster mean.
    The cluster-quality gate in front of every consumer of the g2
    layout (st_ivf_ingest, g3's balanced sample, t28's ICP packing,
    st_semdedup) — a cell with silhouette near 0 is a cell whose
    'members' are arbitrary.

    Exactness: a and b are the SAME exact BIGINT fixed-point
    distances the Lloyd loop uses (the assignment argmin IS rank 1,
    the runner-up IS rank 2 of the same deterministic ordering), the
    per-point ratio is quantized to a 1e-6 BIGINT before the
    per-cluster sum (the commutative-sum convention), and one
    division lands the display mean.

    Scale shape: one map-side pass against the K broadcast centroid
    literals (the g2 assignment plan with k=2 rank depth), one
    K-row aggregate."""
    from .catalog_r8 import _km_run

    af_unused, cents = _km_run(spark, d)
    from ..functions.vector import to_double_array
    from .catalog_r8 import _KM_D, _KM_SCALE
    emb = (_t(spark, d, "embeddings")
           .select("vec_id",
                   F.transform(
                       F.slice(to_double_array(F.col("embedding")),
                               1, _KM_D),
                       lambda x: F.floor(x * _KM_SCALE + 0.5).cast("long"))
                   .alias("qv")))
    arr = F.sort_array(F.array(*[
        F.struct(
            sum(((F.element_at(F.col("qv"), i + 1) - F.lit(cv[i]))
                 * (F.element_at(F.col("qv"), i + 1) - F.lit(cv[i])))
                for i in range(_KM_D)).alias("d"),
            F.lit(c).cast("long").alias("cluster"))
        for c, cv in enumerate(cents)]))
    a, b = arr.getItem(0)["d"], arr.getItem(1)["d"]
    s_q = F.round(
        F.when(F.greatest(a, b) == 0, F.lit(0.0))
        .otherwise((b - a).cast("double")
                   / F.greatest(a, b).cast("double")) * 1000000
    ).cast("long")
    pt = emb.select(arr.getItem(0)["cluster"].alias("cluster"),
                    s_q.alias("s_q"))
    return (pt.groupBy("cluster")
            .agg(F.count("*").alias("n_members"),
                 F.round(F.sum("s_q").cast("long").cast("double")
                         / (F.count("*") * 1000000).cast("double"), 6)
                  .alias("mean_silhouette"))
            .orderBy("cluster"))


# ===========================================================================
# Per-source TF-IDF signatures — "what characterizes each source"
# ===========================================================================

_TFIDF_TOP = 5


def _tfidf_oracle() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    return f"""
WITH dt AS (
  SELECT doc_id, source, unnest({toks}) AS tok FROM documents
), n AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), df AS (
  SELECT tok, count(DISTINCT doc_id)::BIGINT AS df_t FROM dt GROUP BY tok
), st AS (
  SELECT source, tok, count(*)::BIGINT AS c_st
  FROM dt GROUP BY source, tok
), scored AS (
  SELECT st.source, st.tok, st.c_st,
         st.c_st * CAST(round(ln(n.n_docs::DOUBLE / df.df_t::DOUBLE)
                              * 1000000) AS BIGINT) AS score_q
  FROM st JOIN df ON df.tok = st.tok CROSS JOIN n
), ranked AS (
  SELECT source, tok, c_st, score_q,
         row_number() OVER (PARTITION BY source
                            ORDER BY score_q DESC, tok) AS rnk
  FROM scored
)
SELECT source, rnk::BIGINT AS rnk, tok, c_st,
       round(score_q::DOUBLE / 1000000, 6) AS tfidf
FROM ranked WHERE rnk <= {_TFIDF_TOP} ORDER BY source, rnk
"""


@register("ta_source_tfidf", oracle=_tfidf_oracle())
def ta_source_tfidf(spark: SparkSession, d: str) -> DataFrame:
    """Per-source TF-IDF signature terms (Sparck Jones 1972, public):
    the top-{top} tokens per source by term-count x ln(N/df) — the
    'what is this source actually about' table a corpus card prints
    beside the mix shares (and the grown-up version of the PRF
    expansion miner r11 runs per query: same score, corpus-wide).

    Exactness: ln(N/df) is rounded ONCE per token to a 1e-6 BIGINT,
    then multiplied by the integer term count — products and the
    rank order are exact integers (count DESC ties broken by token,
    binary collation both engines); the display score divides once.

    Scale shape: one (source, token) count aggregate and one
    token-level doc-frequency aggregate (both partial-aggregable,
    vocab-bounded by Heaps), a broadcast-able vocab join, and the
    top-k window over the (sources x vocab) table — bounded by the
    vocabulary, never the corpus (the ta_zipf_fit argument)."""
    from pyspark.sql import Window as W
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    dt = docs.select("doc_id", "source",
                     F.explode(tokens(F.col("text"))).alias("tok"))
    n = docs.agg(F.count("*").alias("n_docs"))
    df = dt.groupBy("tok").agg(F.countDistinct("doc_id").alias("df_t"))
    st = dt.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    scored = (st.join(df, "tok").crossJoin(F.broadcast(n))
              .select("source", "tok", "c_st",
                      (F.col("c_st")
                       * F.round(F.log(F.col("n_docs").cast("double")
                                       / F.col("df_t").cast("double"))
                                 * 1000000).cast("long")).alias("score_q")))
    w = W.partitionBy("source").orderBy(F.desc("score_q"), "tok")
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _TFIDF_TOP)
            .select("source", "rnk", "tok", "c_st",
                    F.round(F.col("score_q").cast("double") / 1000000, 6)
                     .alias("tfidf"))
            .orderBy("source", "rnk"))


ta_source_tfidf.__doc__ = ta_source_tfidf.__doc__.format(top=_TFIDF_TOP)


# ===========================================================================
# DAU/WAU stickiness — the engagement-intensity read beside
# retention (how OFTEN actives show up, not whether they return)
# ===========================================================================

@register("ev_stickiness", oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400)::BIGINT AS day,
         (CAST(floor(epoch(ts)) AS BIGINT) // 604800)::BIGINT AS wk
  FROM events
), dau AS (
  SELECT wk, day, count(*)::BIGINT AS dau FROM ud GROUP BY wk, day
), wau AS (
  SELECT wk, count(DISTINCT user_id)::BIGINT AS wau FROM ud GROUP BY wk
)
SELECT w.wk AS week, w.wau,
       CAST(sum(d.dau) AS BIGINT) AS sum_dau,
       count(*)::BIGINT AS n_active_days,
       round(sum(d.dau)::DOUBLE / (count(*) * w.wau)::DOUBLE, 6)
         AS stickiness
FROM wau w JOIN dau d ON d.wk = w.wk
GROUP BY w.wk, w.wau ORDER BY w.wk
""")
def ev_stickiness(spark: SparkSession, d: str) -> DataFrame:
    """Weekly DAU/WAU stickiness: mean daily actives over weekly
    actives per week — the engagement-INTENSITY read beside
    ev_retention_triangle's comeback read (retention says whether a
    cohort returns; stickiness says how many days per week the
    actives actually show up).  Integer day/week epoch indices, the
    established convention.

    Exactness: numerator (sum of per-day distinct counts) and
    denominator (active-day count x weekly distinct count) are exact
    BIGINTs; one division for the ratio.

    Scale shape: one distinct (user, day) projection — week derives
    from the day index map-side — then two partial-aggregable counts
    whose outputs are calendar-bounded."""
    ev = _t(spark, d, "events")
    ud = (ev.select("user_id",
                    F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400")
                    .alias("day"),
                    F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 604800")
                    .alias("wk"))
          .distinct())
    dau = ud.groupBy("wk", "day").agg(F.count("*").alias("dau"))
    wau = ud.groupBy("wk").agg(F.countDistinct("user_id").alias("wau"))
    return (dau.join(wau, "wk")
            .groupBy(F.col("wk").alias("week"), "wau")
            .agg(F.sum("dau").cast("long").alias("sum_dau"),
                 F.count("*").alias("n_active_days"),
                 F.round(F.sum("dau").cast("double")
                         / (F.count("*") * F.first("wau")).cast("double"),
                         6).alias("stickiness"))
            .select("week", "wau", "sum_dau", "n_active_days",
                    "stickiness")
            .orderBy("week"))

# ===========================================================================
# Funnel time-to-convert — the latency distribution behind
# ev_funnel's conversion counts
# ===========================================================================

@register("ev_funnel_ttc", oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, event_type, ts, tsec,
         CAST(sum(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_id,
         event_id
  FROM o
), fv AS (
  SELECT user_id, session_id, event_type, tsec,
         min(CASE WHEN event_type = 'view' THEN tsec END) OVER
           (PARTITION BY user_id, session_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_view
  FROM s
), ttc AS (
  SELECT user_id, session_id,
         min(tsec - first_view)::BIGINT AS ttc_s
  FROM fv
  WHERE event_type = 'purchase' AND first_view IS NOT NULL
  GROUP BY user_id, session_id
), base AS (
  SELECT count(DISTINCT (user_id, session_id))::BIGINT AS n_sessions
  FROM s
)
SELECT b.n_sessions, count(*)::BIGINT AS n_converted,
       min(t.ttc_s)::BIGINT AS min_ttc_s,
       round(quantile_cont(t.ttc_s, 0.5), 6) AS p50_ttc_s,
       round(quantile_cont(t.ttc_s, 0.9), 6) AS p90_ttc_s,
       max(t.ttc_s)::BIGINT AS max_ttc_s
FROM ttc t CROSS JOIN base b GROUP BY b.n_sessions
""")
def ev_funnel_ttc(spark: SparkSession, d: str) -> DataFrame:
    """Funnel time-to-convert: per 30-min session, the latency from
    the FIRST view to the first purchase at-or-after it, summarized
    as min / p50 / p90 / max over converting sessions — the latency
    distribution ev_funnel's stage counts hide (two funnels with
    identical conversion can have 10 s vs 25 min time-to-convert,
    and the difference is the product decision).

    Plan: the ev_sessionize lag+prefix-sum session assignment, then
    a RUNNING conditional min (first view so far) over the same
    (user, session) ordering — every purchase row then knows its
    first-view map-side, so conversion latency needs no self-join;
    one shuffle on user_id total (the ev_funnel argument), then a
    sessions-keyed min and a 1-row summary.  The two quantiles run
    over the CONVERTED-SESSIONS table (bounded by sessions, not
    events; the percentile_approx knob applies as everywhere).

    Exactness: timestamps in integer seconds; quantiles rounded to
    6dp on both engines (the w10 convention)."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = ts_sec - F.lag(ts_sec).over(w)
    s = (ev.withColumn("tsec", ts_sec)
         .withColumn("new_session",
                     F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
         .withColumn("session_id",
                     F.sum("new_session").over(run).cast("long")))
    sw = (W.partitionBy("user_id", "session_id")
          .orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    fv = s.withColumn(
        "first_view",
        F.min(F.when(F.col("event_type") == "view",
                     F.col("tsec"))).over(sw))
    ttc = (fv.filter((F.col("event_type") == "purchase")
                     & F.col("first_view").isNotNull())
           .groupBy("user_id", "session_id")
           .agg(F.min(F.col("tsec") - F.col("first_view"))
                .cast("long").alias("ttc_s")))
    base = (s.select("user_id", "session_id").distinct()
            .agg(F.count("*").alias("n_sessions")))
    return (ttc.crossJoin(F.broadcast(base))
            .groupBy("n_sessions")
            .agg(F.count("*").alias("n_converted"),
                 F.min("ttc_s").cast("long").alias("min_ttc_s"),
                 F.round(F.percentile("ttc_s", F.lit(0.5)), 6)
                  .alias("p50_ttc_s"),
                 F.round(F.percentile("ttc_s", F.lit(0.9)), 6)
                  .alias("p90_ttc_s"),
                 F.max("ttc_s").cast("long").alias("max_ttc_s"))
            .select("n_sessions", "n_converted", "min_ttc_s",
                    "p50_ttc_s", "p90_ttc_s", "max_ttc_s"))


# ===========================================================================
# Key-hash sampled join-size estimate — the cheap estimator beside
# a17's Selinger formula
# ===========================================================================

_A24_P_INV = 4  # keep keys whose hash bucket < 1/4 of the space


@register("a24_sampled_join_estimate", oracle=f"""
WITH ko AS (
  SELECT o_orderkey AS k, count(*)::BIGINT AS co FROM orders GROUP BY 1
), kl AS (
  SELECT l_orderkey AS k, count(*)::BIGINT AS cl FROM lineitem GROUP BY 1
), j AS (
  SELECT ko.k, ko.co * kl.cl AS contrib,
         (('0x' || substr(md5(ko.k::VARCHAR || ':jsample'), 1, 8))::BIGINT
          % 1000000 < 1000000 / {_A24_P_INV}) AS sampled
  FROM ko JOIN kl ON kl.k = ko.k
)
SELECT {_A24_P_INV}::BIGINT AS p_inv,
       count(*)::BIGINT AS n_join_keys,
       CAST(sum(sampled::INT) AS BIGINT) AS n_keys_sampled,
       CAST(coalesce(sum(CASE WHEN sampled THEN contrib END), 0)
            AS BIGINT) AS sampled_size,
       (CAST(coalesce(sum(CASE WHEN sampled THEN contrib END), 0)
             AS BIGINT) * {_A24_P_INV})::BIGINT AS est_size,
       CAST(sum(contrib) AS BIGINT) AS true_size,
       round(abs(coalesce(sum(CASE WHEN sampled THEN contrib END), 0)
                 * {_A24_P_INV} - sum(contrib))::DOUBLE
             / sum(contrib)::DOUBLE, 6) AS rel_err
FROM j
""")
def a24_sampled_join_estimate(spark: SparkSession, d: str) -> DataFrame:
    """Join-size estimation by KEY-HASH sampling (the correlated /
    end-biased sampling idea — Estan & Naughton 2006, public): keep
    every row of BOTH sides whose join key hashes into a 1/4 bucket,
    join only the sample, scale by 4.  Sampling BY KEY is the whole
    trick: independent row sampling keeps a p² fraction of matching
    PAIRS (a 16x variance blow-up and a systematic miss of hot
    keys), while key-correlated sampling keeps each key's full
    co x cl contribution with probability p, making the scaled
    estimate unbiased with per-key variance — the practical
    estimator beside a17's Selinger containment formula when stats
    are stale.  The audit here runs on orders x lineitem (the
    canonical fact-fact key).

    Exactness: the hash-bucket accept is the t26/t19 integer
    threshold; contributions, the sample sum, and the x4 scale-up
    are exact BIGINTs; rel_err divides once for display.  The exact
    true_size column is the catalog-scale audit twin (a22's
    argument).

    Scale shape: per-side key-count aggregates (partial-agg), one
    join on the key, map-side accept — the estimate itself never
    materializes the unsampled join."""
    from ..operators.dedup import md5_int32
    o = (_t(spark, d, "orders").groupBy(F.col("o_orderkey").alias("k"))
         .agg(F.count("*").alias("co")))
    li = (_t(spark, d, "lineitem").groupBy(F.col("l_orderkey").alias("k"))
          .agg(F.count("*").alias("cl")))
    b = F.pmod(md5_int32(F.concat(F.col("k").cast("string"),
                                  F.lit(":jsample"))), F.lit(1000000))
    j = (o.join(li, "k")
         .select("k", (F.col("co") * F.col("cl")).alias("contrib"),
                 (b < 1000000 // _A24_P_INV).alias("sampled")))
    samp = F.when(F.col("sampled"), F.col("contrib"))
    return j.agg(
        F.lit(_A24_P_INV).cast("long").alias("p_inv"),
        F.count("*").alias("n_join_keys"),
        F.sum(F.col("sampled").cast("int")).cast("long")
         .alias("n_keys_sampled"),
        F.coalesce(F.sum(samp), F.lit(0)).cast("long")
         .alias("sampled_size"),
        (F.coalesce(F.sum(samp), F.lit(0)).cast("long") * _A24_P_INV)
        .cast("long").alias("est_size"),
        F.sum("contrib").cast("long").alias("true_size"),
        F.round(F.abs(F.coalesce(F.sum(samp), F.lit(0)) * _A24_P_INV
                      - F.sum("contrib")).cast("double")
                / F.sum("contrib").cast("double"), 6).alias("rel_err"))


# ===========================================================================
# Markov removal-effect attribution — multi-touch attribution over
# the event stream (the model BEHIND ev_markov_transitions' matrix)
# ===========================================================================

_ATTR_L = 4            # absorption horizon (steps)
_ATTR_G = 1_000_000    # probability grid (1e-6 fixed point)
_ATTR_CHANNELS = ("click", "error", "signup", "view")


def _attr_trans_sql() -> str:
    """Transition-count CTE: START -> first event, event -> next
    event, last event -> END, per user (ts, event_id ordered)."""
    return """
seq AS (
  SELECT user_id, event_type AS s,
         coalesce(lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id),
                  'END') AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), trans AS (
  SELECT s, t, count(*)::BIGINT AS c FROM seq GROUP BY s, t
  UNION ALL
  SELECT 'START' AS s, s AS t, count(*)::BIGINT AS c
  FROM seq WHERE rn = 1 GROUP BY s
), r AS (
  SELECT s, CAST(sum(c) AS BIGINT) AS rs FROM trans GROUP BY s
)"""


def _attr_oracle() -> str:
    g = _ATTR_G
    parts = [_attr_trans_sql()]
    qs = {}
    for sc in ("base",) + _ATTR_CHANNELS:
        drop = "" if sc == "base" else f" AND t <> '{sc}'"
        prev = None
        for k in range(1, _ATTR_L + 1):
            name = f"q_{sc}_{k}"
            if prev is None:
                qv = f"(CASE WHEN a.t = 'purchase' THEN {g} ELSE 0 END)"
                join = ""
            else:
                qv = (f"(CASE WHEN a.t = 'purchase' THEN {g} "
                      f"ELSE coalesce(p.q, 0) END)")
                join = f" LEFT JOIN {prev} p ON p.s = a.t"
            parts.append(f"""
{name} AS MATERIALIZED (
  SELECT r.s,
         coalesce(CAST(sum(a.c * {qv}) AS BIGINT), 0) // r.rs AS q
  FROM r LEFT JOIN trans a ON a.s = r.s{drop}{join}
  GROUP BY r.s, r.rs
)""")
            prev = name
        qs[sc] = prev
    base = f"(SELECT q FROM {qs['base']} WHERE s = 'START')"
    rows = []
    for ch in _ATTR_CHANNELS:
        rem = f"(SELECT q FROM {qs[ch]} WHERE s = 'START')"
        rows.append(
            f"SELECT '{ch}' AS channel, {base}::BIGINT AS base_conv_q,"
            f" {rem}::BIGINT AS removed_conv_q,"
            f" ({base} - {rem})::BIGINT AS effect_q")
    effs = " + ".join(
        f"({base} - (SELECT q FROM {qs[ch]} WHERE s = 'START'))"
        for ch in _ATTR_CHANNELS)
    return ("WITH " + ",".join(parts) + f""",
eff AS ({' UNION ALL '.join(rows)}),
tot AS (SELECT CAST({effs} AS BIGINT) AS te)
SELECT e.channel, e.base_conv_q, e.removed_conv_q,
       round(e.effect_q::DOUBLE / e.base_conv_q::DOUBLE, 6)
         AS removal_effect,
       round(e.effect_q::DOUBLE / t.te::DOUBLE, 6) AS attribution_share
FROM eff e CROSS JOIN tot t ORDER BY e.channel
""")


@register("ev_attribution_removal", oracle=_attr_oracle())
def ev_attribution_removal(spark: SparkSession, d: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014, public
    — the data-driven multi-touch attribution model): fit the
    first-order journey chain (START -> events -> purchase/END), and
    credit each channel by how much the purchase-absorption
    probability DROPS when journeys can no longer pass through it
    (transitions into the removed channel die to END).  The model
    BEHIND ev_markov_transitions' matrix and the principled
    replacement for last-touch credit.

    Exactness: absorption probabilities are computed by a bounded
    {L}-step value iteration entirely on a 1e-6 BIGINT grid —
    q'(s) = (sum_t c_st * q(t)) div r_s with purchase pinned at 1e6
    — truncating integer division on both engines (the g2 Lloyd
    convention), so all five chains (base + 4 removals) are
    engine-exact; the two display ratios divide once.  The bounded
    horizon is the honest form of the (I - Q)^-1 solve (the g5/g7
    bounded-iteration convention): effects converge from below as L
    grows.

    Scale shape: ONE user-keyed window pass builds the transition
    counts (the ev_markov_transitions shuffle); everything after —
    20 value-iteration joins — runs on the event-type²-sized count
    table (~30 rows at any corpus size).  The chains are
    metadata-scale by construction."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s"),
        F.coalesce(F.lead("event_type").over(w), F.lit("END")).alias("t"),
        F.row_number().over(w).alias("rn"))
    trans = materialize(
        seq.groupBy("s", "t").agg(F.count("*").alias("c"))
        .unionByName(
            seq.filter(F.col("rn") == 1)
            .groupBy(F.col("s").alias("t"))
            .agg(F.count("*").alias("c"))
            .select(F.lit("START").alias("s"), "t", "c")),
        "attribution:transitions")
    r = trans.groupBy("s").agg(F.sum("c").cast("long").alias("rs"))

    def absorb(removed: str | None):
        a = trans if removed is None else trans.filter(
            F.col("t") != removed)
        q = None
        for _ in range(_ATTR_L):
            if q is None:
                qt = F.when(F.col("t") == "purchase",
                            F.lit(_ATTR_G)).otherwise(F.lit(0))
                j = a
            else:
                j = a.join(q.select(F.col("s").alias("t"),
                                    F.col("q").alias("qt_prev")),
                           "t", "left")
                qt = F.when(F.col("t") == "purchase", F.lit(_ATTR_G)) \
                     .otherwise(F.coalesce("qt_prev", F.lit(0)))
            num = (j.groupBy("s")
                   .agg(F.sum(F.col("c") * qt).cast("long").alias("nm")))
            # bounded lineage: step k+1 joins step k's values
            q = materialize(r.join(num, "s", "left")
                            .select("s", F.expr("coalesce(nm, 0) div rs")
                                    .cast("long").alias("q")),
                            "attribution:absorb_step")
        return q.filter(F.col("s") == "START").select("q")

    base = absorb(None).select(F.col("q").alias("base_conv_q"))
    rows = []
    for ch in _ATTR_CHANNELS:
        rows.append(
            absorb(ch).select(F.lit(ch).alias("channel"),
                              F.col("q").alias("removed_conv_q")))
    rem = rows[0]
    for fr in rows[1:]:
        rem = rem.unionByName(fr)
    eff = (rem.crossJoin(F.broadcast(base))
           .select("channel", "base_conv_q", "removed_conv_q",
                   (F.col("base_conv_q") - F.col("removed_conv_q"))
                   .cast("long").alias("effect_q")))
    tot = eff.agg(F.sum("effect_q").cast("long").alias("te"))
    return (eff.crossJoin(F.broadcast(tot))
            .select("channel", "base_conv_q", "removed_conv_q",
                    F.round(F.col("effect_q").cast("double")
                            / F.col("base_conv_q").cast("double"), 6)
                     .alias("removal_effect"),
                    F.round(F.col("effect_q").cast("double")
                            / F.col("te").cast("double"), 6)
                     .alias("attribution_share"))
            .orderBy("channel"))


ev_attribution_removal.__doc__ = \
    ev_attribution_removal.__doc__.format(L=_ATTR_L)

# ===========================================================================
# Greedy k-center coreset (Gonzalez farthest-point) — iterative
# family #7, and the RADIUS-bounding counterpart of w11's coverage
# ===========================================================================

_KC_K = 8       # centers selected
_KC_D = 8       # leading dims (the g2 grid convention)
_KC_SCALE = 1_000_000


def _kc_oracle() -> str:
    qv = (f"list_transform(list_slice(embedding, 1, {_KC_D}), "
          f"x -> CAST(floor(x::DOUBLE * {_KC_SCALE} + 0.5) AS BIGINT))")
    dist = (f"list_sum(list_transform(range(1, {_KC_D + 1}), "
            f"i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i])))")
    parts = [f"""
p AS MATERIALIZED (
  SELECT vec_id, {qv} AS qv FROM embeddings
), m0 AS MATERIALIZED (
  SELECT p.vec_id, p.qv, {dist}::BIGINT AS mind
  FROM p CROSS JOIN (SELECT qv FROM p WHERE vec_id = 0) c
)"""]
    sel = ["SELECT 0::BIGINT AS sel_order, 0::BIGINT AS center_id,"
           " (SELECT max(mind) FROM m0)::BIGINT AS radius_q"]
    for k in range(1, _KC_K):
        parts.append(f"""
c{k} AS MATERIALIZED (
  SELECT vec_id, qv FROM m{k - 1}
  ORDER BY mind DESC, vec_id LIMIT 1
), m{k} AS MATERIALIZED (
  SELECT p.vec_id, p.qv, least(p.mind, {dist}::BIGINT) AS mind
  FROM m{k - 1} p CROSS JOIN c{k} c
)""")
        sel.append(
            f"SELECT {k}::BIGINT, (SELECT vec_id FROM c{k})::BIGINT,"
            f" (SELECT max(mind) FROM m{k})::BIGINT")
    return ("WITH " + ",".join(parts) + "\n"
            + "\nUNION ALL\n".join(sel) + "\nORDER BY sel_order")


@register("w13_kcenter_coreset", oracle=_kc_oracle())
def w13_kcenter_coreset(spark: SparkSession, d: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985 farthest-point
    traversal, public — the 2-approximation for minimax radius
    coverage): start from vec_id 0, repeatedly select the point
    FARTHEST from the selected set, reporting each center and the
    covering radius after its addition.  The seventh exact iterative
    member, and the geometric dual of w11_facility_location: facility
    location maximizes total coverage similarity (picks dense-region
    exemplars), k-center minimizes the worst point's distance (picks
    OUTLIER-covering exemplars) — the right coreset when tail
    coverage matters (eval-set seeding, annotation triage).

    Exactness: distances on the g2 1e-6 fixed-point grid over the
    leading {D} dims — min-dist state, argmax (DESC dist, ASC id
    tiebreak), and radii are all exact BIGINTs; the radius column is
    monotone non-increasing by construction (pinned in pytest).

    Scale shape: per round ONE map-side distance against the single
    new-center literal + a running min (the k-means assignment
    shape), one TakeOrdered(1) argmax, one 1-row max — K bounded
    passes, no window, no pairwise matrix.  The selected-center rows
    collected per round are bounded metadata (the _km_run
    convention)."""
    from ..functions.vector import to_double_array
    emb = (_t(spark, d, "embeddings")
           .select("vec_id",
                   F.transform(
                       F.slice(to_double_array(F.col("embedding")),
                               1, _KC_D),
                       lambda x: F.floor(x * _KC_SCALE + 0.5)
                       .cast("long")).alias("qv")))

    def dist_to(cv):
        return sum(((F.element_at(F.col("qv"), i + 1) - F.lit(cv[i]))
                    * (F.element_at(F.col("qv"), i + 1) - F.lit(cv[i])))
                   for i in range(_KC_D))

    c0 = emb.filter(F.col("vec_id") == 0).collect()[0]
    centers = [(0, [int(v) for v in c0["qv"]])]
    m = emb.select("vec_id", "qv",
                   dist_to(centers[0][1]).cast("long").alias("mind"))
    rows = []
    for k in range(1, _KC_K):
        # bounded lineage: round k reads round k-1's distances
        m = materialize(m, "kcenter:round")
        rows.append((k - 1, centers[-1][0],
                     m.agg(F.max("mind")).collect()[0][0]))
        far = (m.orderBy(F.desc("mind"), "vec_id").limit(1)
               .collect()[0])
        centers.append((int(far["vec_id"]), [int(v) for v in far["qv"]]))
        m = m.select("vec_id", "qv",
                     F.least(F.col("mind"),
                             dist_to(centers[-1][1]).cast("long"))
                     .alias("mind"))
    rows.append((_KC_K - 1, centers[-1][0],
                 m.agg(F.max("mind")).collect()[0][0]))
    return spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in rows],
        "sel_order long, center_id long, radius_q long"
    ).orderBy("sel_order")


w13_kcenter_coreset.__doc__ = w13_kcenter_coreset.__doc__.format(D=_KC_D)


# ===========================================================================
# Hour-of-day uniformity chi-square — the statistical read behind the
# hourly profile (is the load pattern real or noise?)
# ===========================================================================

@register("dq4_seasonality_chi2", oracle="""
WITH h AS (
  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24)::BIGINT
           AS hour,
         count(*)::BIGINT AS o
  FROM events GROUP BY 1
), t AS (
  SELECT CAST(sum(o) AS BIGINT) AS total,
         count(*)::BIGINT AS n_hours_present FROM h
), num AS (
  SELECT CAST(sum((24 * h.o - t.total) * (24 * h.o - t.total))
              AS BIGINT)
         + (24 - t.n_hours_present) * t.total * t.total AS chi_num
  FROM h CROSS JOIN t GROUP BY t.total, t.n_hours_present
)
SELECT t.total AS n_events, 23::BIGINT AS dof,
       round(n.chi_num::DOUBLE / (24 * t.total)::DOUBLE, 6) AS chi2,
       (100 * n.chi_num > 3517 * 24 * t.total) AS uniform_rejected
FROM t CROSS JOIN num n
""")
def dq4_seasonality_chi2(spark: SparkSession, d: str) -> DataFrame:
    """Hour-of-day uniformity chi-square (Pearson 1900, public): is
    the hourly event profile (ev_hourly_event_counts) a real load
    pattern or sampling noise?  chi² = Σ(o_h - T/24)²/(T/24) against
    the df=23, alpha=0.05 critical value 35.17 — the statistical
    companion the raw profile needs before anyone schedules
    capacity around it (dq2/dq3 test drift BETWEEN cohorts; this
    tests structure WITHIN one).

    The exactness trick: multiply through by 24²: chi² =
    Σ(24·o_h - T)² / (24T), so the numerator is an exact BIGINT
    (absent hours contribute T² each, added as a closed-form term),
    and the rejection decision 100·num > 3517·24T is an exact
    integer comparison (35.17 scaled by 100) — engine-exact even
    though the display statistic divides.

    Scale shape: one partial-aggregable scan to the 24-row hour
    table; everything after is constant-size."""
    ev = _t(spark, d, "events")
    h = (ev.groupBy(F.expr("(CAST(unix_timestamp(ts) AS BIGINT)"
                           " div 3600) % 24").alias("hour"))
         .agg(F.count("*").alias("o")))
    t = h.agg(F.sum("o").cast("long").alias("total"),
              F.count("*").alias("n_hours_present"))
    num = (h.crossJoin(F.broadcast(t))
           .groupBy("total", "n_hours_present")
           .agg(F.sum((24 * F.col("o") - F.col("total"))
                      * (24 * F.col("o") - F.col("total")))
                .cast("long").alias("s"))
           .select("total",
                   (F.col("s") + (24 - F.col("n_hours_present"))
                    * F.col("total") * F.col("total"))
                   .cast("long").alias("chi_num")))
    return (num.select(
        F.col("total").alias("n_events"),
        F.lit(23).cast("long").alias("dof"),
        F.round(F.col("chi_num").cast("double")
                / (24 * F.col("total")).cast("double"), 6).alias("chi2"),
        (100 * F.col("chi_num") > 3517 * 24 * F.col("total"))
        .alias("uniform_rejected")))

def _ahash_comp_oracle() -> str:
    return ("WITH RECURSIVE " + _ahash_cte() + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM hpairs
  UNION SELECT doc_b, doc_a FROM hpairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
""")


@register("mm_ahash_components", oracle=_ahash_comp_oracle())
def mm_ahash_components(spark: SparkSession, d: str) -> DataFrame:
    """Image near-dup CLUSTERS: connected components over the aHash
    Hamming<=1 pair graph — the image twin of dd_components (pairs
    alone under-read duplication: re-encodes of one image chain
    A~B~C without A~C, and the component is the dedup unit whose
    min-id member becomes the keeper).  Reuses the exact
    star-contraction operator (dedup.connected_components) against
    the DuckDB recursive transitive closure — equality proves the
    labeling exact on this graph too.

    Scale shape: the pair graph is band-bucketed (never all-pairs);
    contraction rounds are groupBy-min passes on the id key with
    a per-round materialize (dedup.connected_components)."""
    from ..operators import dedup
    docs = _t(spark, d, "documents")
    pairs = (_ahash_pairs(spark, d)
             .select(F.col("doc_a").alias("id_a"),
                     F.col("doc_b").alias("id_b")))
    return dedup.connected_components(pairs, docs)

# ===========================================================================
# Benford first-digit audit — the synthetic-data / fraud tell on
# monetary columns
# ===========================================================================

# round(log10(1 + 1/d) * 1e6) for d = 1..9; sums to exactly 1e6 on
# this grid, so expected counts are an exact integer partition of T
_BENFORD_Q = (301030, 176091, 124939, 96910, 79181, 66947, 57992,
              51153, 45757)


def _benford_oracle() -> str:
    exp_case = " ".join(f"WHEN {d + 1} THEN {q}"
                        for d, q in enumerate(_BENFORD_Q))
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
), o AS (
  SELECT digit, count(*)::BIGINT AS n FROM digits GROUP BY digit
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS total FROM o
), full_o AS (
  SELECT d.digit, coalesce(o.n, 0)::BIGINT AS n,
         (CASE d.digit {exp_case} END)::BIGINT AS e_q
  FROM (SELECT unnest(range(1, 10))::BIGINT AS digit) d
  LEFT JOIN o ON o.digit = d.digit
)
SELECT f.digit, f.n,
       round(f.n::DOUBLE / t.total::DOUBLE, 6) AS share,
       round(f.e_q::DOUBLE / 1000000, 6) AS benford_expected,
       round((1000000 * f.n - f.e_q * t.total)
             * (1000000 * f.n - f.e_q * t.total)
             / (f.e_q::DOUBLE * t.total::DOUBLE * 1000000), 6)
         AS chi2_term
FROM full_o f CROSS JOIN t ORDER BY f.digit
"""


@register("dq5_benford", oracle=_benford_oracle())
def dq5_benford(spark: SparkSession, d: str) -> DataFrame:
    """Benford first-digit audit on order totals (Benford 1938 /
    Nigrini's forensic-accounting use, public): observed vs expected
    first-digit shares with per-digit chi-square terms — naturally
    occurring monetary amounts follow log10(1+1/d), and uniform or
    generator-shaped data (like this synthetic corpus) departs loudly
    — exactly what the audit is for: a data-quality tell on any
    ingested numeric column before anyone models on it.

    Exactness: expected probabilities are PRE-QUANTIZED to a 1e-6
    integer grid that partitions 1e6 exactly (module literals, the
    ir1 injected-weights convention), so expected counts e_q·T and
    the chi-square numerator (1e6·n - e_q·T)² are exact BIGINTs;
    each term divides once for display.

    Scale shape: first digit is map-side string math; one partial-agg
    to the 9-row digit table; everything after is constant-size."""
    orders = _t(spark, d, "orders")
    digits = (orders.filter(F.col("o_totalprice") >= 1)
              .select(F.substring(F.floor("o_totalprice").cast("long")
                                  .cast("string"), 1, 1).cast("long")
                      .alias("digit")))
    o = digits.groupBy("digit").agg(F.count("*").alias("n"))
    t = o.agg(F.sum("n").cast("long").alias("total"))
    full = (spark.range(1, 10).select(F.col("id").alias("digit"))
            .join(o, "digit", "left")
            .select("digit", F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n"),
                    F.element_at(
                        F.array(*[F.lit(q) for q in _BENFORD_Q]),
                        F.col("digit").cast("int")).cast("long")
                    .alias("e_q")))
    num = (1000000 * F.col("n") - F.col("e_q") * F.col("total"))
    return (full.crossJoin(F.broadcast(t))
            .select("digit", "n",
                    F.round(F.col("n").cast("double")
                            / F.col("total").cast("double"), 6)
                     .alias("share"),
                    F.round(F.col("e_q").cast("double") / 1000000, 6)
                     .alias("benford_expected"),
                    F.round(num * num
                            / (F.col("e_q").cast("double")
                               * F.col("total").cast("double")
                               * 1000000), 6).alias("chi2_term"))
            .orderBy("digit"))


# ===========================================================================
# p-chart on the daily error share — statistical process control for
# the ingest pipeline (3-sigma limits, all-integer decision)
# ===========================================================================

@register("dq6_error_pchart", oracle="""
WITH daily AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400)::BIGINT AS day,
         count(*)::BIGINT AS n_events,
         CAST(sum((event_type = 'error')::INT) AS BIGINT) AS n_errors
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS nn,
         CAST(sum(n_errors) AS BIGINT) AS oo
  FROM daily
)
SELECT d.day, d.n_events, d.n_errors,
       round(d.n_errors::DOUBLE / d.n_events::DOUBLE, 6) AS err_share,
       round(t.oo::DOUBLE / t.nn::DOUBLE, 6) AS center,
       ((d.n_errors * t.nn - t.oo * d.n_events)
        * (d.n_errors * t.nn - t.oo * d.n_events)
        > 9 * t.oo * (t.nn - t.oo) * d.n_events)
         AS out_of_control
FROM daily d CROSS JOIN tot t ORDER BY d.day
""")
def dq6_error_pchart(spark: SparkSession, d: str) -> DataFrame:
    """Shewhart p-chart on the daily error share (Shewhart 1931,
    public — the control chart every SPC text opens with): flag days
    whose error proportion leaves the 3-sigma binomial band around
    the corpus-wide center line — the pipeline-health companion to
    ev_anomaly_mad (MAD reads VOLUME anomalies; this reads RATE
    anomalies with the correct per-day sample-size-dependent band:
    a 60%-error 5-event day is noise, a 10%-error 10k-event day is
    an incident).

    The exactness trick: the flag |p_d - p̄| > 3·sqrt(p̄(1-p̄)/n_d)
    cross-multiplies to (o_d·N - O·n_d)² > 9·O·(N-O)·n_d — an exact
    BIGINT comparison, no sqrt at all (magnitudes: o_d·N at 1e5-row
    days on 1e9-event corpora near the BIGINT edge — shift counts to
    a coarser grid first at that scale, the g2/g4 convention).

    Scale shape: one partial-aggregable scan to the day table, a
    1-row broadcast total, map-side flags."""
    ev = _t(spark, d, "events")
    daily = (ev.groupBy(F.expr("CAST(unix_timestamp(ts) AS BIGINT)"
                               " div 86400").alias("day"))
             .agg(F.count("*").alias("n_events"),
                  F.sum((F.col("event_type") == "error").cast("int"))
                  .cast("long").alias("n_errors")))
    tot = daily.agg(F.sum("n_events").cast("long").alias("nn"),
                    F.sum("n_errors").cast("long").alias("oo"))
    dev = (F.col("n_errors") * F.col("nn")
           - F.col("oo") * F.col("n_events"))
    return (daily.crossJoin(F.broadcast(tot))
            .select("day", "n_events", "n_errors",
                    F.round(F.col("n_errors").cast("double")
                            / F.col("n_events").cast("double"), 6)
                     .alias("err_share"),
                    F.round(F.col("oo").cast("double")
                            / F.col("nn").cast("double"), 6)
                     .alias("center"),
                    (dev * dev > 9 * F.col("oo")
                     * (F.col("nn") - F.col("oo")) * F.col("n_events"))
                    .alias("out_of_control"))
            .orderBy("day"))

# ===========================================================================
# Two-proportion z-test — the A/B experimentation primitive, integer
# decision (completes dq4/dq5/dq6's classical-statistics family)
# ===========================================================================

@register("dq7_ab_ztest", oracle="""
WITH u AS (
  SELECT user_id, (user_id % 2)::BIGINT AS arm,
         (sum((event_type = 'purchase')::INT) >= 2)::BIGINT
           AS converted
  FROM events GROUP BY user_id
), a AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
              AS BIGINT) AS o1,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
              AS BIGINT) AS o2
  FROM u
)
SELECT n1, o1, n2, o2,
       round(o1::DOUBLE / n1::DOUBLE, 6) AS p1,
       round(o2::DOUBLE / n2::DOUBLE, 6) AS p2,
       CASE WHEN o1 + o2 = 0 OR o1 + o2 = n1 + n2 THEN 0.0::DOUBLE
            ELSE round((o1 * n2 - o2 * n1) * (o1 * n2 - o2 * n1)
                       * (n1 + n2)::DOUBLE
                       / ((o1 + o2)::DOUBLE
                          * (n1 + n2 - o1 - o2)::DOUBLE
                          * n1::DOUBLE * n2::DOUBLE), 6)
       END AS z_squared,
       (10000 * (n1 + n2) * (o1 * n2 - o2 * n1) * (o1 * n2 - o2 * n1)
        > 38416 * (o1 + o2) * (n1 + n2 - o1 - o2) * n1 * n2)
         AS significant_95
FROM a
""")
def dq7_ab_ztest(spark: SparkSession, d: str) -> DataFrame:
    """Two-proportion z-test on per-user conversion between the two
    hash arms (the textbook A/B primitive; pooled-variance form in
    every stats reference): arm = user_id % 2 (the deterministic
    assignment t26 uses for splits — on non-experimental data this
    is an A/A test, so 'significant' should be FALSE, which is
    itself the diagnostic: a significant A/A split means the
    assignment leaked into behavior).  Conversion = at least two
    purchase events, so both arms carry real variation at every SF
    (a single-purchase definition saturates on this event mix).  Completes the classical-
    statistics family: chi-square within a dimension (dq4), Benford
    against a law (dq5), SPC over time (dq6), now two-sample
    inference.

    The exactness trick: z² = (p1-p2)² / (p̂(1-p̂)(1/n1+1/n2))
    cross-multiplies to 10000·N·(o1·n2-o2·n1)² > 38416·O·(N-O)·n1·n2
    (z²_{0.95} = 1.96² = 3.8416 scaled by 10⁴) — an exact BIGINT
    comparison.  Magnitude bound: N·(o1n2-o2n1)² needs counts below
    ~1e4.6 to stay in BIGINT with the 10⁴ scale — shift counts to a
    coarser grid first at larger corpora (the g2/g4 convention,
    stated here because this is the first place the guard binds at
    realistic event volumes).

    Scale shape: one per-user conditional max (partial-agg on the
    user key), a 4-cell conditional aggregate, map-side arithmetic."""
    ev = _t(spark, d, "events")
    u = (ev.groupBy("user_id")
         .agg((F.sum((F.col("event_type") == "purchase").cast("int"))
               >= 2).cast("long").alias("converted"))
         .select((F.col("user_id") % 2).alias("arm"), "converted"))
    a = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long")
         .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted"))
              .otherwise(0)).cast("long").alias("o1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long")
         .alias("n2"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted"))
              .otherwise(0)).cast("long").alias("o2"))
    n1, o1, n2, o2 = (F.col(c) for c in ("n1", "o1", "n2", "o2"))
    dev = o1 * n2 - o2 * n1
    nn, oo = n1 + n2, o1 + o2
    return a.select(
        "n1", "o1", "n2", "o2",
        F.round(o1.cast("double") / n1.cast("double"), 6).alias("p1"),
        F.round(o2.cast("double") / n2.cast("double"), 6).alias("p2"),
        F.when((oo == 0) | (oo == nn), F.lit(0.0))
         .otherwise(F.round(
             dev * dev * nn.cast("double")
             / (oo.cast("double") * (nn - oo).cast("double")
                * n1.cast("double") * n2.cast("double")), 6))
         .alias("z_squared"),
        (10000 * nn * dev * dev > 38416 * oo * (nn - oo) * n1 * n2)
        .alias("significant_95"))

# ===========================================================================
# Hub-removal robustness — the attack read on the 5-NN graph (how
# much of the neighborhood structure rides on a few hub nodes)
# ===========================================================================

_G8_HUBS = 10


def _g8_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM nb
), deg AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
), hubs AS MATERIALIZED (
  SELECT node FROM deg ORDER BY deg DESC, node LIMIT {_G8_HUBS}
), kept AS (
  SELECT u, v FROM und
  WHERE u NOT IN (SELECT node FROM hubs)
    AND v NOT IN (SELECT node FROM hubs)
)
SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
       (SELECT count(*) FROM und)::BIGINT AS n_edges,
       (SELECT max(deg) FROM deg)::BIGINT AS max_degree,
       (SELECT count(*) FROM kept)::BIGINT AS edges_after_attack,
       round((SELECT count(*) FROM und) - (SELECT count(*) FROM kept),
             0)::BIGINT AS edges_lost,
       round(((SELECT count(*) FROM und)
              - (SELECT count(*) FROM kept))::DOUBLE
             / (SELECT count(*) FROM und)::DOUBLE, 6)
         AS edge_loss_share
"""


@register("g8_hub_attack", oracle=_g8_oracle())
def g8_hub_attack(spark: SparkSession, d: str) -> DataFrame:
    """Hub-removal robustness of the 5-NN graph (Albert, Jeong &
    Barabási 2000, public — scale-free networks shatter under
    targeted hub attack): drop the {H} highest-degree nodes and
    report the edge loss share — the quantitative form of the
    hubness diagnostic g6's docstring names (in high dimensions a
    few points appear in everyone's kNN list; if removing {H} of
    {H}00s of nodes erases a large edge share, the 'neighborhood
    structure' is hub artifact, and everything downstream of the
    graph — label propagation, SemDeDup cells, ICP packing — is
    standing on it).

    Exactness: degrees, the top-{H} hub election (deg DESC, id ASC),
    and all counts are exact integers; one display division.

    Scale shape: the kNN build is the documented exact/ivf swap
    (_g6_und); degree count partial-aggregates; the attack is two
    broadcast-able anti-joins against an {H}-row hub list."""
    und = _g6_und(spark, d)
    ends = (und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node"))))
    deg = ends.groupBy("node").agg(F.count("*").alias("deg"))
    hubs = (deg.orderBy(F.desc("deg"), "node").limit(_G8_HUBS)
            .select("node"))
    kept = (und.join(F.broadcast(hubs.withColumnRenamed("node", "u")),
                     "u", "left_anti")
            .join(F.broadcast(hubs.withColumnRenamed("node", "v")),
                  "v", "left_anti"))
    stats = deg.agg(F.count("*").alias("n_nodes"),
                    F.max("deg").cast("long").alias("max_degree"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    n_kept = kept.agg(F.count("*").alias("edges_after_attack"))
    return (stats.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(n_kept))
            .select("n_nodes", "n_edges", "max_degree",
                    "edges_after_attack",
                    (F.col("n_edges") - F.col("edges_after_attack"))
                    .cast("long").alias("edges_lost"),
                    F.round((F.col("n_edges")
                             - F.col("edges_after_attack"))
                            .cast("double")
                            / F.col("n_edges").cast("double"), 6)
                     .alias("edge_loss_share")))


g8_hub_attack.__doc__ = g8_hub_attack.__doc__.format(H=_G8_HUBS)


# ===========================================================================
# PMI collocations among the head tokens — the association read
# beside burstiness (which pairs travel together)
# ===========================================================================

_PMI_TOP = 20


def _pmi_oracle() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
), n AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), top AS (
  SELECT tok, count(*)::BIGINT AS df FROM dt GROUP BY tok
  ORDER BY df DESC, tok LIMIT {_PMI_TOP}
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
         (SELECT count(*) FROM dt x JOIN dt y
          ON y.doc_id = x.doc_id AND x.tok = a.tok AND y.tok = b.tok
         )::BIGINT AS df_ab
  FROM top a JOIN top b ON a.tok < b.tok
)
SELECT tok_a, tok_b, df_a, df_b, df_ab,
       CASE WHEN df_ab = 0 THEN NULL
            ELSE CAST(round(ln(df_ab::DOUBLE * n.n_docs::DOUBLE
                               / (df_a::DOUBLE * df_b::DOUBLE))
                            * 1000000) AS BIGINT)
       END AS pmi_q
FROM pairs CROSS JOIN n
ORDER BY tok_a, tok_b
"""


@register("ta_pmi_pairs", oracle=_pmi_oracle())
def ta_pmi_pairs(spark: SparkSession, d: str) -> DataFrame:
    """Pointwise mutual information for every pair of the {top} head
    tokens (Church & Hanks 1990, public — the collocation statistic):
    PMI = ln(P(a,b)/(P(a)P(b))) over document co-occurrence — which
    vocabulary actually travels together, the association read
    beside ta_burstiness's dispersion and ta_source_tfidf's
    distinctiveness.  Negative PMI between head tokens is its own
    tell (templated text where frequent tokens AVOID each other).

    Exactness: df counts are exact integers and PMI is quantized to
    a 1e-6 BIGINT once per pair (NULL when never co-occurring —
    honest -inf); the pair set is the head-token cross, {top}x{top}/2
    rows, never the vocabulary square.

    Scale shape: one distinct (doc, token) projection; the head
    table is a TakeOrdered({top}); co-occurrence joins the projection
    against itself RESTRICTED to head tokens (two broadcast
    semi-joins, then a doc-keyed equi-join), so the join input is
    corpus x {top}/vocab-share, not corpus²."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    dt = (docs.select("doc_id", F.explode(tokens(F.col("text")))
                      .alias("tok"))
          .distinct())
    n = docs.agg(F.count("*").alias("n_docs"))
    top = (dt.groupBy("tok").agg(F.count("*").alias("df"))
           .orderBy(F.desc("df"), "tok").limit(_PMI_TOP))
    ht = dt.join(F.broadcast(top), "tok")
    a = ht.select(F.col("doc_id"), F.col("tok").alias("tok_a"),
                  F.col("df").alias("df_a"))
    b = ht.select(F.col("doc_id"), F.col("tok").alias("tok_b"),
                  F.col("df").alias("df_b"))
    co = (a.join(b, "doc_id")
          .filter(F.col("tok_a") < F.col("tok_b"))
          .groupBy("tok_a", "tok_b", "df_a", "df_b")
          .agg(F.count("*").alias("df_ab")))
    ta, tb = top.alias("ta"), top.alias("tb")
    allp = (ta.join(tb, F.col("ta.tok") < F.col("tb.tok"))
            .select(F.col("ta.tok").alias("tok_a"),
                    F.col("tb.tok").alias("tok_b"),
                    F.col("ta.df").alias("df_a"),
                    F.col("tb.df").alias("df_b")))
    full = (allp.join(co.select("tok_a", "tok_b", "df_ab"),
                      ["tok_a", "tok_b"], "left")
            .select("tok_a", "tok_b", "df_a", "df_b",
                    F.coalesce("df_ab", F.lit(0)).cast("long")
                    .alias("df_ab")))
    pmi = F.when(F.col("df_ab") == 0, F.lit(None).cast("long")) \
        .otherwise(F.round(F.log(
            F.col("df_ab").cast("double") * F.col("n_docs").cast("double")
            / (F.col("df_a").cast("double")
               * F.col("df_b").cast("double"))) * 1000000).cast("long"))
    return (full.crossJoin(F.broadcast(n))
            .select("tok_a", "tok_b", "df_a", "df_b", "df_ab",
                    pmi.alias("pmi_q"))
            .orderBy("tok_a", "tok_b"))


ta_pmi_pairs.__doc__ = ta_pmi_pairs.__doc__.format(top=_PMI_TOP)

# ===========================================================================
# Value concentration deciles — the 80/20 read on event value
# ===========================================================================

@register("ev_value_deciles", oracle="""
WITH uv AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS v_cents
  FROM events GROUP BY user_id
), ranked AS (
  SELECT v_cents,
         ntile(10) OVER (ORDER BY v_cents DESC, user_id) AS decile
  FROM uv
), t AS (
  SELECT CAST(sum(v_cents) AS BIGINT) AS total FROM uv
)
SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_users,
       CAST(sum(v_cents) AS BIGINT) AS v_cents,
       round(sum(v_cents)::DOUBLE / t.total::DOUBLE, 6)
         AS value_share,
       round(CAST(sum(sum(v_cents))
                  OVER (ORDER BY decile) AS BIGINT)::DOUBLE
             / t.total::DOUBLE, 6) AS cum_share
FROM ranked CROSS JOIN t
GROUP BY decile, t.total ORDER BY decile
""")
def ev_value_deciles(spark: SparkSession, d: str) -> DataFrame:
    """User-value concentration deciles (the Pareto/80-20 dashboard
    read; Lorenz-curve points at decile resolution — the per-user
    twin of a19_source_gini's corpus number): users ranked by total
    event value, split into ntile(10) deciles, per-decile and
    cumulative value shares.  The 'how much of revenue is the top
    decile' table every retention discussion starts from.

    Exactness: event values are quantized to integer cents BEFORE
    any sum (doubles summed distributed would be order-dependent —
    the established commutative-sum rule), ntile tiebreaks on
    (value DESC, user_id), and both share columns divide exact
    BIGINTs once.

    Scale shape: one user-keyed partial-agg; the ntile window runs
    over the USER-sized value table (at 100 TB swap for a
    percentile-cut bucket table, the w10 pattern); the decile
    aggregate is 10 rows."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    uv = (ev.groupBy("user_id")
          .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
               .cast("long").alias("v_cents")))
    ranked = uv.withColumn(
        "decile", F.ntile(10).over(
            W.orderBy(F.desc("v_cents"), "user_id")).cast("long"))
    t = uv.agg(F.sum("v_cents").cast("long").alias("total"))
    agg = (ranked.groupBy("decile")
           .agg(F.count("*").alias("n_users"),
                F.sum("v_cents").cast("long").alias("v_cents")))
    cum = F.sum("v_cents").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0))
    return (agg.crossJoin(F.broadcast(t))
            .select("decile", "n_users", "v_cents",
                    F.round(F.col("v_cents").cast("double")
                            / F.col("total").cast("double"), 6)
                     .alias("value_share"),
                    F.round(cum.cast("double")
                            / F.col("total").cast("double"), 6)
                     .alias("cum_share"))
            .orderBy("decile"))


# ===========================================================================
# Dedup threshold sweep — pairs found vs Jaccard cut in ONE pass
# ===========================================================================

def _ddcurve_oracle() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    sh = OV.word_shingles_sql(toks, 3)
    jac = ("len(list_intersect(a.sh, b.sh))::DOUBLE"
           " / len(list_distinct(a.sh || b.sh))")
    return f"""
WITH sh AS (SELECT doc_id, {sh} AS sh FROM documents),
j AS (
  SELECT round({jac}, 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {jac} >= 0.1
)
SELECT t.thr, CAST(sum((j.jaccard >= t.thr)::INT) AS BIGINT)
         AS n_pairs
FROM (SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS thr) t
LEFT JOIN j ON TRUE
GROUP BY t.thr ORDER BY t.thr
"""


@register("dd_threshold_curve", oracle=_ddcurve_oracle())
def dd_threshold_curve(spark: SparkSession, d: str) -> DataFrame:
    """Near-dup pairs found vs Jaccard threshold — five cuts
    (0.1..0.9) read off ONE similarity pass via conditional counts
    (the t29_mix_tuning one-scan-many-knobs trick applied to the
    dedup knob): the curve a curation team reads before committing a
    threshold, since pairs-vs-cut is the precision/recall dial and
    recomputing the O(n²/2) pass per candidate threshold is the
    naive cost this avoids.

    Scale shape: the exact pairwise pass with the size-bound prune
    at the LOWEST threshold (0.1) feeds all five counters; at scale
    the same five conditional counters ride the minhash-banded
    candidate set instead (dd_minhash_lsh's output schema) — the
    curve read is one aggregate either way."""
    from ..operators.dedup import ngram_jaccard_pairs_index
    docs = _t(spark, d, "documents")
    pairs = ngram_jaccard_pairs_index(docs, threshold=0.1)
    thr = spark.createDataFrame(
        [(t,) for t in (0.1, 0.3, 0.5, 0.7, 0.9)], "thr double")
    # LEFT join from the threshold frame (not crossJoin): on an empty
    # pair set every threshold still emits with n_pairs = 0, matching
    # the oracle's LEFT JOIN ... ON TRUE degeneration (ADVICE r9)
    return (thr.join(pairs.select("jaccard"), F.lit(True), "left")
            .groupBy("thr")
            .agg(F.coalesce(
                F.sum((F.col("jaccard") >= F.col("thr")).cast("int")),
                F.lit(0)).cast("long").alias("n_pairs"))
            .orderBy("thr"))

# ===========================================================================
# MinHash banding precision/recall — the driver-visible PR gate for
# the workhorse dedup operator (the test-suite S-curve as a catalog
# scoreboard)
# ===========================================================================

def _minhash_pr_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH allc AS (
  SELECT * FROM ({OV.minhash_pairs_sql(threshold=0.0)})
), ex AS (
  SELECT * FROM ({OV.ngram_pairs_sql(threshold=0.8)})
), s AS (
  SELECT (SELECT count(*) FROM allc)::BIGINT AS n_candidates,
         (SELECT count(*) FROM allc WHERE jaccard >= 0.8)::BIGINT
           AS n_true_pos,
         (SELECT count(*) FROM ex)::BIGINT AS n_exact
)
SELECT n_candidates, n_true_pos, n_exact,
       round(n_true_pos::DOUBLE
             / greatest(n_candidates, 1)::DOUBLE, 6) AS precision,
       round(n_true_pos::DOUBLE / greatest(n_exact, 1)::DOUBLE, 6)
         AS recall
FROM s
"""


@register("dd_minhash_pr", oracle=_minhash_pr_oracle())
def dd_minhash_pr(spark: SparkSession, d: str) -> DataFrame:
    """Precision/recall scoreboard for MinHash(16)+LSH(4x4) banding
    against the exact Jaccard>=0.8 pair set — the
    tests/test_minhash_width.py S-curve promoted to a driver-visible
    catalog number: precision reads how much of the banded candidate
    set survives exact verification (wasted verify work), recall
    reads how many true near-dup pairs banding ever surfaces (what
    dedup silently misses; 1 - recall IS the LSH miss rate at this
    width).  Both engines band identically (shared universal-hash
    constants), so candidates, true positives, and the exact set are
    all value-oracled — an LSH miss is a semantic outcome here, not
    noise.

    Scale shape: the candidate side is the dd_minhash_lsh plan at
    verify-threshold 0 (band shuffle + candidate-only shingle join);
    the exact side runs the shingle inverted index since r14
    (ngram_jaccard_pairs_index — sum-of-freq^2, no nested loop), but
    the FULL exact pair set still grows with the corpus — at 100 TB
    recall is estimated on a sampled stratum instead
    (dd_minhash_pr_sampled, the a24 key-sampling shape).  The ANALYTIC prior for this measured
    posterior is dd_band_plan (plans/catalog_r14.py): the S-curve
    says 16/4 sits at 0.8785 at j=0.8 — pick the banding there
    BEFORE paying for a measurement."""
    from ..operators.dedup import (minhash_dedup_pairs,
                                   ngram_jaccard_pairs_index)
    docs = _t(spark, d, "documents")
    allc = minhash_dedup_pairs(docs, threshold=0.0)
    ex = ngram_jaccard_pairs_index(docs, threshold=0.8)
    s = (allc.agg(F.count("*").alias("n_candidates"),
                  F.sum((F.col("jaccard") >= 0.8).cast("int"))
                  .cast("long").alias("n_true_pos"))
         .crossJoin(F.broadcast(
             ex.agg(F.count("*").alias("n_exact")))))
    return s.select(
        "n_candidates", "n_true_pos", "n_exact",
        F.round(F.col("n_true_pos").cast("double")
                / F.greatest("n_candidates", F.lit(1)).cast("double"), 6)
         .alias("precision"),
        F.round(F.col("n_true_pos").cast("double")
                / F.greatest("n_exact", F.lit(1)).cast("double"), 6)
         .alias("recall"))

# ===========================================================================
# Degree assortativity of the 5-NN graph — do hubs link to hubs?
# (Newman 2002; the structure read completing census/k-core/attack)
# ===========================================================================

def _g9_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM nb
), deg AS MATERIALIZED (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
), ed AS (
  SELECT du.deg AS j, dv.deg AS k
  FROM und JOIN deg du ON du.node = und.u
  JOIN deg dv ON dv.node = und.v
), s AS (
  SELECT count(*)::BIGINT AS m,
         CAST(sum(j + k) AS BIGINT) AS s1,
         CAST(sum(j * j + k * k) AS BIGINT) AS s2,
         CAST(sum(j * k) AS BIGINT) AS s3
  FROM ed
)
SELECT m AS n_edges, s1, s2, s3,
       round((4 * m * s3 - s1 * s1)::DOUBLE
             / (2 * m * s2 - s1 * s1)::DOUBLE, 6) AS assortativity
FROM s
"""


@register("g9_assortativity", oracle=_g9_oracle())
def g9_assortativity(spark: SparkSession, d: str) -> DataFrame:
    """Degree assortativity of the symmetrized 5-NN graph (Newman
    2002, public): the Pearson correlation of endpoint degrees
    across edges — positive means hubs link to hubs (a core-periphery
    embedding space), negative means hubs link to leaves (the
    hub-as-universal-neighbor pathology g8_hub_attack quantifies by
    deletion; this reads it as one signed number).  Completes the
    graph-structure family: census (closure), k-core (density
    layers), hub attack (robustness), assortativity (mixing).

    The exactness trick: Newman's r reduces over edge sums S1=Σ(j+k),
    S2=Σ(j²+k²), S3=Σjk to r = (4M·S3 - S1²)/(2M·S2 - S1²) — all
    exact BIGINTs (degrees are k-bounded, so S2 <= M·(2k_max²) stays
    tiny), one display division.

    Scale shape: the kNN build is the documented exact/ivf swap;
    degree table partial-aggregates; the edge-degree join is two
    equi-joins on the flat node key; the sums are one 4-cell
    aggregate."""
    und = _g6_und(spark, d)
    ends = (und.select(F.col("u").alias("node"))
            .unionAll(und.select(F.col("v").alias("node"))))
    deg = ends.groupBy("node").agg(F.count("*").alias("deg"))
    ed = (und.join(deg.withColumnRenamed("node", "u")
                   .withColumnRenamed("deg", "j"), "u")
          .join(deg.withColumnRenamed("node", "v")
                .withColumnRenamed("deg", "k"), "v")
          .select("j", "k"))
    s = ed.agg(F.count("*").alias("m"),
               F.sum(F.col("j") + F.col("k")).cast("long").alias("s1"),
               F.sum(F.col("j") * F.col("j")
                     + F.col("k") * F.col("k")).cast("long").alias("s2"),
               F.sum(F.col("j") * F.col("k")).cast("long").alias("s3"))
    return s.select(
        F.col("m").alias("n_edges"), "s1", "s2", "s3",
        F.round((4 * F.col("m") * F.col("s3")
                 - F.col("s1") * F.col("s1")).cast("double")
                / (2 * F.col("m") * F.col("s2")
                   - F.col("s1") * F.col("s1")).cast("double"), 6)
         .alias("assortativity"))

# ===========================================================================
# Conversion by session tenure — does conversion improve as users
# return?  (the mix-shift decomposition of the flat funnel rate)
# ===========================================================================

@register("ev_funnel_tenure", oracle="""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_id
  FROM o
), fv AS (
  SELECT user_id, session_id, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END) OVER
           (PARTITION BY user_id, session_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS first_view
  FROM s
), conv AS (
  SELECT user_id, session_id,
         max((event_type = 'purchase'
              AND first_view IS NOT NULL)::INT)::BIGINT AS converted
  FROM fv GROUP BY user_id, session_id
)
SELECT least(session_id, 10)::BIGINT AS session_tenure,
       count(*)::BIGINT AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(sum(converted)::DOUBLE / count(*)::DOUBLE, 6)
         AS conversion_rate
FROM conv GROUP BY least(session_id, 10) ORDER BY session_tenure
""")
def ev_funnel_tenure(spark: SparkSession, d: str) -> DataFrame:
    """Session view->purchase conversion sliced by SESSION TENURE
    (the user's 1st, 2nd, ... session, capped at 10+) — whether
    conversion improves as users return is THE product question a
    flat funnel rate hides (mix-shift: a rising flat rate can mean
    improving product OR just a tenure-shifted session mix — this
    table separates them).  The tenure index falls out of the
    sessionization for free: it IS the session_id prefix-sum.

    Semantics: a session converts if a purchase occurs at-or-after
    the session's first view (the ev_funnel_ttc running-min shape —
    no self-join).

    Scale shape: one user_id exchange drives sessionization AND the
    running first-view min; the final aggregate is 10 rows."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = ts_sec - F.lag(ts_sec).over(w)
    s = (ev.withColumn("new_session",
                       F.when(gap.isNull() | (gap > 1800), 1)
                       .otherwise(0))
         .withColumn("session_id",
                     F.sum("new_session").over(run).cast("long")))
    sw = (W.partitionBy("user_id", "session_id")
          .orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    fv = s.withColumn(
        "first_view",
        F.min(F.when(F.col("event_type") == "view",
                     F.col("ts"))).over(sw))
    conv = (fv.groupBy("user_id", "session_id")
            .agg(F.max(((F.col("event_type") == "purchase")
                        & F.col("first_view").isNotNull()).cast("int"))
                 .cast("long").alias("converted")))
    return (conv.groupBy(F.least("session_id", F.lit(10))
                         .cast("long").alias("session_tenure"))
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("converted").cast("long").alias("n_converted"),
                 F.round(F.sum("converted").cast("double")
                         / F.count("*").cast("double"), 6)
                  .alias("conversion_rate"))
            .orderBy("session_tenure"))

# ===========================================================================
# Equi-depth histogram — the planner-stats companion to s32's
# row/NDV/min/max (what a17's Selinger audit would read for range
# predicates)
# ===========================================================================

_HIST_BUCKETS = 8


def _a29_oracle() -> str:
    cols = ", ".join(
        f"CAST(round(quantile_cont(cents, "
        f"{i / _HIST_BUCKETS!r}::DOUBLE)) AS BIGINT) AS h{i}"
        for i in range(1, _HIST_BUCKETS + 1))
    unpivot = " UNION ALL ".join(
        f"SELECT {i} AS i, h{i} AS hi FROM q"
        for i in range(1, _HIST_BUCKETS + 1))
    return f"""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), q AS (
  SELECT {cols}, CAST(min(cents) AS BIGINT) AS mn FROM v
), cuts AS ({unpivot}),
lo AS (
  SELECT i, hi,
         coalesce(lag(hi) OVER (ORDER BY i),
                  (SELECT mn - 1 FROM q)) AS lo
  FROM cuts
)
SELECT l.i::BIGINT AS bucket, l.lo AS lo_cents, l.hi AS hi_cents,
       (SELECT count(*) FROM v
        WHERE cents > l.lo AND cents <= l.hi)::BIGINT AS n_rows
FROM lo l ORDER BY l.i
"""


@register("a29_equidepth_histogram", oracle=_a29_oracle())
def a29_equidepth_histogram(spark: SparkSession, d: str) -> DataFrame:
    """Equi-depth histogram on order totals ({B} buckets) — the
    planner statistic beside s32's row/NDV/min/max and a17's
    containment audit: range-predicate selectivity estimation needs
    depth-balanced boundaries, not equal-width bins (skewed monetary
    columns put 90% of rows in one equal-width bin; equi-depth makes
    every bucket's selectivity 1/{B} by construction — the ANALYZE
    ... WITH HISTOGRAM output every cost-based optimizer consumes).

    Exactness: values quantized to integer cents first (the
    ev_value_deciles rule), boundaries are rounded interpolated
    quantiles — integers on both engines — and bucket membership is
    (lo, hi] on exact integers, so counts are engine-exact even at
    duplicated boundary values (duplicates land in one bucket by the
    half-open rule; depths then deviate from N/{B} exactly where ties
    force them to — the honest equi-depth semantics).

    Scale shape: one scan to quantize, one percentile aggregate
    (percentile_approx is the documented 100 TB knob — the
    ta_perplexity_approx gate pattern applies verbatim), one
    conditional-count scan against the broadcast {B}-row boundary
    table."""
    orders = _t(spark, d, "orders")
    v = orders.select(F.round(F.col("o_totalprice") * 100).cast("long")
                      .alias("cents"))
    qs = [i / _HIST_BUCKETS for i in range(1, _HIST_BUCKETS + 1)]
    cuts = v.agg(
        F.min("cents").alias("mn"),
        *[F.round(F.percentile("cents", F.lit(q))).cast("long")
          .alias(f"h{i}") for i, q in enumerate(qs, 1)])
    rows = None
    for i in range(1, _HIST_BUCKETS + 1):
        lo = (F.col("mn") - 1) if i == 1 else F.col(f"h{i - 1}")
        r = cuts.select(F.lit(i).cast("long").alias("bucket"),
                        lo.cast("long").alias("lo_cents"),
                        F.col(f"h{i}").alias("hi_cents"))
        rows = r if rows is None else rows.unionByName(r)
    # left-join the boundary table against the conditional counts so
    # a bucket whose quantile boundaries tie (hi == lo on heavily
    # duplicated values) still emits its row with n_rows = 0, exactly
    # like the oracle's correlated count (ADVICE r9)
    cnt = (v.crossJoin(F.broadcast(rows))
           .filter((F.col("cents") > F.col("lo_cents"))
                   & (F.col("cents") <= F.col("hi_cents")))
           .groupBy("bucket")
           .agg(F.count("*").alias("n_in")))
    return (rows.join(cnt, "bucket", "left")
            .select("bucket", "lo_cents", "hi_cents",
                    F.coalesce(F.col("n_in"), F.lit(0)).cast("long")
                     .alias("n_rows"))
            .orderBy("bucket"))


a29_equidepth_histogram.__doc__ = \
    a29_equidepth_histogram.__doc__.format(B=_HIST_BUCKETS)

# ===========================================================================
# Streaming perceptual-hash registry — incremental image dedup (the
# multimodal member of the streaming-ingest family)
# ===========================================================================

@register("st_ahash_ingest", oracle=_ahash_oracle())
def st_ahash_ingest(spark: SparkSession, d: str) -> DataFrame:
    """Streaming aHash registry: each micro-batch of the paged
    document tranches runs the SAME grid_features Arrow decode + hash
    fold map-side and folds (doc_id, ahash) rows into a versioned
    registry — per-id hashes are a pure function of content, so the
    merge is id-keyed set union (idempotent under replays, the
    st_theta semilattice argument with the id as the key).  The final
    near-dup pair set computed FROM THE DRAINED REGISTRY must
    hash-match batch mm_ahash_neardup — incremental image dedup for a
    crawl that never stops, completing the streaming-ingest family
    across modalities (text lines, CMS counts, theta survivors, IVF
    cells, SemDeDup keepers, now perceptual hashes).

    Scale shape: per-batch work is the batch's own decode + hash
    (map-side, Arrow-batched); the registry carries one 16-bit hash
    per image ever seen; pair generation over the registry is the
    band-bucketed join (never all-pairs)."""
    import shutil

    from ..session import scratch
    from ..sources.tables import fold_version, read_version
    from ..streaming import pipeline as SP

    docs = _t(spark, d, "documents")
    store = scratch("st_ahash_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        inc = _ahash_hashes(rows.select(
            F.col("page_id").cast("long").alias("doc_id"),
            F.col("title").alias("text")))
        fold_version(rows.sparkSession, store, epoch_id, inc,
                     lambda p, i: p.unionByName(i).distinct())

    SP.drain_paged_tranches(spark, "st_ahash",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)

    registry = read_version(spark, store)
    return (_ahash_pairs_from_hashes(registry)
            .select("doc_a", "doc_b", "hamming")
            .orderBy("doc_a", "doc_b"))

# ===========================================================================
# Soft deduplication weights — downweight common content instead of
# dropping it (the reweighting alternative to hard dedup)
# ===========================================================================

def _softdedup_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8 import _DUPG_N
    toks = OV.tokens_sql("text")
    grams = f"""(
  CASE WHEN len({toks}) >= {_DUPG_N}
       THEN list_transform(range(1, len({toks}) - {_DUPG_N - 2}),
              i -> array_to_string(
                     list_slice({toks}, i, i + {_DUPG_N - 1}), ' '))
       WHEN len({toks}) > 0
       THEN [array_to_string({toks}, ' ')]
       ELSE []::VARCHAR[] END)"""
    return f"""
WITH g AS (
  SELECT doc_id, unnest({grams}) AS gram FROM documents
), gc AS (
  SELECT md5(gram) AS h, count(*)::BIGINT AS c FROM g GROUP BY md5(gram)
), per_doc AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
         CAST(sum(gc.c) AS BIGINT) AS sum_gram_count
  FROM g JOIN gc ON gc.h = md5(g.gram) GROUP BY g.doc_id
)
SELECT doc_id, n_grams, sum_gram_count,
       round(n_grams::DOUBLE / sum_gram_count::DOUBLE, 6)
         AS sample_weight
FROM per_doc ORDER BY doc_id
"""


@register("dd_soft_dedup", oracle=_softdedup_oracle())
def dd_soft_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Soft deduplication weights (the reweighting alternative to
    hard removal — SoftDeDup, He et al. 2024, public: downweight
    common content in the sampling distribution instead of dropping
    it, so near-boilerplate still contributes signal without
    dominating the gradient): per document, sampling weight =
    inverse mean corpus frequency of its 8-grams (n_grams /
    Σ gram-count — exactly 1.0 for all-unique content, approaching
    1/k for content whose grams appear k times corpus-wide).  The
    weight column feeds t27's weighted sampler directly; hard dedup
    (dd_span/line/minhash) is the special case weight -> 0.

    Exactness: the weight is a ratio of two exact BIGINTs (the
    dd_dupgram count machinery verbatim), rounded once.

    Scale shape: identical to dd_dupgram_profile — one corpus-wide
    gram-count aggregate on flat md5 keys, one hash join back, a
    per-doc aggregate; gram text never shuffles twice."""
    from ..operators.dedup import tokens
    from .catalog_r8 import _DUPG_N
    docs = _t(spark, d, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    grams = (F.when(n >= _DUPG_N,
                    F.transform(F.sequence(F.lit(1), n - (_DUPG_N - 1)),
                                lambda i: F.array_join(
                                    F.slice(t, i, _DUPG_N), " ")))
             .when(n > 0, F.array(F.array_join(t, " ")))
             .otherwise(F.array().cast("array<string>")))
    g = (docs.select("doc_id", F.explode(grams).alias("gram"))
         .select("doc_id", F.md5("gram").alias("h")))
    gc = g.groupBy("h").agg(F.count("*").alias("c"))
    return (g.join(gc, "h")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum("c").cast("long").alias("sum_gram_count"),
                 F.round(F.count("*").cast("double")
                         / F.sum("c").cast("double"), 6)
                  .alias("sample_weight"))
            .orderBy("doc_id"))

def _ess_oracle() -> str:
    return f"""
WITH pd AS ({_softdedup_oracle().replace('ORDER BY doc_id', '')}),
q AS (
  SELECT CAST(round(sample_weight * 1000000) AS BIGINT) AS w_q FROM pd
)
SELECT count(*)::BIGINT AS n_docs,
       CAST(sum(w_q) AS BIGINT) AS sum_w_q,
       round(sum(w_q)::DOUBLE / (count(*) * 1000000)::DOUBLE, 6)
         AS mean_weight,
       round((CAST(sum(w_q) AS BIGINT) * CAST(sum(w_q) AS BIGINT))::DOUBLE
             / CAST(sum(w_q * w_q) AS BIGINT)::DOUBLE, 6)
         AS effective_sample_size
FROM q
"""


@register("dd_soft_dedup_ess", oracle=_ess_oracle())
def dd_soft_dedup_ess(spark: SparkSession, d: str) -> DataFrame:
    """Kish effective sample size of the soft-dedup weights (Kish
    1965, public: ESS = (Σw)²/Σw²) — the one-row answer to 'how much
    data do we EFFECTIVELY have after reweighting': ESS = N when all
    weights are equal, and it shrinks exactly as the weight
    distribution concentrates — the number that makes the
    hard-vs-soft dedup tradeoff quantitative (hard dedup's ESS is
    its keeper count; soft dedup keeps ESS higher at the same
    duplication).

    Exactness: weights quantized to the 1e-6 grid before the sums
    (the commutative-sum rule), so (Σw)² and Σw² are exact BIGINTs
    (at 1e6 docs the square crosses BIGINT — coarsen the grid, the
    g2/g4 convention); two display divisions.

    Scale shape: composes dd_soft_dedup's per-doc pass with one
    3-cell aggregate."""
    pd_ = dd_soft_dedup(spark, d)
    q = pd_.select(F.round(F.col("sample_weight") * 1000000)
                   .cast("long").alias("w_q"))
    return q.agg(
        F.count("*").alias("n_docs"),
        F.sum("w_q").cast("long").alias("sum_w_q"),
        F.round(F.sum("w_q").cast("double")
                / (F.count("*") * 1000000).cast("double"), 6)
         .alias("mean_weight"),
        F.round((F.sum("w_q").cast("long")
                 * F.sum("w_q").cast("long")).cast("double")
                / F.sum(F.col("w_q") * F.col("w_q")).cast("long")
                .cast("double"), 6).alias("effective_sample_size"))

# ===========================================================================
# Packing waste vs sequence length — the seq_len knob table in one
# scan (the dd_threshold_curve trick applied to t18's packing)
# ===========================================================================

_T40_LENS = (512, 1024, 2048, 4096)


def _t40_oracle() -> str:
    from .catalog_r8 import _N_SHARDS
    per_len = " UNION ALL ".join(
        f"""SELECT {L}::BIGINT AS seq_len,
       CAST(sum((toks + {L - 1}) // {L}) AS BIGINT) AS n_sequences,
       CAST(sum(((toks + {L - 1}) // {L}) * {L} - toks) AS BIGINT)
         AS total_padding
FROM sh"""
        for L in _T40_LENS)
    return f"""
WITH base AS (
  SELECT doc_id,
         greatest(1, length(text) // 4)::BIGINT AS est_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR || ':shard'), 1, 8))::BIGINT
           % {_N_SHARDS} AS shard
  FROM documents
), sh AS (
  SELECT shard, CAST(sum(est_tokens) AS BIGINT) AS toks
  FROM base GROUP BY shard
), t AS (
  SELECT CAST(sum(toks) AS BIGINT) AS total_toks FROM sh
), per_len AS ({per_len})
SELECT p.seq_len, p.n_sequences, p.total_padding,
       round(p.total_padding::DOUBLE
             / (p.n_sequences * p.seq_len)::DOUBLE, 6) AS waste_share
FROM per_len p ORDER BY p.seq_len
"""


@register("t40_packing_waste_curve", oracle=_t40_oracle())
def t40_packing_waste_curve(spark: SparkSession, d: str) -> DataFrame:
    """Padding waste vs training sequence length (512/1024/2048/4096)
    in ONE scan — the seq_len knob table a training team reads before
    fixing the context length (t18_packing_stats reports one
    seq_len; this is the sweep, the dd_threshold_curve
    one-scan-many-knobs trick applied to packing): under t18's
    concatenate-and-split packing the only waste is each shard's
    TAIL sequence, so per shard n_seqs(L) = ceil(tokens/L) and
    padding(L) = n_seqs·L - tokens — longer sequences waste more
    tail per shard but amortize attention overhead; this table
    prices the tradeoff exactly.

    Exactness: token estimates and the ceil-division counts are all
    BIGINT; one display division per row.

    Scale shape: one scan to per-shard token sums ({S} cells), then
    constant-size arithmetic per candidate length — adding a
    candidate costs nothing corpus-shaped."""
    from ..functions.text import token_estimate
    from ..operators.dedup import md5_int32
    from .catalog_r8 import _N_SHARDS
    docs = _t(spark, d, "documents")
    base = docs.select(
        F.greatest(F.lit(1), token_estimate(F.col("text")))
         .alias("est_tokens"),
        F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":shard"))),
               F.lit(_N_SHARDS)).alias("shard"))
    sh = base.groupBy("shard").agg(
        F.sum("est_tokens").cast("long").alias("toks"))
    rows = None
    for L in _T40_LENS:
        r = sh.agg(
            F.lit(L).cast("long").alias("seq_len"),
            F.sum(F.expr(f"(toks + {L - 1}) div {L}")).cast("long")
             .alias("n_sequences"),
            F.sum(F.expr(f"((toks + {L - 1}) div {L}) * {L} - toks"))
             .cast("long").alias("total_padding"))
        rows = r if rows is None else rows.unionByName(r)
    return (rows.select(
        "seq_len", "n_sequences", "total_padding",
        F.round(F.col("total_padding").cast("double")
                / (F.col("n_sequences") * F.col("seq_len"))
                .cast("double"), 6).alias("waste_share"))
        .orderBy("seq_len"))


t40_packing_waste_curve.__doc__ = \
    t40_packing_waste_curve.__doc__.format(S=8)
