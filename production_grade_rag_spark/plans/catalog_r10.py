"""Round-10 catalog entries.

VERDICT r9 task list: the shared recall-gated kNN-graph store
(g_knn_edges*), the bounded-state KMV distinct sketch (a30/a31), the
approx-percentile knob on the per-domain quality cut
(w10_quality_pernorm_approx), the soft-dedup -> weighted-sampler
composition (t41), the BPE depth-64 curve (t20_bpe_merges64), and the
watermarked streaming sessionize twin (st_sessionize).

"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _t, register


# ===========================================================================
# The shared kNN-graph store as a driver-visible surface (VERDICT r9
# #1): the exact edge list value-oracled, the IVF build recall-gated
# ===========================================================================

def _und_cte() -> str:
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
)"""


@register("g_knn_edges", oracle=_und_cte() + """
SELECT u, v FROM und ORDER BY u, v
""")
def g_knn_edges(spark: SparkSession, d: str) -> DataFrame:
    """The shared symmetrized 5-NN edge store ITSELF as a
    value-oracled entry: the exact canonical undirected edge list
    every g5–g9 graph entry now reads (operators/knn_graph.py builds
    it once per process/dataset as narrow parquet — the _pca_centered
    pattern applied to the graph, VERDICT r9 #1).  DuckDB recomputes
    the full all-pairs kNN and must reproduce the stored edges
    row-for-row — the store's contents, not just its consumers, are
    driver-checked.

    Scale shape: at 100 TB the exact build never runs — the ivf
    build (g_knn_edges_ivf, recall-gated below) writes the store and
    this entry becomes the spot-audit form."""
    from ..operators.knn_graph import knn_und
    return knn_und(spark, d).orderBy("u", "v")


@register("g_knn_edges_ivf")   # rows-only: approximate by design
def g_knn_edges_ivf(spark: SparkSession, d: str) -> DataFrame:
    """The IVF-built edge store — the 100 TB form of g_knn_edges
    (ivf_knn_join cell-pruned candidates: every vector scores
    n_probe/n_lists of the corpus instead of all of it, so the edge
    build is candidate-bounded where the exact form is a quadratic
    window).  Since r13 the build runs at the DERIVED operating
    point (VERDICT r12 #3): ~sqrt(n) lists, half of them probed —
    at the local SFs that resolves to the same certified (16, 8)
    point the r10-r12 gates measured at 0.94/0.96 recall, and at
    the stress tiers to (32, 16) / (128, 64), re-gated per tier by
    stress_bench.  Edge-set recall vs the exact store is gated by
    g_knn_edges_ivf_recall; stress_bench times the census over these
    edges at the 10x tier with the KMeans fit ledgered separately
    from the amortized read."""
    from ..operators.knn_graph import knn_und
    return knn_und(spark, d, method="ivf").orderBy("u", "v")


def _knn_recall_oracle() -> str:
    return _und_cte() + """
SELECT count(*)::BIGINT AS n_exact, TRUE AS floor_met
FROM und
"""


@register("g_knn_edges_ivf_recall", oracle=_knn_recall_oracle())
def g_knn_edges_ivf_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the IVF edge build with a data-dependent
    oracle: n_exact is DuckDB's own count of the exact undirected
    edge set, and floor_met gates the IVF store's edge recovery at
    >= 0.9 AT THE DERIVED OPERATING POINT (~sqrt(n) lists, half
    probed — at the local SFs that is the (16, 8) point measured at
    0.94 sf0.001 / 0.96 sf0.01; cross-cell neighbors are the
    designed loss, exactly the dd_semdedup_recall trade).  This is
    the gate the r9 verdict asked to pin the g5–g9 family's scale
    path with: all five consumers read the store this entry
    certifies, and since r13 it certifies the DEFAULT build
    (VERDICT r12 #3)."""
    from ..operators.knn_graph import knn_und
    from .retrieval import _recall_summary
    exact = knn_und(spark, d)
    approx = knn_und(spark, d, method="ivf")
    return _recall_summary(exact, approx, ["u", "v"], floor=0.9)


# ===========================================================================
# Approx-percentile knob for the per-domain quality cut (VERDICT r9
# #3 — the last exact-percentile barrier gets its gated sketch twin)
# ===========================================================================

def _pernorm_keep(spark: SparkSession, d: str,
                  cuts: str = "exact") -> DataFrame:
    """The w10 keep set under the chosen cut mode.  cuts='exact' is
    the value-oracled catalog form (catalog_r8b.w10_quality_pernorm);
    cuts='approx' swaps the per-source exact percentile for the
    Greenwald-Khanna sketch (percentile_approx, accuracy 10000) —
    bounded-state, partial-aggregable map-side, the form a 100 TB run
    compiles (tests pin that this path contains NO exact percentile
    aggregate)."""
    from ..functions import text as X
    docs = _t(spark, d, "documents")
    q = docs.select(
        "doc_id", "source",
        F.round(X.quality_components(F.col("text"))["quality_score"], 6)
         .alias("q_score"))
    cut = (F.expr("percentile_approx(q_score, 0.75, 10000)")
           if cuts == "approx"
           else F.percentile("q_score", F.lit(0.75)))
    th = q.groupBy("source").agg(cut.alias("p75"))
    return (q.join(F.broadcast(th), "source")
            .filter(F.col("q_score") >= F.col("p75"))
            .select("doc_id", "source", "q_score",
                    F.round("p75", 6).alias("p75")))


def _w10_approx_oracle() -> str:
    from .catalog_r8b import _pernorm_cte
    return _pernorm_cte() + """
SELECT (SELECT count(*) FROM q)::BIGINT AS n_docs,
       (SELECT count(*) FROM q JOIN th USING (source)
        WHERE q.q_score >= th.p75)::BIGINT AS n_keep_exact,
       TRUE AS agree_ok
"""


@register("w10_quality_pernorm_approx", oracle=_w10_approx_oracle())
def w10_quality_pernorm_approx(spark: SparkSession, d: str) -> DataFrame:
    """The approx-percentile knob for w10's per-domain quartile cut,
    gated a11-style (VERDICT r9 #3 — the ta_perplexity_approx recipe
    applied to the one entry whose sketch mode was still prose): the
    EXACT per-source keep count is value-oracled (DuckDB recomputes
    the quantile_cont cuts and the join), and the GK-sketch cuts must
    produce the SAME keep/drop decision for >= 99% of documents
    (agree_ok).

    Why it matters at 100 TB: F.percentile buffers every q_score of a
    source in ONE aggregation buffer — fine for balanced sources,
    a single-reducer funnel for a dominant domain; percentile_approx
    partial-aggregates map-side at bounded state, so the cut table
    costs one ordinary two-phase aggregate at any corpus size.  GK
    rank error is n/accuracy, so only documents between the exact and
    sketch cut candidates can flip decision — the 99% floor bounds
    exactly that band."""
    from ..functions import text as X
    docs = _t(spark, d, "documents")
    q = docs.select(
        "source",
        F.round(X.quality_components(F.col("text"))["quality_score"], 6)
         .alias("q_score"))
    th = q.groupBy("source").agg(
        F.percentile("q_score", F.lit(0.75)).alias("p75"),
        F.expr("percentile_approx(q_score, 0.75, 10000)").alias("p75a"))
    j = q.join(F.broadcast(th), "source")
    keep_e = (F.col("q_score") >= F.col("p75")).cast("long")
    keep_a = (F.col("q_score") >= F.col("p75a")).cast("long")
    return j.agg(
        F.count("*").alias("n_docs"),
        F.sum(keep_e).cast("long").alias("n_keep_exact"),
        ((F.sum((keep_e == keep_a).cast("long")).cast("double")
          / F.count("*").cast("double")) >= 0.99).alias("agree_ok"))


# ===========================================================================
# Soft-dedup end-to-end composition (VERDICT r9 #5): the weight
# column actually driving the weighted sampler, with the achieved-mix
# data card beside hard dedup's kept set
# ===========================================================================

_T41_K = 100


def _t41_cte() -> str:
    from .catalog_r9 import _softdedup_oracle
    return f"""
WITH sd AS ({_softdedup_oracle()}),
q41 AS (
  SELECT sd.doc_id, d.source, sd.sample_weight AS w,
         ((('0x' || substr(md5(sd.doc_id::VARCHAR || ':sdw'), 1, 8))::BIGINT
           % 1000000) + 1)::DOUBLE / 1000000.0::DOUBLE AS u
  FROM sd JOIN documents d ON d.doc_id = sd.doc_id
), keyed41 AS (
  SELECT doc_id, source, w,
         CAST(round(ln(u) / w * 1000000.0) AS BIGINT) AS key_s
  FROM q41
)"""


@register("t41_soft_dedup_sample", oracle=_t41_cte() + f"""
SELECT doc_id, source, w, key_s
FROM keyed41 ORDER BY key_s DESC, doc_id LIMIT {_T41_K}
""")
def t41_soft_dedup_sample(spark: SparkSession, d: str) -> DataFrame:
    """A-Res weighted sampling UNDER the soft-dedup weights (VERDICT
    r9 #5 — dd_soft_dedup's docstring promised its weight column
    'feeds t27's weighted sampler directly'; this entry is that
    composition as code): each document draws its deterministic
    md5-bucket uniform and ranks by ln(u)/w with w = the
    inverse-gram-frequency soft-dedup weight (He et al. 2024), so
    boilerplate-heavy documents are sampled DOWN in proportion to
    their corpus-wide duplication instead of being dropped — the
    reweighting alternative to hard dedup, end to end.

    Exactness: the t27 machinery verbatim (u is an exact rational,
    the priority key is quantized to a 1e-6 BIGINT grid before the
    rank, tiebreak (key DESC, doc_id)); w is dd_soft_dedup's exact
    BIGINT ratio rounded once.

    Scale shape: dd_soft_dedup's one gram-count aggregate + hash
    join back, then TakeOrderedAndProject (per-partition heaps) for
    the top-k — no global sort, no window."""
    from ..operators.dedup import md5_int32
    from .catalog_r9 import dd_soft_dedup
    sd = dd_soft_dedup(spark, d).select("doc_id", "sample_weight")
    docs = _t(spark, d, "documents").select("doc_id", "source")
    u = ((F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                    F.lit(":sdw"))), F.lit(1000000))
          + F.lit(1)).cast("double") / F.lit(1000000.0))
    keyed = (sd.join(docs, "doc_id")
             .select("doc_id", "source",
                     F.col("sample_weight").alias("w"),
                     F.round(F.log(u) / F.col("sample_weight")
                             * F.lit(1000000.0)).cast("long")
                      .alias("key_s")))
    return keyed.orderBy(F.desc("key_s"), "doc_id").limit(_T41_K)


@register("t41_softsample_mix", oracle=_t41_cte() + f""",
samp AS (
  SELECT source FROM keyed41 ORDER BY key_s DESC, doc_id LIMIT {_T41_K}
), hard AS (
  SELECT source, count(*)::BIGINT AS n_hard_kept FROM (
    SELECT source,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1 GROUP BY source
), corpus AS (
  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
), insamp AS (
  SELECT source, count(*)::BIGINT AS n_in_sample FROM samp GROUP BY source
)
SELECT c.source, c.n_docs,
       coalesce(i.n_in_sample, 0)::BIGINT AS n_in_sample,
       round(coalesce(i.n_in_sample, 0)::DOUBLE / {_T41_K}, 6)
         AS sample_share,
       round(c.n_docs::DOUBLE
             / (SELECT sum(n_docs) FROM corpus)::DOUBLE, 6)
         AS corpus_share,
       h.n_hard_kept,
       round(h.n_hard_kept::DOUBLE / c.n_docs::DOUBLE, 6)
         AS hard_keep_share
FROM corpus c
LEFT JOIN insamp i ON i.source = c.source
JOIN hard h ON h.source = c.source
ORDER BY c.source
""")
def t41_softsample_mix(spark: SparkSession, d: str) -> DataFrame:
    """The hard-vs-soft dedup data card: per source, the corpus mass,
    the achieved soft-sample mix (how many of t41's 100 A-Res draws
    landed there), and beside it hard dedup's kept set (exact-hash
    keeper election — weight-0/1 is the degenerate soft weight).  The
    one table a curation review reads to see what reweighting does to
    the source mixture that hard removal would have done by deletion;
    the corresponding effective-sample-size comparison is pinned in
    pytest (ESS(soft) >= ESS(hard-as-weights) = kept count).

    Scale shape: the sample is k-bounded; hard keeper election is a
    hash-keyed window over content digests (the dd_exact shape);
    everything else is sources-sized aggregates joined broadcast."""
    samp = (t41_soft_dedup_sample(spark, d)
            .groupBy("source").agg(F.count("*").alias("n_in_sample")))
    docs = _t(spark, d, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    hard = (docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .groupBy("source").agg(F.count("*").alias("n_hard_kept")))
    corpus = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    total = corpus.agg(F.sum("n_docs").cast("long").alias("n_total"))
    return (corpus.join(samp, "source", "left")
            .join(hard, "source")
            .crossJoin(F.broadcast(total))
            .select("source", "n_docs",
                    F.coalesce("n_in_sample", F.lit(0)).cast("long")
                     .alias("n_in_sample"),
                    F.round(F.coalesce("n_in_sample", F.lit(0))
                            .cast("double") / _T41_K, 6)
                     .alias("sample_share"),
                    F.round(F.col("n_docs").cast("double")
                            / F.col("n_total").cast("double"), 6)
                     .alias("corpus_share"),
                    "n_hard_kept",
                    F.round(F.col("n_hard_kept").cast("double")
                            / F.col("n_docs").cast("double"), 6)
                     .alias("hard_keep_share"))
            .orderBy("source"))


# ===========================================================================
# Bounded-state KMV distinct sketch (VERDICT r9 #2): the cap-k
# adaptive form whose state is FIXED-SIZE for a never-ending crawl —
# the production shape a22's fixed-theta docstring named
# ===========================================================================

_KMV_K = 64
_H60_SPACE = float(1 << 60)
# map-side coarse pre-filter: keep h < hash_space/4.  Sizing rule:
# expected survivors = NDV/4 must clear k with margin, i.e. the
# filter is safe whenever every group's NDV >> 4k (the smallest
# per-source NDV here is ~1.1e3 vs 4k = 256; the original 1/16
# a22 threshold left one source at 60 < k survivors — the kmv_ok
# column caught exactly that, and at 100 TB the threshold is
# sized from an NDV lower bound the same way)
_KMV_RATE_INV = 4
_KMV_PREFILTER = (1 << 60) // _KMV_RATE_INV


def _kmv_sketch(spark: SparkSession, d: str,
                with_exact: bool = True) -> DataFrame:
    """Per-source KMV (k-minimum-values, Bar-Yossef et al. 2002 /
    the DataSketches cap-k theta form): keep the k smallest distinct
    60-bit shingle hashes per source, theta = the k-th smallest,
    estimate NDV = (k-1) * 2^60 / theta.  Unlike the fixed-theta
    sketch (a22, survivor state ~ NDV/16 — the 6.07x @10x stress
    reading), state here is EXACTLY k hashes per source forever.

    The plan is three bounded stages, none of which windows the
    corpus: (1) a MAP-SIDE coarse pre-filter at the fixed a22
    threshold (h < 2^60/4 — the k smallest hashes are all below it
    whenever a source keeps >= k surviving distinct hashes, which
    the kmv_ok column verifies in-plan; sizing rule at the
    _KMV_PREFILTER constant); (2) per-(source, input-partition)
    local top-k over survivors (dense_rank over a partition-bounded
    group — the w12 two-phase distributed-rank pattern, so no
    per-source window ever sees more than one partition's survivors);
    (3) a global top-k over the <= partitions x k candidates.

    ``with_exact`` adds the exact countDistinct twin (the catalog
    audit column); the pure-sketch form (what a 100 TB run compiles)
    is stress-timed at the 10x tier, and its sketch columns are
    pinned equal to the audit form's (tests/test_catalog_r10.py)."""
    from ..operators.dedup import shingle_explode
    from .catalog_r9 import _h60
    docs = _t(spark, d, "documents")
    s = (shingle_explode(docs, extra_cols=("source",))
         .select("source", _h60(F.col("sh")).alias("h")))
    surv = s.filter(F.col("h") < _KMV_PREFILTER)
    w_loc = Window.partitionBy("source", "p").orderBy("h")
    cand = (surv.withColumn("p", F.spark_partition_id())
            .withColumn("dr", F.dense_rank().over(w_loc))
            .filter(F.col("dr") <= _KMV_K)
            .select("source", "h").distinct())
    w_glob = Window.partitionBy("source").orderBy("h")
    kept = (cand.withColumn("rn", F.row_number().over(w_glob))
            .filter(F.col("rn") <= _KMV_K))
    kmv = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_keep"),
        F.max("h").alias("theta_k"))
    # degenerate fallback (n_keep < k): the pre-filter itself is
    # the theta — the a22 fixed-rate estimate; kmv_ok flags it
    est = (F.when(F.col("n_keep") < _KMV_K,
                  F.col("n_keep") * _KMV_RATE_INV)
           .otherwise(F.round((_KMV_K - 1) * F.lit(_H60_SPACE)
                              / F.col("theta_k").cast("double"))
                      .cast("long")))
    out = kmv.select("source", "n_keep", "theta_k",
                     est.alias("est_ndv"))
    if not with_exact:
        return out.orderBy("source")
    exact = s.groupBy("source").agg(
        F.countDistinct("h").alias("exact_ndv"))
    return (out.join(exact, "source")
            .select("source", "exact_ndv", "n_keep", "theta_k",
                    "est_ndv",
                    F.round(F.abs(F.col("est_ndv") - F.col("exact_ndv"))
                            .cast("double")
                            / F.col("exact_ndv").cast("double"), 6)
                     .alias("rel_err"),
                    # in-plan verification that the coarse pre-filter
                    # kept the full k-minimum set (>= k survivors, or
                    # the source's whole distinct set survived)
                    ((F.col("n_keep") == _KMV_K)
                     | (F.col("n_keep") == F.col("exact_ndv")))
                    .alias("kmv_ok"))
            .orderBy("source"))


def _kmv_oracle() -> str:
    from .catalog_r9 import _theta_shingle_cte
    K, SP = _KMV_K, int(1 << 60)
    return _theta_shingle_cte() + f""",
dist AS (SELECT DISTINCT source, h FROM s),
kept AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM dist WHERE h < {_KMV_PREFILTER}) WHERE rn <= {K}
), kmv AS (
  SELECT source, count(*)::BIGINT AS n_keep,
         max(h)::BIGINT AS theta_k
  FROM kept GROUP BY source
), ex AS (
  SELECT source, count(*)::BIGINT AS exact_ndv FROM dist GROUP BY source
)
SELECT k.source, e.exact_ndv, k.n_keep, k.theta_k,
       CASE WHEN k.n_keep < {K} THEN k.n_keep * {_KMV_RATE_INV}
            ELSE CAST(round(({K} - 1) * {SP}::DOUBLE
                            / k.theta_k::DOUBLE) AS BIGINT)
       END AS est_ndv,
       round(abs(CASE WHEN k.n_keep < {K} THEN k.n_keep * {_KMV_RATE_INV}
                      ELSE CAST(round(({K} - 1) * {SP}::DOUBLE
                                      / k.theta_k::DOUBLE) AS BIGINT)
                 END - e.exact_ndv)::DOUBLE / e.exact_ndv::DOUBLE, 6)
         AS rel_err,
       (k.n_keep = {K} OR k.n_keep = e.exact_ndv) AS kmv_ok
FROM kmv k JOIN ex e ON e.source = k.source
ORDER BY k.source
"""


@register("a30_kmv_ndv", headline=True, oracle=_kmv_oracle())
def a30_kmv_ndv(spark: SparkSession, d: str) -> DataFrame:
    """Bounded-state KMV distinct sketch per source (VERDICT r9 #2):
    the cap-k adaptive form of a22 — keep the k = 64 smallest
    distinct shingle hashes, theta adapts to the k-th smallest, and
    the estimate (k-1)*2^60/theta_k tracks NDV with ~1/sqrt(k-2)
    relative error while the sketch state NEVER exceeds k hashes per
    source (a22's fixed-theta survivors grow linearly with the
    corpus — its 6.07x @10x stress ratio was exactly that bill; the
    pure-sketch form of THIS entry is stress-timed at the same tier).
    Everything is deterministic md5 arithmetic, so the kept set, the
    adaptive theta, the estimate AND the exact twin are all
    value-oracled — the a22 gate pattern, upgraded to the
    bounded-state estimator.

    kmv_ok verifies in-plan that the map-side coarse pre-filter
    (h < 2^60/4) retained the complete k-minimum set; at 100 TB the
    pre-filter threshold is sized from a lower bound on per-source
    NDV (expected survivors NDV/4 >> k) and this column is the
    audit — at 1/16 one test source with NDV ~ 16k kept only 60
    survivors and the column flagged it."""
    return _kmv_sketch(spark, d, with_exact=True)


def _kmv_merge_oracle() -> str:
    from .catalog_r9 import _theta_shingle_cte
    K, SP = _KMV_K, int(1 << 60)
    return _theta_shingle_cte() + f""",
dist AS (SELECT DISTINCT source, h FROM s),
kept AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM dist WHERE h < {_KMV_PREFILTER}) WHERE rn <= {K}
), gk AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM kept)) WHERE rn <= {K}
), gkmv AS (
  SELECT count(*)::BIGINT AS n_keep, max(h)::BIGINT AS theta_k FROM gk
)
SELECT n_keep, theta_k,
       CASE WHEN n_keep < {K} THEN n_keep * {_KMV_RATE_INV}
            ELSE CAST(round(({K} - 1) * {SP}::DOUBLE
                            / theta_k::DOUBLE) AS BIGINT)
       END AS est_ndv_merged,
       (SELECT count(*) FROM (SELECT DISTINCT h FROM s))::BIGINT
         AS exact_ndv_corpus
FROM gkmv
"""


@register("a31_kmv_merge", oracle=_kmv_merge_oracle())
def a31_kmv_merge(spark: SparkSession, d: str) -> DataFrame:
    """KMV MERGEABILITY as a value-oracled fact: union the per-source
    k-minimum sets, re-cap to the k smallest, and the result is a
    valid corpus-level KMV — union-then-recap is a semilattice
    (idempotent, commutative, associative), so partial sketches from
    any sharding merge to the same state the corpus-level sketch
    would have built (the property the streaming twin st_kmv_ingest
    leans on, and the reason a 1000-executor run can sketch every
    partition independently and combine k-sized states at the
    driver).  The merged estimate and the corpus exact twin sit side
    by side.

    Scale shape: inputs are the per-source k-sets (sources x k rows);
    the merge is one tiny window.  The exact corpus NDV is the
    catalog-scale audit column."""
    from ..operators.dedup import shingle_explode
    from .catalog_r9 import _h60
    docs = _t(spark, d, "documents")
    s = (shingle_explode(docs, extra_cols=("source",))
         .select("source", _h60(F.col("sh")).alias("h")))
    surv = s.filter(F.col("h") < _KMV_PREFILTER)
    w_loc = Window.partitionBy("source", "p").orderBy("h")
    cand = (surv.withColumn("p", F.spark_partition_id())
            .withColumn("dr", F.dense_rank().over(w_loc))
            .filter(F.col("dr") <= _KMV_K)
            .select("source", "h").distinct())
    w_src = Window.partitionBy("source").orderBy("h")
    per_src = (cand.withColumn("rn", F.row_number().over(w_src))
               .filter(F.col("rn") <= _KMV_K).select("source", "h"))
    w_g = Window.orderBy("h")
    gk = (per_src.select("h").distinct()
          .withColumn("rn", F.row_number().over(w_g))
          .filter(F.col("rn") <= _KMV_K))
    gkmv = gk.agg(F.count("*").cast("long").alias("n_keep"),
                  F.max("h").alias("theta_k"))
    exact = s.select("h").distinct().agg(
        F.count("*").cast("long").alias("exact_ndv_corpus"))
    # degenerate branch (merged n_keep < k): kept hashes are the
    # SURVIVORS of the h < 2^60/4 prefilter, so the estimate must
    # carry the same x{_KMV_RATE_INV} rate correction a30's fallback
    # applies — n_keep alone would undercount corpus NDV ~4x on a
    # low-NDV corpus (ADVICE r10).
    est = (F.when(F.col("n_keep") < _KMV_K,
                  F.col("n_keep") * _KMV_RATE_INV)
           .otherwise(F.round((_KMV_K - 1) * F.lit(_H60_SPACE)
                              / F.col("theta_k").cast("double"))
                      .cast("long")))
    return (gkmv.crossJoin(F.broadcast(exact))
            .select("n_keep", "theta_k", est.alias("est_ndv_merged"),
                    "exact_ndv_corpus"))


def _st_kmv_oracle() -> str:
    from .catalog_r9 import _theta_shingle_cte
    return _theta_shingle_cte() + f"""
SELECT h FROM (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM s)) WHERE rn <= {_KMV_K}
ORDER BY h
"""


@register("st_kmv_ingest", oracle=_st_kmv_oracle())
def st_kmv_ingest(spark: SparkSession, d: str) -> DataFrame:
    """Streaming KMV maintenance — the BOUNDED-STATE member of the
    streaming-summary family (VERDICT r9 #2: st_theta_ingest's
    fixed-theta survivor store grows linearly with the corpus; this
    store is <= k rows FOREVER): each micro-batch of the paged
    document tranches computes its own k smallest distinct shingle
    hashes (a batch-bounded TakeOrdered, per-partition heaps) and the
    fold is union-then-recap — keep the k smallest of (prior k-set
    UNION batch k-set).  Union-then-recap is a semilattice
    (idempotent, commutative, associative — a31_kmv_merge
    value-oracles the same algebra in batch), so out-of-order and
    duplicated deliveries cannot corrupt the state, and the drained
    k-set must equal the batch-built corpus KMV row for row (this
    oracle: DuckDB recomputes the k smallest distinct hashes of the
    whole corpus).

    Scale shape: per-batch work is the batch's own shingle scan +
    a k-row TakeOrdered; the merge reads and writes k rows — the
    never-ending-crawl registry whose state genuinely never grows."""
    import shutil

    from ..operators.dedup import shingle_explode
    from ..session import scratch
    from ..sources.tables import fold_version, read_version
    from ..streaming import pipeline as SP
    from .catalog_r9 import _h60

    docs = _t(spark, d, "documents")
    store = scratch("st_kmv_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        inc = (shingle_explode(rows.select(F.col("title").alias("text")))
               .select(_h60(F.col("sh")).alias("h"))
               .distinct().orderBy("h").limit(_KMV_K))
        fold_version(rows.sparkSession, store, epoch_id, inc,
                     lambda p, i: (p.unionByName(i).distinct()
                                   .orderBy("h").limit(_KMV_K)))

    SP.drain_paged_tranches(spark, "st_kmv",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)

    return read_version(spark, store).select("h").orderBy("h")


# ===========================================================================
# BPE at depth 64 with the extended compression curve (VERDICT r9 #7)
# ===========================================================================

_BPE64 = 64
_BPE64_CURVE_AT = (0, 4, 8, 16, 32, 64)


def _bpe64_oracle() -> str:
    from .catalog_r8 import _bpe_chain
    parts = [_bpe_chain(full=False, n_merges=_BPE64)]
    sel = "\nUNION ALL\n".join(
        f"SELECT {k + 1}::BIGINT AS merge_rank, a AS lhs, b AS rhs, "
        f"a || b AS merged, cnt AS pair_count FROM m{k}"
        for k in range(_BPE64))
    parts.append("\n" + sel + "\nORDER BY merge_rank")
    return "".join(parts)


@register("t20_bpe_merges64", oracle=_bpe64_oracle())
def t20_bpe_merges64(spark: SparkSession, d: str) -> DataFrame:
    """The BPE merge loop at depth 64 (VERDICT r9 #7 — probe where
    the iteration wall is, or show there isn't one yet): same greedy
    arg-max election and fold rewrite as t20_bpe_merges16, fully
    value-oracled through all 64 iterations (DuckDB re-walks the
    identical 64-stage MATERIALIZED chain in ~1 s at sf0.01).

    Measured driver-side iteration bound: ~0.2 s/merge flat —
    64 merges run in 13 s at sf0.001 and sf0.01 alike (the loop cost
    is the per-iteration 1-row arg-max collect + materialize
    round-trip, NOT corpus- or depth-dependent: the vocab frame is
    checkpointed so iteration k never re-folds the chain, and the
    vocab table itself is corpus-size-independent past the first
    scan).  There is no wall at 64; extrapolated, a real 32k-vocab
    training run costs ~2 h of round-trips, which is why production
    BPE batches several merges per scan — the documented next knob,
    not needed at this depth.  pytest pins depth-16 == the first 16
    of this table (the r9 prefix-consistency convention)."""
    from .catalog_r8 import _bpe_learn
    merges, _ = _bpe_learn(spark, d, n_merges=_BPE64)
    return spark.createDataFrame(
        merges,
        "merge_rank long, lhs string, rhs string, "
        "merged string, pair_count long")


def _bpe_curve64_oracle() -> str:
    from .catalog_r8 import _bpe_chain
    stage = ("SELECT {m}::BIGINT AS n_merges, "
             "CAST(sum(freq) AS BIGINT) AS n_words, "
             "CAST(sum(freq * len(syms)) AS BIGINT) AS n_symbols, "
             "round(sum(freq * len(syms))::DOUBLE "
             "/ sum(freq)::DOUBLE, 6) AS symbols_per_word "
             "FROM r{m}")
    sel = "\nUNION ALL\n".join(
        stage.format(m=m) for m in _BPE64_CURVE_AT)
    return (_bpe_chain(full=True, n_merges=_BPE64)
            + "\n" + sel + "\nORDER BY n_merges")


@register("t20_bpe_curve64", oracle=_bpe_curve64_oracle())
def t20_bpe_curve64(spark: SparkSession, d: str) -> DataFrame:
    """Merges-vs-compression curve extended to depth 64 (checkpoints
    0/4/8/16/32/64): the diminishing-returns read at 4x the r9
    depth — symbols-per-word keeps falling but the per-16-merge gain
    shrinks, which is the curve shape a vocab-size decision actually
    reads.  Exact BIGINT sums at each checkpoint off the SAME single
    loop (each checkpoint is one vocab-sized aggregate of the
    checkpointed frame)."""
    from .catalog_r8 import _bpe_learn
    _, _, curve = _bpe_learn(spark, d, n_merges=_BPE64,
                             curve_at=_BPE64_CURVE_AT)

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
# Watermarked streaming sessionize (VERDICT r9 #8): the event-
# analytics member of the streaming family — session_window +
# watermark, two checkpointed tranches, closed sessions == batch
# ===========================================================================

@register("st_sessionize", oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR date_diff('second', prev_ts, ts) > 1800
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM numbered GROUP BY user_id, session_id
""")
def st_sessionize(spark: SparkSession, d: str) -> DataFrame:
    """Watermarked streaming sessionization with CHECKPOINT RESUME —
    the event-analytics member of the streaming family (VERDICT r9
    #8; until now sessionize/funnel had only batch forms plus the
    late-data audit): events arrive as a file-source stream in two
    time-split tranches (first half of the time range, then the
    second — so sessions spanning the split exist and MUST be merged
    by the state store across the two checkpointed drains), the plan
    is the native session_window(ts, '30 min') under a 2-hour
    watermark in APPEND mode (only CLOSED sessions ever emit — the
    state store holds exactly the open-session frontier, which is
    what bounds memory on an unbounded feed), and a far-future
    sentinel tranche then advances the watermark past every real
    session so the full closed set is flushed.  The drained closed
    sessions must equal batch ev_sessionize's session extents row for
    row — this oracle recomputes the batch lag+prefix-sum form in
    DuckDB, so the streaming path is fully value-oracled (start/end/
    count/sum per session).

    Why the tranche split can't lose data: tranche 2's events all
    sit at or after the split instant, while the watermark after
    tranche 1 is max(t1) - 2 h < split — nothing in tranche 2 is
    ever late beyond the watermark, the st_late_data audit's
    admission condition.

    At 100 TB/day this is the production sessionize: per-batch work
    is the batch's own events + the open-frontier state keyed by
    (user, session), closed sessions append to the sink partitioned
    by day, and a restart resumes from the checkpoint exactly as the
    second drain here does."""
    return _st_sessionize_run(spark, d)


def _st_sessionize_run(spark: SparkSession, d: str,
                       split_at=None) -> DataFrame:
    """The st_sessionize pipeline with an injectable tranche split:
    tests pick a split INSIDE a known session to pin that the state
    store merges a boundary-spanning session across the checkpointed
    drains; the entry uses the time-range midpoint.  ``split_at`` is
    a normalized-timestamp datetime; any split is output-equivalent
    (the oracle does not depend on it), the knob only moves WHERE the
    resume boundary falls."""
    import datetime as _dt
    import shutil

    from ..streaming import pipeline as SP
    from ..session import scratch

    raw = spark.read.parquet(f"{d}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    # normalized-domain ts expression over the RAW rows (the tranche
    # files must keep the raw schema byte-compatible with the source)
    nts = (F.timestamp_micros(F.expr("ts div 1000"))
           if ts_type == "bigint" else F.col("ts").cast("timestamp"))
    mm = raw.agg(F.min(nts).alias("lo"), F.max(nts).alias("hi")).first()
    split = (split_at if split_at is not None
             else mm["lo"] + (mm["hi"] - mm["lo"]) / 2)
    sent_dt = mm["hi"] + _dt.timedelta(hours=10)
    sent_col = ((F.unix_micros(F.lit(sent_dt).cast("timestamp"))
                 * F.lit(1000)).cast("bigint")
                if ts_type == "bigint"
                else F.lit(sent_dt).cast(ts_type))

    sdir = scratch("st_sess_stream")
    store = scratch("st_sess_store")
    ckpt = scratch("st_sess_ckpt")
    for p in (sdir, store, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    SP.ship_parquet(raw.filter(nts <= F.lit(split)), sdir, "t1")

    def drain() -> None:
        stream = (spark.readStream.schema(raw.schema).parquet(sdir))
        ev = (SP.normalize_event_ts(stream)
              .withWatermark("ts", "2 hours"))
        sess = SP.sessionized(ev)

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(store)

        SP._run_foreach(sess, sink, ckpt)

    drain()
    SP.ship_parquet(raw.filter(nts > F.lit(split)), sdir, "t2")
    drain()
    # sentinel: one far-future event advances the watermark past every
    # real session's close, flushing the full closed set
    sent = raw.limit(1).select(*[
        F.lit(-1).cast(dict(raw.dtypes)["event_id"]).alias("event_id")
        if c == "event_id" else
        F.lit(-1).cast(dict(raw.dtypes)["user_id"]).alias("user_id")
        if c == "user_id" else
        sent_col.alias("ts") if c == "ts"
        else F.col(c)
        for c in raw.columns])
    SP.ship_parquet(sent, sdir, "t3")
    drain()

    return (spark.read.parquet(store)
            .filter(F.col("user_id") != -1)
            .select("user_id", "session_start", "session_end",
                    "n_events", F.col("sum_value"))
            .orderBy("user_id", "session_start"))


# ===========================================================================
# Graph family consumers of the shared store, wave 2: components
# (log-round star contraction) + personalized PageRank
# ===========================================================================

def _knn_closure_oracle() -> str:
    return (_und_cte().replace("\nWITH e AS", "\nWITH RECURSIVE e AS")
            + """,
gedges AS (
  SELECT u AS src, v AS dst FROM und
  UNION SELECT v, u FROM und
),
reach(src, dst) AS (
  SELECT src, dst FROM gedges
  UNION SELECT r.src, g.dst FROM reach r JOIN gedges g ON g.src = r.dst
)
SELECT em.vec_id,
       least(em.vec_id, coalesce(min(r.dst), em.vec_id))::BIGINT
         AS component
FROM embeddings em LEFT JOIN reach r ON r.src = em.vec_id
GROUP BY em.vec_id ORDER BY em.vec_id
""")


@register("g10_knn_components", oracle=_knn_closure_oracle())
def g10_knn_components(spark: SparkSession, d: str) -> DataFrame:
    """Connected components of the symmetrized 5-NN graph over the
    SHARED edge store — the corpus-fragmentation read beside the
    census (one giant component = a connected embedding manifold;
    many components = isolated topical islands that label propagation
    can never bridge and SemDeDup treats as independent cells).  The
    DuckDB oracle computes the transitive closure recursively, so the
    labeling is value-checked, not assumed (the dd_components pattern
    on the vector graph).  Same operator, same labeling and same plan
    as g10_components_star, which it returns; the entry keeps its name
    so the catalog's entry list is unchanged."""
    return g10_components_star(spark, d)


@register("g10_components_star", oracle=_knn_closure_oracle())
def g10_components_star(spark: SparkSession, d: str) -> DataFrame:
    """Components of the 5-NN graph by alternating large-star/small-star
    contraction (Kiveris 2014; dedup.connected_components) — the
    O(log^2 n)-round algorithm whose round count does NOT depend on
    component diameter (a 100 TB near-dup chain can be arbitrarily long
    and the diameter is unknowable in advance).  Value-oracled against
    the same recursive-closure SQL as g10_knn_components.

    Scale shape: each round is two groupBy-min passes + canonical
    dedup over the (shrinking) edge list; fixed point checked with
    limit(1) anti-join probes."""
    from ..operators.dedup import connected_components
    from ..operators.knn_graph import knn_und
    und = knn_und(spark, d)
    emb = _t(spark, d, "embeddings")
    pairs = und.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    return (connected_components(pairs, emb.select("vec_id"),
                                 id_col="vec_id")
            .orderBy("vec_id"))


# ===========================================================================
# Personalized PageRank from a seed document over the directed 5-NN
# graph — "what is reachable-by-similarity from here" as one ranking
# ===========================================================================

_PPR_ITERS = 4
_PPR_SEED = 0
_PPR_TOP = 20


def _ppr_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    parts = [f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), r0 AS MATERIALIZED (
  SELECT vec_id,
         (CASE WHEN vec_id = {_PPR_SEED} THEN 1000000 ELSE 0 END)::BIGINT
           AS r
  FROM e
)"""]
    for k in range(_PPR_ITERS):
        parts.append(f""", s{k} AS MATERIALIZED (
  SELECT nb.dst AS vec_id, CAST(sum((17 * r.r) // 100) AS BIGINT) AS m
  FROM nb JOIN r{k} r ON r.vec_id = nb.src GROUP BY nb.dst
), r{k + 1} AS MATERIALIZED (
  SELECT e.vec_id,
         ((CASE WHEN e.vec_id = {_PPR_SEED} THEN 150000 ELSE 0 END)
          + coalesce(s.m, 0))::BIGINT AS r
  FROM e LEFT JOIN s{k} s ON s.vec_id = e.vec_id
)""")
    parts.append(f"""
SELECT vec_id, r AS ppr_scaled FROM r{_PPR_ITERS}
WHERE r > 0 ORDER BY r DESC, vec_id LIMIT {_PPR_TOP}
""")
    return "".join(parts)


@register("g11_ppr_seed", headline=True, oracle=_ppr_oracle())
def g11_ppr_seed(spark: SparkSession, d: str) -> DataFrame:
    """Personalized PageRank from the seed document (vec_id 0) over
    the directed 5-NN graph (Page et al. 1999 / the random-surfer
    form with restart — the similarity-REACHABILITY ranking: cosine
    top-k reads one hop, PPR reads multi-hop neighborhood mass, the
    standard related-content expansion a retrieval engine runs on its
    own kNN graph).  Damping 0.85, restart mass to the seed, 4
    bounded iterations — iterative family member #8.

    The exactness trick: rank mass lives on a 1e-6 BIGINT grid; each
    hop moves floor(17·r/100) per out-edge (out-degree is exactly k=5,
    so 0.85·r/5 = 17r/100 — one truncating division per edge, the
    ev_attribution_removal convention), making all four iterations
    engine-exact; truncation leakage is deterministic and identical
    on both engines.

    Scale shape: edges come from the SHARED store; each iteration is
    one k-bounded join + partial-agg sum + a broadcast-able left
    join back to the node table.  No window, no cartesian; the
    final top-20 is TakeOrdered."""
    from ..operators.knn_graph import knn_nb
    emb = _t(spark, d, "embeddings")
    nb = knn_nb(spark, d)
    return _ppr_rank(emb, nb)


def _ppr_rank(emb: DataFrame, nb: DataFrame) -> DataFrame:
    """The g11 PPR loop over an arbitrary directed edge frame ``nb``
    (src, dst) — shared with the r11 IVF-fidelity card, which runs the
    IDENTICAL iteration over the approximate store to measure what
    missing edges do to the ranking a user actually reads."""
    # r15 (guide §1.2 step 1): carry only the NONZERO-mass frontier.
    # The old loop left-joined each iteration's contributions back to
    # the full node table — a full corpus pass plus a join per hop
    # whose only effect was materializing r=0 rows.  Zero rows are
    # inert (floor(17*0/100) == 0 contribution) and the final filter
    # drops them, so frontier-only iteration returns the identical
    # row set (pinned by tests/test_text_sem.py::test_ppr_frontier_
    # equals_dense_loop); each hop now touches O(frontier * k) rows
    # regardless of corpus size.
    r = (emb.select("vec_id").filter(F.col("vec_id") == _PPR_SEED)
         .select("vec_id", F.lit(1000000).cast("long").alias("r")))
    seed_mass = (emb.select("vec_id")
                 .filter(F.col("vec_id") == _PPR_SEED)
                 .select("vec_id",
                         F.lit(150000).cast("long").alias("m")))
    for _ in range(_PPR_ITERS):
        contrib = (nb.join(r.withColumnRenamed("vec_id", "src"), "src")
                   .groupBy(F.col("dst").alias("vec_id"))
                   .agg(F.sum(F.expr("(17 * r) div 100")).cast("long")
                        .alias("m")))
        r = (contrib.unionByName(seed_mass)
             .groupBy("vec_id")
             .agg(F.sum("m").cast("long").alias("r")))
    return (r.filter(F.col("r") > 0)
            .orderBy(F.desc("r"), "vec_id").limit(_PPR_TOP)
            .select("vec_id", F.col("r").alias("ppr_scaled")))


# ===========================================================================
# CUSUM shift detection on daily volume — the sequential change test
# beside the p-chart (dq6 reads single-day excursions; CUSUM reads
# small persistent shifts that never trip a per-day limit)
# ===========================================================================

@register("dq7_cusum_shift", oracle="""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1
), tot AS (
  SELECT count(*)::BIGINT AS n_days, CAST(sum(n_events) AS BIGINT) AS total
  FROM daily
), y AS (
  SELECT d.day, d.n_events,
         (t.n_days * d.n_events - t.total - t.total // 10)::BIGINT AS y_up,
         (t.total - t.n_days * d.n_events - t.total // 10)::BIGINT AS y_dn,
         (4 * (t.total // 10))::BIGINT AS h_n
  FROM daily d CROSS JOIN tot t
), p AS (
  SELECT day, n_events, h_n,
         CAST(sum(y_up) OVER w AS BIGINT) AS p_up,
         CAST(sum(y_dn) OVER w AS BIGINT) AS p_dn
  FROM y
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), s AS (
  SELECT day, n_events, h_n,
         (p_up - least(0, min(p_up) OVER w))::BIGINT AS s_up,
         (p_dn - least(0, min(p_dn) OVER w))::BIGINT AS s_dn
  FROM p
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT day, n_events, s_up AS cusum_up, s_dn AS cusum_down,
       (s_up > h_n OR s_dn > h_n) AS is_alarm
FROM s ORDER BY day
""")
def dq7_cusum_shift(spark: SparkSession, d: str) -> DataFrame:
    """Two-sided CUSUM shift detection (Page 1954, public) on daily
    event volume: S+_t = max(0, S+_{t-1} + (x_t - mu - K)) accumulates
    sustained upward drift, S-_t the mirror — the sequential test
    that catches a small persistent level shift long before any
    single day trips dq6's p-chart limits (the complementary pair
    every SPC deployment runs).  Allowance K = mu/10, decision
    interval h = 4K — the standard small-shift tuning, stated.

    The exactness trick: everything rides the n_days-scaled integer
    grid (y_t = n·x_t - total - total div 10 — mu never divides), and
    the max(0, ...) recurrence is computed CLOSED-FORM as
    S_t = P_t - min(0, min_{j<=t} P_j) over the prefix sums P — two
    ordered windows instead of an inherently sequential loop, both
    engine-exact BIGINTs.

    Scale shape: one scan to the calendar-bounded day table; the two
    windows run over days, never events."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts").cast("timestamp"))
                        .cast("date").cast("string").alias("day"))
             .agg(F.count("*").alias("n_events")))
    tot = daily.agg(F.count("*").alias("n_days"),
                    F.sum("n_events").cast("long").alias("total"))
    y = (daily.crossJoin(F.broadcast(tot))
         .select("day", "n_events",
                 (F.col("n_days") * F.col("n_events") - F.col("total")
                  - F.expr("total div 10")).cast("long").alias("y_up"),
                 (F.col("total") - F.col("n_days") * F.col("n_events")
                  - F.expr("total div 10")).cast("long").alias("y_dn"),
                 (4 * F.expr("total div 10")).cast("long").alias("h_n")))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    p = y.select("day", "n_events", "h_n",
                 F.sum("y_up").over(w).cast("long").alias("p_up"),
                 F.sum("y_dn").over(w).cast("long").alias("p_dn"))
    s_up = (F.col("p_up")
            - F.least(F.lit(0), F.min("p_up").over(w))).cast("long")
    s_dn = (F.col("p_dn")
            - F.least(F.lit(0), F.min("p_dn").over(w))).cast("long")
    return (p.select("day", "n_events",
                     s_up.alias("cusum_up"), s_dn.alias("cusum_down"),
                     ((s_up > F.col("h_n")) | (s_dn > F.col("h_n")))
                     .alias("is_alarm"))
            .orderBy("day"))


# ===========================================================================
# Incremental EXACT kNN-graph maintenance — the streaming ingest form
# of the shared graph store (the missing member after cells/semdedup:
# the graph itself, maintained as vectors arrive)
# ===========================================================================

def _st_knn_oracle() -> str:
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
)
SELECT src, dst FROM nb ORDER BY src, dst
"""


@register("st_knn_edges", oracle=_st_knn_oracle())
def st_knn_edges(spark: SparkSession, d: str) -> DataFrame:
    """Incremental EXACT kNN-graph maintenance: each micro-batch of the
    paged vector tranches folds into a versioned vector store and a
    versioned edge store so that after the drain the DIRECTED 5-NN edge list is
    byte-identical to the batch build (this oracle: DuckDB recomputes
    the full all-pairs kNN) — the ingest form of the shared graph
    store operators/knn_graph.py builds offline, completing the
    streaming family's graph story (cells: st_ivf_ingest; semantic
    keepers: st_semdedup; now the graph itself).

    Why exact incrementality is possible: per-node top-k under a
    total order (cos DESC, dst ASC) is a bounded-merge SEMILATTICE —
    top5(S1 u S2) = top5(top5(S1) u S2) — so each batch only has to
    (a) score arrivals against the full resident set (the honest
    incremental cost: |batch| x |store| map-side products, vs the
    |store|^2 rebuild), (b) union those candidate edges into the
    stored per-node top-5, and (c) re-rank k-bounded lists.
    Out-of-order tranches cannot corrupt the result for the same
    reason KMV's union-then-recap cannot (a31).  Vectors travel as
    JSON double arrays (float->double exact), so streamed cosines are
    bit-identical to batch ones.

    At 100 TB this is the production graph pipeline: per-ingest cost
    is arrivals x residents (cell-pruned via the IVF layout when the
    recall gate's operating point allows — g_knn_edges_ivf), touched
    nodes' lists update in place, untouched partitions never
    rewrite."""
    import shutil

    from ..functions.vector import cosine, to_double_array
    from ..session import scratch
    from ..sources.tables import epoch_prior, fold_version, read_version
    from ..streaming import pipeline as SP
    from .catalog_r8b import _LP_K

    emb = _t(spark, d, "embeddings")
    pages = emb.select(
        F.col("vec_id").cast("string").alias("page_id"),
        F.to_json(to_double_array(F.col("embedding"))).alias("title"),
        F.lit("vec").alias("lang"), F.lit(64).cast("long").alias("n_chars"))
    vstore = scratch("st_knn_vstore")
    estore = scratch("st_knn_estore")
    for p in (vstore, estore):
        shutil.rmtree(p, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        sp = rows.sparkSession
        B = rows.select(F.col("page_id").cast("long").alias("vec_id"),
                        F.from_json("title", "array<double>").alias("emb"))
        if B.isEmpty():
            return
        V = epoch_prior(sp, vstore, epoch_id)
        resid = B.unionByName(V) if V is not None else B
        # arrivals score against the FULL resident set (and each
        # other), residents score against arrivals only — the
        # bounded-merge semilattice makes that sufficient
        q = B.select(F.col("vec_id").alias("src"),
                     F.col("emb").alias("qv"))
        c = resid.select(F.col("vec_id").alias("dst"),
                         F.col("emb").alias("cv"))
        e1 = (c.crossJoin(F.broadcast(q))
              .filter(F.col("src") != F.col("dst"))
              .select("src", "dst",
                      cosine(F.col("qv"), F.col("cv")).alias("cos")))
        cand = e1.unionByName(
            e1.select(F.col("dst").alias("src"),
                      F.col("src").alias("dst"), "cos"))
        E = epoch_prior(sp, estore, epoch_id)
        if E is not None:
            cand = cand.unionByName(E)
        w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
        nb = (cand.dropDuplicates(["src", "dst"])
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= _LP_K)
              .select("src", "dst", "cos"))
        fold_version(sp, estore, epoch_id, nb)
        fold_version(sp, vstore, epoch_id, resid)

    SP.drain_paged_tranches(spark, "st_knn", SP.parity_tranches(pages),
                            merge)

    return (read_version(spark, estore)
            .select("src", "dst").orderBy("src", "dst"))


# ===========================================================================
# Training-order clumping audit — the shuffle-quality data card over
# w12's curriculum order (does the stream actually mix?)
# ===========================================================================

def _t43_oracle() -> str:
    from .oracle_sql import quality_sql
    return f"""
WITH q AS (
  SELECT doc_id, source,
         least(9, CAST(floor(round({quality_sql('text')}, 6) * 10)
                       AS BIGINT)) AS bucket
  FROM documents
), r AS (
  SELECT doc_id, source, bucket,
         (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
           * 10 + bucket AS pos
  FROM q
), cur AS (
  SELECT bucket, source,
         lead(bucket) OVER (ORDER BY pos) AS nb,
         lead(source) OVER (ORDER BY pos) AS ns
  FROM r
), nat AS (
  SELECT bucket, source,
         lead(bucket) OVER (ORDER BY doc_id) AS nb,
         lead(source) OVER (ORDER BY doc_id) AS ns
  FROM r
), s AS (
  SELECT 'curriculum' AS ordering,
         count(nb)::BIGINT AS n_pairs,
         CAST(sum((bucket = nb)::INT) AS BIGINT) AS n_same_bucket,
         CAST(sum((source = ns)::INT) AS BIGINT) AS n_same_source
  FROM cur
  UNION ALL
  SELECT 'doc_id', count(nb)::BIGINT,
         CAST(sum((bucket = nb)::INT) AS BIGINT),
         CAST(sum((source = ns)::INT) AS BIGINT)
  FROM nat
)
SELECT ordering, n_pairs, n_same_bucket,
       round(n_same_bucket::DOUBLE / n_pairs::DOUBLE, 6)
         AS same_bucket_rate,
       n_same_source,
       round(n_same_source::DOUBLE / n_pairs::DOUBLE, 6)
         AS same_source_rate
FROM s ORDER BY ordering
"""


@register("t43_order_clumping", oracle=_t43_oracle())
def t43_order_clumping(spark: SparkSession, d: str) -> DataFrame:
    """Training-order clumping audit: the adjacent-pair composition of
    the training stream under w12's curriculum order vs naive doc_id
    order — the shuffle-quality read a data card publishes next to
    the mixing weights (a stream whose neighbors share a quality
    bucket or source trains like a sorted dataset: gradient batches
    see correlated data, the ordering bias curriculum interleaving
    exists to kill).  What the numbers actually show on THIS corpus
    is the audit doing its job: quality mass concentrates in one
    decile, so once the small buckets exhaust, round-robin degrades
    into a long single-bucket run and same-bucket adjacency stays
    high UNDER BOTH orders (~0.66 vs ~0.71) — the mixing floor is set
    by the bucket distribution itself, and no interleave can mix what
    is 70% one decile.  That floor is precisely what this card exists
    to surface before anyone trusts "we interleaved" as a shuffle
    guarantee; same-SOURCE adjacency, where mass IS balanced, shows
    the interleave behaving normally.

    Exactness: adjacency flags are integer comparisons over lead();
    two display divisions.

    Scale shape: the adjacency scan is an ordered window over the
    manifest — inherently sequential at full fidelity; at 100 TB the
    audit runs per training SHARD (the order within a shard is what
    a data-loader actually replays), making the window shard-bounded;
    the full-order form here is the oracle-checkable reduction."""
    docs = _t(spark, d, "documents").select("doc_id", "source")
    w12 = w12_order_frame(spark, d)
    return t43_clump_base(w12.join(docs, "doc_id"))


def t43_clump_base(base: DataFrame) -> DataFrame:
    """The adjacency-read tail over a (doc_id, bucket, source,
    curriculum_pos) manifest frame — split from t43_order_clumping so
    the streaming release audit (st_release_audit, catalog_r14) can
    run the identical arithmetic over its drained manifest store."""
    from pyspark.sql import Window as W

    def clump(order_col, label: str) -> DataFrame:
        w = W.orderBy(order_col)
        led = base.select(
            "bucket", "source",
            F.lead("bucket").over(w).alias("nb"),
            F.lead("source").over(w).alias("ns"))
        return led.agg(
            F.lit(label).alias("ordering"),
            F.count("nb").alias("n_pairs"),
            F.sum((F.col("bucket") == F.col("nb")).cast("int"))
             .cast("long").alias("n_same_bucket"),
            F.round(F.sum((F.col("bucket") == F.col("nb")).cast("int"))
                    .cast("double") / F.count("nb").cast("double"), 6)
             .alias("same_bucket_rate"),
            F.sum((F.col("source") == F.col("ns")).cast("int"))
             .cast("long").alias("n_same_source"),
            F.round(F.sum((F.col("source") == F.col("ns")).cast("int"))
                    .cast("double") / F.count("nb").cast("double"), 6)
             .alias("same_source_rate"))

    return (clump(F.col("curriculum_pos"), "curriculum")
            .unionByName(clump(F.col("doc_id"), "doc_id"))
            .orderBy("ordering"))


def w12_order_frame(spark: SparkSession, d: str) -> DataFrame:
    """(doc_id, bucket, curriculum_pos) — w12's manifest, shared."""
    from .catalog_r9 import w12_curriculum_interleave
    return (w12_curriculum_interleave(spark, d)
            .select("doc_id", "bucket", "curriculum_pos"))


# ===========================================================================
# Privacy: quasi-identifier k-anonymity audit (the aggregate privacy
# read beside ta_redact's PII masking)
# ===========================================================================

_KANON_K = 5


@register("dq8_kanonymity", oracle=f"""
WITH g AS (
  SELECT source, lang, (n_chars // 100)::BIGINT AS len_bucket,
         count(*)::BIGINT AS n
  FROM documents GROUP BY source, lang, n_chars // 100
)
SELECT count(*)::BIGINT AS n_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_groups_at_risk,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       round(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END)::DOUBLE
             / sum(n)::DOUBLE, 6) AS risk_share,
       min(n)::BIGINT AS min_group_size
FROM g
""")
def dq8_kanonymity(spark: SparkSession, d: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (source,
    lang, length-bucket) — the aggregate privacy read (Sweeney 2002,
    public) beside ta_redact's field-level PII masking: a row whose
    quasi-identifier combination matches fewer than k = {K} corpus
    rows is re-identifiable by linkage even with direct identifiers
    scrubbed, and a release data card publishes the at-risk share
    before the corpus ships.  Length is bucketed to 100-char bins
    (the standard generalization step; the knob a real release
    coarsens until risk_share clears policy).

    Exactness: group sizes and the risk census are exact integers;
    one display division.

    Scale shape: one partial-aggregable groupBy on the
    quasi-identifier key, then a groups-sized census aggregate — the
    group table is bounded by the identifier domain, not the
    corpus."""
    docs = _t(spark, d, "documents")
    g = (docs.groupBy("source", "lang",
                      F.expr("n_chars div 100").alias("len_bucket"))
         .agg(F.count("*").alias("n")))
    risk = F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(F.lit(0))
    return g.agg(
        F.count("*").alias("n_groups"),
        F.sum("n").cast("long").alias("n_rows"),
        F.sum((F.col("n") < _KANON_K).cast("int")).cast("long")
         .alias("n_groups_at_risk"),
        F.sum(risk).cast("long").alias("n_rows_at_risk"),
        F.round(F.sum(risk).cast("double")
                / F.sum("n").cast("double"), 6).alias("risk_share"),
        F.min("n").cast("long").alias("min_group_size"))


dq8_kanonymity.__doc__ = dq8_kanonymity.__doc__.format(K=_KANON_K)


# ===========================================================================
# Embedding-space health: anisotropy + norm profile (the index-side
# audit every vector store should publish before anyone tunes recall)
# ===========================================================================

@register("m5_embedding_isotropy", oracle="""
WITH n AS (
  SELECT vec_id,
         CAST(round(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * 1000000) AS BIGINT) AS norm_q
  FROM embeddings
), p AS (
  SELECT CAST(round(
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE)
                  * CAST(b.embedding[i] AS DOUBLE)))
           / sqrt(list_sum(list_transform(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           / sqrt(list_sum(list_transform(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * 1000000) AS BIGINT) AS cos_q
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT (SELECT count(*) FROM n)::BIGINT AS n_vectors,
       round((SELECT sum(norm_q) FROM n)::DOUBLE
             / (SELECT count(*) FROM n)::DOUBLE / 1000000, 6)
         AS mean_norm,
       round((SELECT min(norm_q) FROM n)::DOUBLE / 1000000, 6)
         AS min_norm,
       round((SELECT max(norm_q) FROM n)::DOUBLE / 1000000, 6)
         AS max_norm,
       (SELECT count(*) FROM p)::BIGINT AS n_pairs,
       round((SELECT sum(cos_q) FROM p)::DOUBLE
             / (SELECT count(*) FROM p)::DOUBLE / 1000000, 6)
         AS anisotropy
FROM (SELECT 1)
""")
def m5_embedding_isotropy(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-space health card: norm profile + ANISOTROPY (the
    expected cosine between unrelated vectors — Ethayarajh 2019,
    public: contextual embedding spaces collapse into a narrow cone,
    and a mean pair cosine far above 0 inflates every similarity
    score, shifts dedup thresholds, and hides true neighbors).  The
    pair sample is the consecutive-id chain (vec_id, vec_id+1) —
    ids are content-uncorrelated in this corpus, so adjacent pairs
    read as random pairs while staying deterministic, linear, and
    oracle-able (no sampling RNG).

    Exactness: norms and cosines are quantized to the 1e-6 grid
    BEFORE summation (the commutative-sum rule), so the aggregates
    are exact BIGINTs; display divisions at the end.

    Scale shape: one scan for norms; the pair chain is a self-join
    on vec_id+1 (equi-join, k=1 fanout) — corpus-linear, no window,
    no cartesian."""
    from ..functions.vector import to_double_array
    emb = _t(spark, d, "embeddings")
    v = to_double_array(F.col("embedding"))
    dot_self = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    n = emb.select(
        "vec_id",
        F.round(F.sqrt(dot_self) * 1000000).cast("long").alias("norm_q"))
    a = emb.select(F.col("vec_id").alias("ia"), v.alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("ia"), v.alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    p = (a.join(b, "ia")
         .select(F.round(dot / na / nb * 1000000).cast("long")
                 .alias("cos_q")))
    ns = n.agg(F.count("*").alias("n_vectors"),
               F.sum("norm_q").cast("long").alias("s_norm"),
               F.min("norm_q").alias("mn"), F.max("norm_q").alias("mx"))
    ps = p.agg(F.count("*").alias("n_pairs"),
               F.sum("cos_q").cast("long").alias("s_cos"))
    return (ns.crossJoin(F.broadcast(ps))
            .select("n_vectors",
                    F.round(F.col("s_norm").cast("double")
                            / F.col("n_vectors").cast("double")
                            / 1000000, 6).alias("mean_norm"),
                    F.round(F.col("mn").cast("double") / 1000000, 6)
                     .alias("min_norm"),
                    F.round(F.col("mx").cast("double") / 1000000, 6)
                     .alias("max_norm"),
                    "n_pairs",
                    F.round(F.col("s_cos").cast("double")
                            / F.col("n_pairs").cast("double")
                            / 1000000, 6).alias("anisotropy")))


# ===========================================================================
# Classifier bias audit: quality-score vs length correlation (the
# known quality-classifier failure mode, as one number)
# ===========================================================================

def _t44_oracle() -> str:
    from .oracle_sql import quality_sql
    return f"""
WITH q AS (
  SELECT CAST(round({quality_sql('text')} * 1000000) AS BIGINT) AS x,
         CAST(round(ln(greatest(n_chars, 1)) * 1000) AS BIGINT) AS y
  FROM documents
), s AS (
  SELECT count(*)::BIGINT AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM q
)
SELECT n AS n_docs,
       round((n * sxy - sx * sy)::DOUBLE
             / sqrt((n * sxx - sx * sx)::DOUBLE)
             / sqrt((n * syy - sy * sy)::DOUBLE), 6)
         AS quality_length_corr
FROM s
"""


@register("t44_quality_length_corr", oracle=_t44_oracle())
def t44_quality_length_corr(spark: SparkSession, d: str) -> DataFrame:
    """Pearson correlation between the T2 quality score and
    log document length — the classifier-bias audit every
    quality-filtered release publishes: quality classifiers are
    KNOWN to learn length as a shortcut (long pages score high, the
    C4/Gopher-era failure mode), and a correlation near 1 means the
    'quality' cut is silently a length cut, double-counting t4's
    min-length rule and skewing the kept mix toward verbosity.
    One signed number beside w10's per-domain cuts.

    Exactness: both variables quantized to integer grids BEFORE the
    five product sums (quality x1e6, ln-length x1e3 — the ta_zipf
    least-squares convention; grid coarseness bounds every term
    below 1e18), so the correlation's numerator and radicands are
    exact BIGINTs; two sqrt + one division at display.

    Scale shape: one corpus scan into a 6-cell partial aggregate —
    nothing corpus-sized survives the map side."""
    from ..functions import text as X
    docs = _t(spark, d, "documents")
    q = docs.select(
        F.round(X.quality_components(F.col("text"))["quality_score"]
                * 1000000).cast("long").alias("x"),
        F.round(F.log(F.greatest(F.col("n_chars"), F.lit(1))
                      .cast("double")) * 1000).cast("long").alias("y"))
    s = q.agg(F.count("*").alias("n"),
              F.sum("x").cast("long").alias("sx"),
              F.sum("y").cast("long").alias("sy"),
              F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
              F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))
    # r16: moment products in decimal(38,0) — BIGINT overflows at
    # ~5e4 docs with the 1e6-scaled quality grid (the 10x stress tier
    # crashed the shared audit_risk_corr form of this exact formula);
    # decimal is exact 128-bit and bit-identical at oracle SFs (see
    # catalog_r11.audit_risk_corr).
    def _d(c: str) -> Column:
        return F.col(c).cast("decimal(38,0)")

    num = (_d("n") * _d("sxy") - _d("sx") * _d("sy"))
    dx = (_d("n") * _d("sxx") - _d("sx") * _d("sx"))
    dy = (_d("n") * _d("syy") - _d("sy") * _d("sy"))
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(num.cast("double") / F.sqrt(dx.cast("double"))
                / F.sqrt(dy.cast("double")), 6)
         .alias("quality_length_corr"))
