"""Catalog extension 6 (round 8, session 3).

Extends the LLM-training-data surface with the selection / audit
operators between curation and release:

- t24_temp_mix: temperature-scaled domain sampling (the multilingual
  alpha-sampling rule of Lample & Conneau 2019 §3.1 / XLM-R, at
  alpha = 0.5) — the non-uniform generalization of t19's equalized
  mix, plus the achieved-vs-target report.
- t25_rule_ablation: per-rule attribution over the shared
  Gopher/C4/language/perplexity fragments — for every gate, how many
  docs it rejects and how many ONLY it rejects (the FineWeb-style
  ablation table that says which rule is doing the work).
- w10_quality_pernorm: within-domain quality normalization — keep
  each source's top quartile by the T2 score, so one verbose domain
  cannot crowd out the rest under a single global threshold.
- a20_heavy_hitters: count-min-sketch heavy hitters BUILT FROM
  AGGREGATIONS (Cormode & Muthukrishnan 2005) gated against the
  exact top-10 token counts — the a10/a11 sketch-vs-exact pattern.
- g3_cluster_balanced_sample: cluster-balanced diversity sampling
  over the frozen exact-k-means layout (the DCLM / cluster-capped
  selection step) with the same map-side integer-threshold accept
  as t19 (no per-cluster window).

Reference parity note: the reference repo has no corpus-selection
surface (its pipeline is RAG ETL, feature_pipeline/*.py); these are
the beyond-reference training-data operators SURVEY §2.12-2.14
mandates, built on the same shared fragments as the curation family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register


# ===========================================================================
# Temperature-scaled domain mix (alpha-sampling) — Lample & Conneau
# 2019 §3.1: sample domain s with probability q_s ∝ p_s^alpha.  At
# alpha = 0.5 the exponent is a SQRT, which (unlike pow) is an
# IEEE-754 correctly-rounded primitive, so both engines compute
# bit-identical keep rates with no quantization dance.
# ===========================================================================

def _tmix_cte() -> str:
    return """
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR || ':tmix'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
), per_src AS (
  SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source
), mn AS (
  SELECT min(n_s) AS m FROM per_src
), th AS (
  SELECT source, n_s,
         CAST(floor(1000000.0::DOUBLE
                    * sqrt(m::DOUBLE / n_s::DOUBLE)) AS BIGINT) AS thresh
  FROM per_src CROSS JOIN mn
), kept AS (
  SELECT b.doc_id, b.source
  FROM b JOIN th USING (source) WHERE b.bucket < th.thresh
)"""


def _tmix_th(spark: SparkSession, d: str) -> DataFrame:
    """(source, n_s, thresh) for the alpha=0.5 temperature mix.
    Keep rate r_s = (min_n / n_s)^(1-alpha) = sqrt(min_n / n_s):
    normalized so the smallest source keeps everything and larger
    sources are downsampled toward q_s ∝ sqrt(p_s) — exactly the
    alpha-sampling keep rule restated as downsample-only."""
    docs = _t(spark, d, "documents")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    mn = per_src.agg(F.min("n_s").alias("m"))
    return (per_src.crossJoin(F.broadcast(mn))
            .select("source", "n_s",
                    F.floor(F.lit(1000000.0)
                            * F.sqrt(F.col("m").cast("double")
                                     / F.col("n_s").cast("double")))
                     .cast("long").alias("thresh")))


@register("t24_temp_mix", oracle=_tmix_cte() + """
SELECT doc_id, source FROM kept
""")
def t24_temp_mix(spark: SparkSession, d: str) -> DataFrame:
    """Temperature-scaled domain sampling manifest (alpha = 0.5):
    keep each doc iff its deterministic md5 bucket falls under the
    source's keep rate sqrt(min_n / n_s) — the flattened mixture
    q_s ∝ p_s^0.5 that upweights small domains without the full
    equalization of t19 (the knob every multilingual / multi-domain
    pretraining recipe exposes as alpha).

    Scale shape: identical to t19_domain_mix — a sources-sized count
    aggregate broadcast back, accept/reject MAP-SIDE off an integer
    bucket threshold; no per-source window, no second scan.  sqrt is
    correctly-rounded IEEE so the thresholds are engine-identical
    (pow is NOT — alpha other than 1/2 or 1/4 would need the 6dp
    quantization trick instead)."""
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    b = docs.select(
        "doc_id", "source",
        F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":tmix"))),
               F.lit(1000000)).alias("bucket"))
    return (b.join(F.broadcast(_tmix_th(spark, d)), "source")
            .filter(F.col("bucket") < F.col("thresh"))
            .select("doc_id", "source"))


@register("t24_temp_mix_report", oracle=_tmix_cte() + """
, sq AS (
  SELECT source, n_s,
         CAST(floor(sqrt(n_s::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS sq_s
  FROM per_src
), tot AS (
  SELECT CAST(sum(sq_s) AS BIGINT) AS sq_tot FROM sq
)
SELECT t.source, t.n_s, t.thresh,
       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       round(coalesce(k.n_kept, 0)::DOUBLE
             / (SELECT count(*) FROM kept)::DOUBLE, 6) AS achieved_share,
       round(s.sq_s::DOUBLE / o.sq_tot::DOUBLE, 6) AS target_share
FROM th t
JOIN sq s USING (source) CROSS JOIN tot o
LEFT JOIN (SELECT source, count(*)::BIGINT AS n_kept
           FROM kept GROUP BY source) k USING (source)
ORDER BY t.source
""")
def t24_temp_mix_report(spark: SparkSession, d: str) -> DataFrame:
    """Achieved-vs-target mix for the temperature sample: per source
    the corpus count, integer threshold, kept count, achieved share,
    and the alpha=0.5 target share q_s = sqrt(n_s) / sum sqrt(n_t).
    Each sqrt is quantized to a 1e-6 BIGINT before the sum so the
    normalizer is an exact integer (float sums are order-dependent
    across engines; integer sums are not)."""
    kept = t24_temp_mix(spark, d)
    th = _tmix_th(spark, d).withColumn(
        "sq_s",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)).cast("long"))
    tot = th.agg(F.sum("sq_s").cast("long").alias("sq_tot"))
    k = kept.groupBy("source").agg(F.count("*").alias("n_kept"))
    n_tot = kept.agg(F.count("*").alias("n_total"))
    return (th.crossJoin(F.broadcast(tot))
            .join(k, "source", "left")
            .crossJoin(F.broadcast(n_tot))
            .select("source", "n_s", "thresh",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.round(F.coalesce("n_kept", F.lit(0)).cast("double")
                            / F.col("n_total").cast("double"), 6)
                     .alias("achieved_share"),
                    F.round(F.col("sq_s").cast("double")
                            / F.col("sq_tot").cast("double"), 6)
                     .alias("target_share"))
            .orderBy("source"))


# ===========================================================================
# Rule-ablation attribution — for each curation gate, docs it fails
# and docs ONLY it fails (the marginal value of keeping the rule).
# Same shared fragments as cc_release_funnel, so the numbers are
# mutually auditable with the funnel's per-stage survival.
# ===========================================================================

def _ablation_oracle() -> str:
    from ..operators.curation_rules import c4_sql, gopher_sql
    from . import oracle_vec as OV
    from .catalog_r8 import _ppl_cte
    row = ("SELECT {no} AS rule_no, '{name}' AS rule, {f} AS n_fail, "
           "{fo} AS n_fail_only, n_docs, n_pass_all FROM agg")
    return f"""
WITH g AS (
  SELECT doc_id, {gopher_sql('text')} FROM documents
), c AS (
  SELECT doc_id, {c4_sql('text')} FROM documents
), base AS (
  SELECT d.doc_id,
         NOT g.gopher_pass AS f_gopher,
         c.page_drop AS f_c4,
         {OV.detect_language_sql('d.text')} <> 'en' AS f_lang
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id
  JOIN c ON c.doc_id = d.doc_id
), ppl AS ({_ppl_cte()}
  SELECT doc_id, ppl_bucket FROM bucketed
), fl AS (
  SELECT b.doc_id, b.f_gopher, b.f_c4, b.f_lang,
         coalesce(p.ppl_bucket = 'tail', TRUE) AS f_ppl
  FROM base b LEFT JOIN ppl p USING (doc_id)
), agg AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(f_gopher::INT)::BIGINT AS fg,
         sum((f_gopher AND NOT f_c4 AND NOT f_lang AND NOT f_ppl)::INT)
           ::BIGINT AS fg_only,
         sum(f_c4::INT)::BIGINT AS fc,
         sum((f_c4 AND NOT f_gopher AND NOT f_lang AND NOT f_ppl)::INT)
           ::BIGINT AS fc_only,
         sum(f_lang::INT)::BIGINT AS fll,
         sum((f_lang AND NOT f_gopher AND NOT f_c4 AND NOT f_ppl)::INT)
           ::BIGINT AS fl_only,
         sum(f_ppl::INT)::BIGINT AS fp,
         sum((f_ppl AND NOT f_gopher AND NOT f_c4 AND NOT f_lang)::INT)
           ::BIGINT AS fp_only,
         sum((NOT f_gopher AND NOT f_c4 AND NOT f_lang AND NOT f_ppl)
             ::INT)::BIGINT AS n_pass_all
  FROM fl
)
SELECT CAST(rule_no AS BIGINT) AS rule_no, rule, n_fail, n_fail_only,
       round(n_fail::DOUBLE / n_docs::DOUBLE, 6) AS share_fail,
       n_pass_all
FROM (
  {row.format(no=1, name='gopher', f='fg', fo='fg_only')}
  UNION ALL
  {row.format(no=2, name='c4_page', f='fc', fo='fc_only')}
  UNION ALL
  {row.format(no=3, name='lang_en', f='fll', fo='fl_only')}
  UNION ALL
  {row.format(no=4, name='perplexity', f='fp', fo='fp_only')}
) ORDER BY rule_no
"""


@register("t25_rule_ablation", oracle=_ablation_oracle())
def t25_rule_ablation(spark: SparkSession, d: str) -> DataFrame:
    """Per-rule ablation attribution over the four curation gates
    (Gopher doc rules, C4 page rules, language=en, CCNet perplexity
    tail): for each rule, the docs it rejects, the docs ONLY it
    rejects (its marginal contribution — the number that justifies
    keeping the rule in the pipeline), the reject share, and the
    all-rules survivor count.  The FineWeb-style ablation read:
    a rule whose n_fail_only is ~0 is redundant with the others.
    Docs the LM cannot score (no bigrams) count as perplexity
    failures, matching the funnel's inner-join drop semantics.

    Scale shape: ONE conditional-aggregation pass over the scored
    scan (plus the perplexity join the funnel already pays) into a
    single 1-row aggregate exploded into 4 rule rows — adding a rule
    adds two sum() cells, never a re-scan."""
    from ..operators import textstats
    from ..operators.curation_rules import c4_line_stats, gopher_flags
    from .catalog_r8 import _ppl_frame

    docs = _t(spark, d, "documents")
    gf = gopher_flags(F.col("text"))
    cf = c4_line_stats(F.col("text"))
    base = docs.select(
        "doc_id",
        (~gf["gopher_pass"]).alias("f_gopher"),
        cf["page_drop"].alias("f_c4"),
        (textstats.detect_language(F.col("text")) != "en").alias("f_lang"))
    ppl = _ppl_frame(spark, d).select("doc_id", "ppl_bucket")
    fl = (base.join(ppl, "doc_id", "left")
          .select("f_gopher", "f_c4", "f_lang",
                  F.coalesce(F.col("ppl_bucket") == "tail", F.lit(True))
                   .alias("f_ppl")))

    def cnt(cond):
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0)).cast("long")

    g, c, l, p = (F.col("f_gopher"), F.col("f_c4"),
                  F.col("f_lang"), F.col("f_ppl"))
    agg = fl.agg(
        F.count("*").alias("n_docs"),
        cnt(g).alias("fg"), cnt(g & ~c & ~l & ~p).alias("fg_only"),
        cnt(c).alias("fc"), cnt(c & ~g & ~l & ~p).alias("fc_only"),
        cnt(l).alias("fll"), cnt(l & ~g & ~c & ~p).alias("fl_only"),
        cnt(p).alias("fp"), cnt(p & ~g & ~c & ~l).alias("fp_only"),
        cnt(~g & ~c & ~l & ~p).alias("n_pass_all"))

    def row(no, name, f, fo):
        return F.struct(
            F.lit(no).cast("long").alias("rule_no"),
            F.lit(name).alias("rule"),
            F.col(f).alias("n_fail"),
            F.col(fo).alias("n_fail_only"),
            F.round(F.col(f).cast("double")
                    / F.col("n_docs").cast("double"), 6)
             .alias("share_fail"),
            F.col("n_pass_all").alias("n_pass_all"))

    return (agg.select(F.explode(F.array(
        row(1, "gopher", "fg", "fg_only"),
        row(2, "c4_page", "fc", "fc_only"),
        row(3, "lang_en", "fll", "fl_only"),
        row(4, "perplexity", "fp", "fp_only"))).alias("r"))
        .select("r.*").orderBy("rule_no"))


# ===========================================================================
# Within-domain quality normalization — keep each source's top
# quartile by the T2 score instead of one global threshold (a chatty
# domain's median doc would flood a global cut; per-domain ranking
# is how FineWeb/DCLM apply classifier scores in practice).
# ===========================================================================

def _pernorm_cte() -> str:
    from . import oracle_sql as O
    return f"""
WITH q AS (
  SELECT doc_id, source, round({O.quality_sql('text')}, 6) AS q_score
  FROM documents
), th AS (
  SELECT source, quantile_cont(q_score, 0.75) AS p75
  FROM q GROUP BY source
)"""


@register("w10_quality_pernorm", oracle=_pernorm_cte() + """
SELECT q.doc_id, q.source, q.q_score, round(th.p75, 6) AS p75
FROM q JOIN th USING (source)
WHERE q.q_score >= th.p75
ORDER BY q.doc_id
""")
def w10_quality_pernorm(spark: SparkSession, d: str) -> DataFrame:
    """Per-domain quality selection: keep docs at or above their own
    source's 75th-percentile T2 score.  Normalizing within domain
    decouples 'good for this domain' from cross-domain verbosity
    bias — the per-domain analogue of t3's global threshold.

    Scale shape: the cut table is a sources-sized aggregate joined
    back broadcast; the keep decision is then MAP-SIDE (no
    percent_rank window partitioned by source, which would funnel a
    100 TB domain into one reducer).  Exact percentile is the oracle
    contract at test scale; the approx_percentile 100 TB knob is
    registered and GATED as w10_quality_pernorm_approx
    (catalog_r10 — >= 99% keep-decision agreement, plan pinned to
    compile no exact percentile)."""
    from ..functions import text as X
    docs = _t(spark, d, "documents")
    q = docs.select(
        "doc_id", "source",
        F.round(X.quality_components(F.col("text"))["quality_score"], 6)
         .alias("q_score"))
    th = q.groupBy("source").agg(
        F.percentile("q_score", F.lit(0.75)).alias("p75"))
    return (q.join(F.broadcast(th), "source")
            .filter(F.col("q_score") >= F.col("p75"))
            .select("doc_id", "source", "q_score",
                    F.round("p75", 6).alias("p75"))
            .orderBy("doc_id"))


# ===========================================================================
# Count-min-sketch heavy hitters — the sketch built FROM relational
# aggregations (3 hash rows x 512 buckets of partial-aggregable
# sums), gated against the exact top-10 token counts.  The
# a10/a11 pattern: exact values value-checked, sketch bounded.
# ===========================================================================

_CMS_W = 512
_CMS_D = 3


def _hh_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH tk AS (
  SELECT unnest(t) AS tok
  FROM (SELECT {OV.tokens_sql('text')} AS t FROM documents)
), cnt AS (
  SELECT tok, count(*)::BIGINT AS n_exact FROM tk GROUP BY tok
)
SELECT tok, n_exact, TRUE AS within_bound
FROM cnt ORDER BY n_exact DESC, tok LIMIT 10
"""


@register("a20_heavy_hitters", oracle=_hh_oracle())
def a20_heavy_hitters(spark: SparkSession, d: str) -> DataFrame:
    """Heavy hitters (top-10 corpus tokens) with a count-min-sketch
    estimate gated against the exact count.  The CMS is not a
    builtin call: it is 3 salted-hash rows x 512 buckets of summed
    counts — a 1,536-cell aggregate whose fixed size is the whole
    point (partial-aggregates map-side at any corpus size, where the
    exact per-token count table grows with the vocabulary).  The
    estimate for a token is min over rows of its bucket's sum;
    within_bound pins the CMS guarantee est >= exact AND
    est - exact <= 8N/W (8x the per-row expected collision mass,
    min over 3 independent rows — Cormode & Muthukrishnan 2005).

    At 100 TB you keep only the sketch plus a candidate set (any
    token whose sketch estimate clears a support threshold), never
    the exact table; the exact twin here is the test-scale gate."""
    from ..operators.dedup import md5_int32, tokens
    docs = _t(spark, d, "documents")
    tk = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = tk.groupBy("tok").agg(F.count("*").alias("n_exact"))
    n_total = cnt.agg(F.sum("n_exact").cast("long").alias("n_total"))

    def buckets(tok):
        return F.array(*[
            F.struct(F.lit(i).cast("int").alias("i"),
                     F.pmod(md5_int32(F.concat(tok, F.lit(f":cms{i}"))),
                            F.lit(_CMS_W)).alias("bucket"))
            for i in range(_CMS_D)])

    cells = (cnt.select(F.explode(buckets(F.col("tok"))).alias("b"),
                        F.col("n_exact"))
             .groupBy("b.i", "b.bucket")
             .agg(F.sum("n_exact").alias("cell_sum")))
    top = (cnt.orderBy(F.desc("n_exact"), "tok").limit(10)
           .select("tok", "n_exact",
                   F.explode(buckets(F.col("tok"))).alias("b")))
    est = (top.join(F.broadcast(cells),
                    (top["b.i"] == cells["i"])
                    & (top["b.bucket"] == cells["bucket"]))
           .groupBy("tok", "n_exact")
           .agg(F.min("cell_sum").alias("est")))
    return (est.crossJoin(F.broadcast(n_total))
            .select("tok", "n_exact",
                    ((F.col("est") >= F.col("n_exact"))
                     & (F.col("est") - F.col("n_exact")
                        <= F.expr(f"(8 * n_total) div {_CMS_W}")))
                    .alias("within_bound"))
            .orderBy(F.desc("n_exact"), "tok"))


# ===========================================================================
# Cluster-balanced diversity sampling — per-cluster capped selection
# over the FROZEN exact-k-means layout (the DCLM / cluster-balanced
# curation step: cap every semantic cluster at the smallest
# cluster's size so no topic dominates the training mix).
# ===========================================================================

def _g3_oracle() -> str:
    from .catalog_r8 import _km_oracle
    return _km_oracle("""
, pc AS (
  SELECT cluster, count(*)::BIGINT AS n_c FROM af GROUP BY cluster
), mnc AS (
  SELECT min(n_c) AS m FROM pc
), thc AS (
  SELECT cluster, n_c, ((m * 1000000) // n_c)::BIGINT AS thresh
  FROM pc CROSS JOIN mnc
), bb AS (
  SELECT vec_id, cluster,
         ('0x' || substr(md5(vec_id::VARCHAR || ':cbal'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM af
)
SELECT b.vec_id, b.cluster
FROM bb b JOIN thc USING (cluster) WHERE b.bucket < thc.thresh
ORDER BY b.vec_id
""")


@register("g3_cluster_balanced_sample", oracle=_g3_oracle())
def g3_cluster_balanced_sample(spark: SparkSession, d: str) -> DataFrame:
    """Cluster-balanced sampling manifest: every k-means cluster of
    the embedding corpus downsampled to the smallest cluster's size
    by the same deterministic integer-hash threshold as
    t19/t24 — the diversity-selection step (cap dominant semantic
    clusters) that cluster-based curation pipelines run after
    SemDeDup.  Assignments come from the g2 exact-k-means layout, so
    this entry is value-oracled end to end through the Lloyd loop.

    Scale shape: assignment is map-side against centroid literals
    (the g2 shape); cluster sizes are a K-row aggregate broadcast
    back; accept/reject is MAP-SIDE off the hash bucket — no
    per-cluster rank window (K=4 partitions would be the worst
    possible window skew), no second pass over the vectors."""
    from ..operators.dedup import md5_int32
    from .catalog_r8 import _km_run
    af, _ = _km_run(spark, d)
    pc = af.groupBy("cluster").agg(F.count("*").alias("n_c"))
    mn = pc.agg(F.min("n_c").alias("m"))
    th = (pc.crossJoin(F.broadcast(mn))
          .select("cluster", F.expr("(m * 1000000) div n_c").alias("thresh")))
    bb = af.select(
        "vec_id", "cluster",
        F.pmod(md5_int32(F.concat(F.col("vec_id").cast("string"),
                                  F.lit(":cbal"))),
               F.lit(1000000)).alias("bucket"))
    return (bb.join(F.broadcast(th), "cluster")
            .filter(F.col("bucket") < F.col("thresh"))
            .select("vec_id", "cluster")
            .orderBy("vec_id"))


# ===========================================================================
# BIGINT-exact PCA power iteration — the third member of the exact
# iterative family (g1 PageRank, g2 k-means): the dominant principal
# component of the embedding corpus, walked in fixed-point integer
# arithmetic so both engines follow a bit-identical trajectory.
# ===========================================================================

_PCA_D = 16          # leading dims (the Matryoshka serving slice)
_PCA_SCALE = 10_000  # data grid: x -> floor(x*1e4 + .5), |x| <= ~0.53
_PCA_VS = 1_000      # direction grid: v renormalized to ~1e3 per step
_PCA_ITERS = 6


def _pca_cte() -> str:
    """Chained-CTE power iteration.  Per step: s = cv . v (map-side
    integer dot), w_i = sum_x cv_i * s (the Gram action A v without
    materializing A), then v' = w // max(|w|)/VS — renormalized by
    DIVIDING (never w * VS, which would overflow before the division
    helps).  All divisions are native SQL integer division, which
    truncates toward zero in BOTH engines (DuckDB `//`, Spark `div`)
    — no Python semantics in the loop.

    Magnitudes at the declared grid: |cv| <= ~1.1e4, |s| <= 16 *
    1.1e4 * 1.1e3 < 2e8, |cv*s| < 2.2e12, summed over n vectors
    stays inside BIGINT to n ~ 4e6; beyond that, drop _PCA_VS a
    decade per 100x n (the docstring contract, same as g2's grid)."""
    D, VS = _PCA_D, _PCA_VS
    rng = f"range(1, {D + 1})"
    v0 = "[" + f"{VS}::BIGINT" + ", 0" * (D - 1) + "]"
    parts = [f"""
q AS (
  SELECT vec_id,
         list_transform(list_slice(embedding, 1, {D}),
                        x -> CAST(floor(x::DOUBLE * {_PCA_SCALE} + 0.5)
                                  AS BIGINT)) AS qv
  FROM embeddings
), muw AS (
  SELECT i, CAST(sum(qv[i]) AS BIGINT) AS s, count(*)::BIGINT AS n
  FROM q CROSS JOIN {rng} t(i) GROUP BY i
), mu AS (
  SELECT list(s // n ORDER BY i) AS mu FROM muw
), c AS MATERIALIZED (
  SELECT vec_id,
         list_transform({rng}, i -> qv[i] - mu[i]) AS cv
  FROM q CROSS JOIN mu
), v0 AS (
  SELECT {v0} AS v
)"""]
    for k in range(_PCA_ITERS):
        parts.append(f"""
s{k} AS (
  SELECT vec_id, cv,
         list_sum(list_transform({rng}, i -> cv[i] * v[i])) AS s
  FROM c CROSS JOIN v{k}
), w{k} AS (
  SELECT i, CAST(sum(cv[i] * s) AS BIGINT) AS w
  FROM s{k} CROSS JOIN {rng} t(i) GROUP BY i
), m{k} AS (
  SELECT greatest(max(abs(w)) // {VS}, 1) AS m FROM w{k}
), v{k + 1} AS MATERIALIZED (
  SELECT list(w // m ORDER BY i) AS v FROM w{k} CROSS JOIN m{k}
)""")
    return "WITH " + ",".join(parts)


_PCA_C_BUILT: set[str] = set()


def _pca_centered(spark: SparkSession, d: str) -> DataFrame:
    """The centered 16-dim projection (vec_id, cv), MATERIALIZED once
    per (process, sf) as a narrow scratch table (VERDICT r8 #4): the
    power loop makes 6-8 passes over this frame, and before this it
    re-derived cv from the FULL embeddings parquet scan on every pass
    — 8 wide-vector scans for a 16-dim iterate.  Writing the narrow
    projection once and iterating over it is exactly what a 100 TB
    run does (the centered frame is ~D longs/row vs the full vector
    bytes; at catalog scale the same effect could come from
    .persist(), but the written table also survives across the three
    g4 entries that share the loop).  Values are BIGINT-exact, so the
    parquet roundtrip is lossless and every g4 oracle is unchanged."""
    import os
    from ..functions.vector import to_double_array
    from ..session import scratch
    D = _PCA_D
    path = scratch("pca_c_" + d.strip("/").replace("/", "_"))
    if d not in _PCA_C_BUILT or not os.path.exists(path):
        emb = _t(spark, d, "embeddings").select(
            "vec_id",
            F.transform(
                F.slice(to_double_array(F.col("embedding")), 1, D),
                lambda x: F.floor(x * _PCA_SCALE + F.lit(0.5)).cast("long"))
            .alias("qv"))
        sums = emb.agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
              for i in range(D)])
        mu = sums.select(F.array(
            *[F.expr(f"s{i} div n") for i in range(D)]).alias("mu"))
        c = (emb.crossJoin(F.broadcast(mu))
             .select("vec_id",
                     F.zip_with("qv", "mu", lambda a, b: a - b)
                     .alias("cv")))
        # narrow table, bounded file count (at 100 TB this is the
        # cluster writing one cell-sized file per task — coalesce is
        # the local[32] stand-in for a sane target file size)
        c.coalesce(4).write.mode("overwrite").parquet(path)
        _PCA_C_BUILT.add(d)
    return spark.read.parquet(path)


def _pca_frames(spark: SparkSession, d: str):
    """(centered frame cv, final 1-row direction frame v).  The
    centered frame comes from the one-off narrow materialization
    (_pca_centered) — the oracle's ``c AS MATERIALIZED`` twin; the
    direction comes from the ONE-PASS Gram collapse of the power loop
    (see _power_iters)."""
    c = _pca_centered(spark, d)
    return c, _power_iters(c, [_PCA_VS] + [0] * (_PCA_D - 1))


def _trunc_div(a: int, m: int) -> int:
    """SQL integer division (truncation toward zero) for exact Python
    ints — Spark ``div`` and DuckDB ``//`` semantics; ``m`` > 0."""
    q = abs(a) // m
    return q if a >= 0 else -q


def _power_iters(c: DataFrame, v0: list[int]) -> DataFrame:
    """The shared power loop v <- normalize(A v) over the centered
    frame c (columns vec_id, cv), starting from the integer vector
    ``v0`` — collapsed to ONE data pass (optimization r15, guide §1.2
    "the distributed algorithm" / §2.4 "remove shuffles outright").

    w_i = sum_x cv_i * (cv . v) = sum_j (sum_x cv_i cv_j) v_j: the
    Gram matrix G = sum_x cv cv' is a FIXED 16x16 integer table, so
    instead of 2 distributed reductions per iteration (2 * _PCA_ITERS
    jobs whose wall-clock was pure per-iteration scheduling latency —
    the corpus-independent floor g4/m6 carried through r14), compute
    G's upper triangle in one 136-cell partial aggregate (a bounded
    1-row collect, the repo's monitor-frame convention) and run all
    iterations in exact driver-side integer arithmetic.  Rearranging
    integer sums is exact, every division is trunc-toward-zero in
    both formulations, so the trajectory is BIT-IDENTICAL to the
    in-plan loop (pinned by tests/test_catalog_r8b.py::
    test_power_iters_gram_equals_inplan_loop) and every g4/m6 oracle
    stands unchanged.  Overflow envelope is unchanged too:
    |G_ij| <= n * cv^2 and |sum_j G_ij v_j| <= 16 * n * cv^2 * VS —
    the same n ~ 4e6 bound as the cv_i*s form (the _pca_cte grid
    contract).  At 100 TB this is one map + 136-cell partial agg over
    the narrow store vs 12 full passes: strictly fewer scans AND no
    per-iteration barrier."""
    D, VS = _PCA_D, _PCA_VS
    # r16 (guide §1.2 step 2, applied to plan CONSTRUCTION): the 136
    # Gram cells built from chained Column operators cost ~800 py4j
    # round trips per build — measured 5-6x the cost of handing each
    # cell to the SQL parser as ONE string.  Identical Catalyst
    # expression per cell (sum/element_at/cast; equality pinned in
    # tests/test_catalog_r8b.py::test_power_iters_gram_expr_parse),
    # so the Gram matrix and the bit-exact trajectory argument below
    # are untouched.
    row = c.agg(*[
        F.expr(f"cast(sum(element_at(cv, {i + 1}) * element_at(cv, "
               f"{j + 1})) as long) as g_{i}_{j}")
        for i in range(D) for j in range(i, D)]).first()
    G = [[0] * D for _ in range(D)]
    for i in range(D):
        for j in range(i, D):
            G[i][j] = G[j][i] = int(row[f"g_{i}_{j}"] or 0)
    v = [int(x) for x in v0]
    for _ in range(_PCA_ITERS):
        w = [sum(G[i][j] * v[j] for j in range(D)) for i in range(D)]
        m = max(max(abs(x) for x in w) // VS, 1)
        v = [_trunc_div(x, m) for x in w]
    return c.sparkSession.range(1).select(
        F.array(*[F.lit(int(x)).cast("long") for x in v]).alias("v"))


@register("g4_pca_power", headline=True, oracle=_pca_cte() + f"""
SELECT CAST(t.i AS BIGINT) AS dim, v[t.i] AS v_q
FROM v{_PCA_ITERS} CROSS JOIN range(1, {_PCA_D + 1}) t(i)
ORDER BY dim
""")
def g4_pca_power(spark: SparkSession, d: str) -> DataFrame:
    """Principal-direction estimate for the embedding corpus (leading
    16 dims) by BIGINT-exact power iteration: data on a 1e-4 grid,
    direction renormalized to a ~1e3 grid each step, 6 iterations of
    v' = A v computed as two passes (per-vector dot, then per-dim
    weighted sum) — A = sum_x cv cv' is never materialized, which is
    the whole trick at 100 TB where the Gram matrix is dense but the
    data pass is just a map + a 16-cell partial aggregate.  Every
    division is native SQL integer division (truncating in both
    engines), so the iteration trajectory is bit-identical and the
    final direction is fully value-oracled — same family as g1
    PageRank and g2 k-means.

    Convergence honesty: power-iteration rate is the eigengap ratio,
    and the hash-embedding corpus is nearly isotropic (top two
    eigenvalue shares 0.082/0.080 at sf0.01), so 6 iterations yield
    a NEAR-dominant direction rather than the exact eigenvector —
    the explained-variance twin certifies what it captures (>= 95%
    of the true top share; pinned in tests, sharp convergence on an
    anisotropic corpus is pinned there too).  Matryoshka truncation
    (r10/ir3) keeps PREFIX dims; this measures the best single
    direction the corpus actually has."""
    _, v = _pca_frames(spark, d)
    return (v.select(F.posexplode("v").alias("pos", "v_q"))
            .select((F.col("pos") + 1).cast("long").alias("dim"), "v_q")
            .orderBy("dim"))


@register("g4_pca_explained", oracle=_pca_cte() + f"""
, sF AS (
  SELECT vec_id, cv,
         list_sum(list_transform(range(1, {_PCA_D + 1}),
                                 i -> cv[i] * v[i])) AS s
  FROM c CROSS JOIN v{_PCA_ITERS}
), acc AS (
  SELECT CAST(sum((s // 1000) * (s // 1000)) AS BIGINT) AS num,
         CAST(sum(list_sum(list_transform(cv, x -> x * x))) AS BIGINT)
           AS tot
  FROM sF
), vv AS (
  SELECT CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS vv
  FROM v{_PCA_ITERS}
)
SELECT acc.num AS num_q, vv.vv AS vv_q, acc.tot AS tot_q,
       round((acc.num::DOUBLE * 1000000.0)
             / (vv.vv::DOUBLE * acc.tot::DOUBLE), 6) AS explained_ratio
FROM acc CROSS JOIN vv
""")
def g4_pca_explained(spark: SparkSession, d: str) -> DataFrame:
    """Rayleigh quotient of the converged direction as an explained-
    variance ratio: sum_x (x'v_hat)^2 / sum_x |x|^2, assembled from
    three exact integer aggregates (projection squares on a //1000
    grid, |v|^2, total variance) with ONE double expression at the
    end — the g1/g2 convention: cross-engine float agreement by
    doing all data-dependent reduction in BIGINT."""
    c, v = _pca_frames(spark, d)
    s = (c.crossJoin(F.broadcast(v))
         .select("cv", "v",
                 F.aggregate(F.zip_with("cv", "v", lambda a, b: a * b),
                             F.lit(0).cast("long"),
                             lambda acc, x: acc + x).alias("s")))
    acc = s.agg(
        F.sum(F.expr("(s div 1000) * (s div 1000)")).cast("long")
         .alias("num_q"),
        F.sum(F.aggregate(F.transform("cv", lambda x: x * x),
                          F.lit(0).cast("long"),
                          lambda a, x: a + x)).cast("long").alias("tot_q"))
    vv = v.select(F.aggregate(F.transform("v", lambda x: x * x),
                              F.lit(0).cast("long"),
                              lambda a, x: a + x).alias("vv_q"))
    return (acc.crossJoin(F.broadcast(vv))
            .select("num_q", "vv_q", "tot_q",
                    F.round((F.col("num_q").cast("double") * F.lit(1000000.0))
                            / (F.col("vv_q").cast("double")
                               * F.col("tot_q").cast("double")), 6)
                     .alias("explained_ratio")))


# ===========================================================================
# Relational Bloom filter — the map-side membership pre-filter the
# s15 ingest docstring promises, built entirely from aggregations:
# 3 salted hash positions into a 4096-bit bitmap stored as 128
# 32-bit words via bit_or.  Fully deterministic, so unlike library
# blooms it is VALUE-oracled end to end (hits, false positives and
# all) — not just bounded.
# ===========================================================================

_BF_BITS = 4096
_BF_K = 3


def _bloom_oracle() -> str:
    m, k = _BF_BITS, _BF_K
    return f"""
WITH store AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 2 = 1
), spos AS (
  SELECT h,
         ('0x' || substr(md5(h || ':bf' || j::VARCHAR), 1, 8))::BIGINT
           % {m} AS p
  FROM store CROSS JOIN range(0, {k}) t(j)
), words AS (
  SELECT p // 32 AS word,
         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS wbits
  FROM spos GROUP BY p // 32
), bpos AS (
  SELECT h,
         ('0x' || substr(md5(h || ':bf' || j::VARCHAR), 1, 8))::BIGINT
           % {m} AS p
  FROM batch CROSS JOIN range(0, {k}) t(j)
), probe AS (
  SELECT b.h,
         bool_and(coalesce(
           (w.wbits & (1::BIGINT << CAST(b.p % 32 AS INT))) <> 0,
           FALSE)) AS bloom_hit
  FROM bpos b LEFT JOIN words w ON w.word = b.p // 32
  GROUP BY b.h
), mem AS (
  SELECT b.h, p.bloom_hit, (s.h IS NOT NULL) AS is_member
  FROM batch b JOIN probe p USING (h) LEFT JOIN store s USING (h)
)
SELECT (SELECT count(*) FROM store)::BIGINT AS n_store,
       count(*)::BIGINT AS n_batch,
       CAST(sum(is_member::INT) AS BIGINT) AS n_true_members,
       CAST(sum(bloom_hit::INT) AS BIGINT) AS n_bloom_hits,
       CAST(sum((bloom_hit AND NOT is_member)::INT) AS BIGINT)
         AS n_false_pos,
       bool_and(NOT is_member OR bloom_hit) AS no_false_negatives,
       round(CASE WHEN count(*) - sum(is_member::INT) = 0
                  THEN 0.0::DOUBLE
                  ELSE sum((bloom_hit AND NOT is_member)::INT)::DOUBLE
                       / (count(*) - sum(is_member::INT))::DOUBLE END, 6)
         AS fp_rate
FROM mem
"""


@register("a21_bloom_prefilter", oracle=_bloom_oracle())
def a21_bloom_prefilter(spark: SparkSession, d: str) -> DataFrame:
    """Bloom-filter membership pre-filter for ingest dedup (the
    upgrade s15_incremental_ingest's docstring calls for): the
    store's content hashes are folded into a 4096-bit bitmap —
    3 salted md5 positions per key, bitmap persisted as 128
    bit_or'd 32-bit words — and the incoming batch probes it
    map-side before any shuffle reaches the store-sized anti-join.
    Because positions are deterministic md5 arithmetic, the whole
    filter (hits, false positives, the guaranteed absence of false
    negatives) is exact data both engines reproduce bit-for-bit —
    a sketch that is value-oracled, not merely bounded.

    Scale shape: the bitmap aggregate is 128 fixed cells (bit_or
    partial-aggregates map-side, same argument as the CMS);
    probing joins a broadcast 128-row word table; only the ~fp_rate
    fraction of non-members ever reaches the expensive anti-join.
    Sized-up production blooms (m/n ~ 10 bits/key) keep the same
    plan — only the constant changes.  Expected FP rate here:
    (1 - e^(-kn/m))^k with n ~ 250, m = 4096, k = 3 -> ~0.005;
    the behavior test gates the measured rate under 0.05."""
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    store = (docs.filter(F.col("doc_id") % 2 == 0)
             .select(h.alias("h")).distinct())
    batch = (docs.filter(F.col("doc_id") % 2 == 1)
             .select(h.alias("h")).distinct())

    jcol = F.explode(F.array(*[F.lit(j) for j in range(_BF_K)])).alias("j")

    def positions(df: DataFrame) -> DataFrame:
        return (df.select("h", jcol)
                .withColumn("p", F.pmod(
                    md5_int32(F.concat(F.col("h"), F.lit(":bf"),
                                       F.col("j").cast("string"))),
                    F.lit(_BF_BITS)))
                .withColumn("bitval", F.expr(
                    "shiftleft(cast(1 as bigint), cast(p % 32 as int))")))

    words = (positions(store)
             .groupBy(F.expr("p div 32").alias("word"))
             .agg(F.expr("bit_or(bitval)").alias("wbits")))
    bpos = positions(batch).withColumn("word", F.expr("p div 32"))
    probe = (bpos.join(F.broadcast(words), "word", "left")
             .withColumn("hit", F.coalesce(
                 (F.col("wbits").bitwiseAND(F.col("bitval")) != 0),
                 F.lit(False)))
             .groupBy("h").agg(F.expr("bool_and(hit)").alias("bloom_hit")))
    mem = (batch.join(probe, "h")
           .join(store.withColumnRenamed("h", "__sh"),
                 F.col("h") == F.col("__sh"), "left")
           .select("h", "bloom_hit",
                   F.col("__sh").isNotNull().alias("is_member")))
    n_store = store.agg(F.count("*").cast("long").alias("n_store"))
    agg = mem.agg(
        F.count("*").cast("long").alias("n_batch"),
        F.sum(F.col("is_member").cast("long")).cast("long")
         .alias("n_true_members"),
        F.sum(F.col("bloom_hit").cast("long")).cast("long")
         .alias("n_bloom_hits"),
        F.sum((F.col("bloom_hit") & ~F.col("is_member")).cast("long"))
         .cast("long").alias("n_false_pos"),
        F.expr("bool_and(NOT is_member OR bloom_hit)")
         .alias("no_false_negatives"))
    return (agg.crossJoin(F.broadcast(n_store))
            .select("n_store", "n_batch", "n_true_members",
                    "n_bloom_hits", "n_false_pos", "no_false_negatives",
                    F.round(F.when(
                        F.col("n_batch") - F.col("n_true_members") == 0,
                        F.lit(0.0)).otherwise(
                        F.col("n_false_pos").cast("double")
                        / (F.col("n_batch") - F.col("n_true_members"))
                          .cast("double")), 6).alias("fp_rate")))


# ===========================================================================
# Deterministic train/val/test split — the manifest every training
# run pins before anything else: hash-bucket assignment (map-side,
# reproducible across runs/engines/partitionings) plus the per-source
# balance report that says the split didn't shear a domain.
# ===========================================================================

def _split_cte() -> str:
    return """
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
), assigned AS (
  SELECT doc_id, source,
         CASE WHEN bucket < 100000 THEN 'test'
              WHEN bucket < 200000 THEN 'val'
              ELSE 'train' END AS split
  FROM b
)"""


@register("t26_eval_split", oracle=_split_cte() + """
SELECT doc_id, source, split FROM assigned ORDER BY doc_id
""")
def t26_eval_split(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split manifest: each doc
    lands by its md5 bucket (test < 10%, val < 20%, train rest) —
    the same hash-threshold primitive as t9/t19/t24, so membership
    is a pure function of doc_id: stable under re-runs, engine
    swaps, repartitioning, and corpus growth (a doc never migrates
    between splits when new data arrives — the property random
    splits lose and training pipelines need for dedup-safe evals).

    Scale shape: entirely map-side; the manifest is a projection."""
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    b = F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":split"))), F.lit(1000000))
    return (docs.select(
        "doc_id", "source",
        F.when(b < 100000, "test").when(b < 200000, "val")
         .otherwise("train").alias("split"))
        .orderBy("doc_id"))


@register("t26_eval_split_report", oracle=_split_cte() + """
SELECT source, split, count(*)::BIGINT AS n,
       round(count(*)::DOUBLE
             / sum(count(*)) OVER (PARTITION BY source)::DOUBLE, 6)
         AS share_of_source
FROM assigned GROUP BY source, split ORDER BY source, split
""")
def t26_eval_split_report(spark: SparkSession, d: str) -> DataFrame:
    """Split balance audit: per (source, split) count and the share
    of each source landing in each split — the check that the hash
    split didn't shear any domain (every source's test share should
    sit near 10%; the behavior test bounds the drift).  The window
    here is over the REPORT table (sources x 3 rows), not the data."""
    kept = t26_eval_split(spark, d)
    agg = kept.groupBy("source", "split").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W
    tot = F.sum("n").over(W.partitionBy("source"))
    return (agg.select("source", "split", "n",
                       F.round(F.col("n").cast("double")
                               / tot.cast("double"), 6)
                        .alias("share_of_source"))
            .orderBy("source", "split"))


# ===========================================================================
# Held-out stupid-backoff scoring (Brants et al. 2007 §4) — the
# third LM-scoring family member (add-one bigram perplexity, DSIR
# log-ratio, now backoff): LM tables trained on the doc_id-even
# half, the held-out odd half scored so the backoff branch actually
# fires on unseen bigrams.
# ===========================================================================

def _backoff_cte() -> str:
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
), bg AS (
  SELECT doc_id, s.prev AS prev, s.cur AS cur
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t)), i -> struct_pack(
             prev := CASE WHEN i = 0 THEN '<s>' ELSE t[i] END,
             cur := t[i + 1]))) AS s
    FROM toks WHERE len(t) > 0)
), c2 AS (
  SELECT prev, cur, count(*)::BIGINT AS c2
  FROM bg WHERE doc_id % 2 = 0 GROUP BY prev, cur
), c1 AS (
  SELECT prev, count(*)::BIGINT AS c1
  FROM bg WHERE doc_id % 2 = 0 GROUP BY prev
), uni AS (
  SELECT cur, count(*)::BIGINT AS cu
  FROM bg WHERE doc_id % 2 = 0 GROUP BY cur
), consts AS (
  SELECT (SELECT count(*) FROM bg WHERE doc_id % 2 = 0)::BIGINT AS n,
         (SELECT count(*) FROM uni)::BIGINT AS v
), scored AS (
  SELECT b.doc_id,
         (t2.c2 IS NOT NULL) AS hit,
         CAST(round(CASE WHEN t2.c2 IS NOT NULL
           THEN ln(t2.c2::DOUBLE / t1.c1::DOUBLE)
           ELSE ln(0.4::DOUBLE * (coalesce(u.cu, 0) + 1)::DOUBLE
                   / (c.n + c.v)::DOUBLE) END * 1000000.0) AS BIGINT)
           AS lp_s
  FROM bg b
  LEFT JOIN c2 t2 ON t2.prev = b.prev AND t2.cur = b.cur
  LEFT JOIN c1 t1 ON t1.prev = b.prev
  LEFT JOIN uni u ON u.cur = b.cur
  CROSS JOIN consts c
  WHERE b.doc_id % 2 = 1
), per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         CAST(sum((NOT hit)::INT) AS BIGINT) AS n_backoff,
         CAST(sum(lp_s) AS BIGINT) AS s
  FROM scored GROUP BY doc_id
)"""


@register("ta_backoff_heldout", oracle=_backoff_cte() + """
SELECT doc_id, n_bigrams, n_backoff,
       round(s::DOUBLE / (n_bigrams::DOUBLE * 1000000.0), 6)
         AS bo_logscore
FROM per_doc ORDER BY doc_id
""")
def ta_backoff_heldout(spark: SparkSession, d: str) -> DataFrame:
    """Stupid-backoff LM scoring (Brants et al. 2007 §4) on HELD-OUT
    data: bigram/context/unigram tables trained on the doc_id-even
    half of the corpus, the odd half scored — so unseen bigrams are
    real and the backoff branch (0.4 * unigram MLE, here add-one
    smoothed so an unseen unigram scores finitely instead of ln 0)
    does actual work.  Emits per held-out doc the bigram count, how
    many fell to backoff, and the mean log score — the web-scale LM
    gate Brants built for exactly this reason: no normalization, no
    discount estimation, every table a counting aggregate.

    Cross-engine exactness: counts are BIGINT; each bigram's log
    score is quantized to a 1e-6 BIGINT BEFORE the per-doc sum (the
    t21/NB convention — float adds are order-dependent across
    engines, integer adds are not), one division at the end.

    Scale shape: three counting aggregates over the training half
    (vocabulary-sized results, broadcast back to the Zipf-hot token
    stream — the t16/t21 join shape), scoring itself map-side."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    toks = (docs.select("doc_id", tokens(F.col("text")).alias("t"))
            .filter(F.size("t") > 0))
    t = F.col("t")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 1),
        lambda i: F.struct(
            F.when(i == 0, F.lit("<s>"))
             .otherwise(F.element_at(t, i)).alias("prev"),
            F.element_at(t, i + 1).alias("cur")))
    bg = (toks.select("doc_id", F.explode(bigrams).alias("s"))
          .select("doc_id", F.col("s.prev").alias("prev"),
                  F.col("s.cur").alias("cur")))
    train = bg.filter(F.col("doc_id") % 2 == 0)
    c2 = train.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = train.groupBy("prev").agg(F.count("*").alias("c1"))
    uni = train.groupBy("cur").agg(F.count("*").alias("cu"))
    consts = train.agg(
        F.count("*").alias("n"),
        F.count_distinct("cur").alias("v"))
    lp = F.when(
        F.col("c2").isNotNull(),
        F.log(F.col("c2").cast("double") / F.col("c1").cast("double"))
    ).otherwise(
        F.log(F.lit(0.4) * (F.coalesce(F.col("cu"), F.lit(0)) + 1)
              .cast("double") / (F.col("n") + F.col("v")).cast("double")))
    scored = (bg.filter(F.col("doc_id") % 2 == 1)
              .join(F.broadcast(c2), ["prev", "cur"], "left")
              .join(F.broadcast(c1), "prev", "left")
              .join(F.broadcast(uni), "cur", "left")
              .crossJoin(F.broadcast(consts))
              .select("doc_id",
                      F.col("c2").isNotNull().alias("hit"),
                      F.round(lp * F.lit(1000000.0)).cast("long")
                       .alias("lp_s")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum((~F.col("hit")).cast("long")).cast("long")
                  .alias("n_backoff"),
                 F.sum("lp_s").cast("long").alias("s"))
            .select("doc_id", "n_bigrams", "n_backoff",
                    F.round(F.col("s").cast("double")
                            / (F.col("n_bigrams").cast("double")
                               * F.lit(1000000.0)), 6)
                     .alias("bo_logscore"))
            .orderBy("doc_id"))


# ===========================================================================
# Weighted sampling without replacement (Efraimidis & Spirakis 2006
# A-Res): top-k by the priority key u^(1/w) — here rank-equivalent
# ln(u)/w, quantized — with quality as the weight.  The standard way
# to cut a quality-BIASED subcorpus (unlike w10's hard cut, every
# doc keeps a nonzero chance, so diversity survives).
# ===========================================================================

_WRS_K = 100


def _wrs_cte() -> str:
    from . import oracle_sql as O
    return f"""
WITH q AS (
  SELECT doc_id, source,
         round({O.quality_sql('text')}, 6) + 0.001::DOUBLE AS w,
         ((('0x' || substr(md5(doc_id::VARCHAR || ':wrs'), 1, 8))::BIGINT
           % 1000000) + 1)::DOUBLE / 1000000.0::DOUBLE AS u
  FROM documents
), keyed AS (
  SELECT doc_id, source, round(w, 6) AS w,
         CAST(round(ln(u) / w * 1000000.0) AS BIGINT) AS key_s
  FROM q
)"""


@register("t27_weighted_sample", oracle=_wrs_cte() + f"""
SELECT doc_id, source, w, key_s
FROM keyed ORDER BY key_s DESC, doc_id LIMIT {_WRS_K}
""")
def t27_weighted_sample(spark: SparkSession, d: str) -> DataFrame:
    """Quality-weighted sample of 100 docs without replacement
    (Efraimidis & Spirakis 2006 A-Res): each doc draws a
    deterministic uniform u from its md5 bucket and ranks by the
    priority key u^(1/w) — taken in rank-equivalent log form
    ln(u)/w, quantized to a 1e-6 BIGINT so the ordering both
    engines sort is over identical integers (w is the 6dp T2 score
    + 0.001 so zero-quality docs stay finite but near-certain
    losers).  Unlike the w10 hard cut, selection probability is
    MONOTONE in quality but never zero — the sample keeps corpus
    diversity while biasing toward quality, and re-running with
    more data never reshuffles previously-drawn keys (each key is a
    pure function of doc_id).

    Scale shape: key assignment map-side; top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    from ..functions import text as X
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    w = (F.round(X.quality_components(F.col("text"))["quality_score"], 6)
         + F.lit(0.001))
    u = ((F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                    F.lit(":wrs"))), F.lit(1000000))
          + F.lit(1)).cast("double") / F.lit(1000000.0))
    keyed = docs.select(
        "doc_id", "source", F.round(w, 6).alias("w"),
        F.round(F.log(u) / w * F.lit(1000000.0)).cast("long")
         .alias("key_s"))
    return (keyed.orderBy(F.desc("key_s"), "doc_id").limit(_WRS_K))


# ===========================================================================
# Semi-supervised label propagation (Zhu & Ghahramani 2002) — the
# fourth exact iterative family member: labels spread from the
# doc_id-even seed half over a fixed 5-NN cosine graph by clamped
# integer majority vote; held-out accuracy on the odd half.
# ===========================================================================

_LP_K = 5
_LP_ITERS = 2


def _lp_cte() -> str:
    from . import oracle_vec as OV
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    parts = [f"""
e AS (
  SELECT vec_id, embedding, label FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), lab0 AS (
  SELECT vec_id, CASE WHEN vec_id % 2 = 0 THEN label END AS lab FROM e
)"""]
    for k in range(_LP_ITERS):
        parts.append(f"""
votes{k} AS (
  SELECT n.src AS vec_id, l.lab, count(*)::BIGINT AS c
  FROM nb n JOIN lab{k} l ON l.vec_id = n.dst
  WHERE l.lab IS NOT NULL GROUP BY n.src, l.lab
), best{k} AS (
  SELECT vec_id, lab FROM (
    SELECT vec_id, lab,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY c DESC, lab) AS rn
    FROM votes{k}) WHERE rn = 1
), lab{k + 1} AS MATERIALIZED (
  SELECT e.vec_id,
         CASE WHEN e.vec_id % 2 = 0 THEN e.label
              ELSE coalesce(b.lab, l.lab) END AS lab
  FROM e
  LEFT JOIN best{k} b ON b.vec_id = e.vec_id
  LEFT JOIN lab{k} l ON l.vec_id = e.vec_id
)""")
    return "WITH " + ",".join(parts)


def _lp_frames(spark: SparkSession, d: str):
    """(embeddings frame e, final label frame (vec_id, lab)) — the
    Spark twin of _lp_cte.  The DIRECTED 5-NN edge list comes from
    the SHARED materialized graph store (operators/knn_graph.py —
    VERDICT r9 #1: one build per process/dataset serves g5–g9), not
    a per-entry all-pairs rebuild; the exact store's edge set is
    byte-identical to what _lp_cte's nb CTE recomputes, so the
    oracle is unchanged."""
    from pyspark.sql import Window as W

    from ..functions.vector import to_double_array
    from ..operators.knn_graph import knn_nb
    e = _t(spark, d, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("emb"),
        "label")
    nb = knn_nb(spark, d, k=_LP_K)
    lab = e.select("vec_id",
                   F.when(F.col("vec_id") % 2 == 0, F.col("label"))
                    .alias("lab"))
    wv = W.partitionBy("vec_id").orderBy(F.desc("c"), "lab")
    for _ in range(_LP_ITERS):
        votes = (nb.join(lab.withColumnRenamed("vec_id", "dst"), "dst")
                 .filter(F.col("lab").isNotNull())
                 .groupBy(F.col("src").alias("vec_id"), "lab")
                 .agg(F.count("*").alias("c")))
        best = (votes.withColumn("rn", F.row_number().over(wv))
                .filter(F.col("rn") == 1)
                .select("vec_id", F.col("lab").alias("blab")))
        prev = lab.withColumnRenamed("lab", "plab")
        lab = (e.join(best, "vec_id", "left").join(prev, "vec_id", "left")
               .select("vec_id",
                       F.when(F.col("vec_id") % 2 == 0, F.col("label"))
                        .otherwise(F.coalesce("blab", "plab"))
                        .alias("lab")))
    return e, lab


@register("g5_label_prop", oracle=_lp_cte() + f"""
SELECT vec_id, coalesce(lab, -1)::BIGINT AS label_pred,
       (vec_id % 2 = 0) AS is_seed
FROM lab{_LP_ITERS} ORDER BY vec_id
""")
def g5_label_prop(spark: SparkSession, d: str) -> DataFrame:
    """Label propagation (Zhu & Ghahramani 2002) over the embedding
    corpus: the doc_id-even half keeps its true label (clamped
    seeds), the odd half starts unlabeled, and two iterations of
    5-NN majority vote (count DESC, label ASC tiebreak — integer
    votes, so the trajectory is engine-exact) spread labels across
    the fixed cosine graph.  The fourth exact iterative operator
    after PageRank, k-means, and PCA — this one for the
    semi-supervised annotation step of a curation pipeline (label a
    seed slice by hand or model, propagate to the corpus by
    embedding affinity).

    Scale shape: the graph build here is the exact all-pairs kNN
    (the r5 shape, fine at test scale and value-oracle-able); at
    100 TB candidate generation swaps to ivf_knn_join per the r9
    bitext note — the ITERATIONS themselves are k-bounded joins on
    the 5-NN edge list (5n edges), partial-agg votes, never n^2."""
    _, lab = _lp_frames(spark, d)
    return (lab.select("vec_id",
                       F.coalesce("lab", F.lit(-1)).cast("long")
                        .alias("label_pred"),
                       (F.col("vec_id") % 2 == 0).alias("is_seed"))
            .orderBy("vec_id"))


@register("g5_label_prop_report", oracle=_lp_cte() + f"""
, held AS (
  SELECT e.vec_id, e.label AS truth, l.lab
  FROM e JOIN lab{_LP_ITERS} l ON l.vec_id = e.vec_id
  WHERE e.vec_id % 2 = 1
)
SELECT count(*)::BIGINT AS n_heldout,
       CAST(sum((lab IS NOT NULL)::INT) AS BIGINT) AS n_predicted,
       CAST(sum((lab = truth)::INT) AS BIGINT) AS n_correct,
       round(sum((lab IS NOT NULL)::INT)::DOUBLE / count(*)::DOUBLE, 6)
         AS coverage,
       round(sum((lab = truth)::INT)::DOUBLE
             / greatest(sum((lab IS NOT NULL)::INT), 1)::DOUBLE, 6)
         AS accuracy
FROM held
""")
def g5_label_prop_report(spark: SparkSession, d: str) -> DataFrame:
    """Held-out scoreboard for the propagation: over the odd
    (unseeded) half — how many received a label (coverage) and how
    often it matches the withheld truth (accuracy).  The quality
    gate a production propagation run publishes before anyone
    trusts the machine labels."""
    e, lab = _lp_frames(spark, d)
    held = (e.filter(F.col("vec_id") % 2 == 1)
            .select("vec_id", F.col("label").alias("truth"))
            .join(lab, "vec_id"))
    return held.agg(
        F.count("*").cast("long").alias("n_heldout"),
        F.sum(F.col("lab").isNotNull().cast("long")).cast("long")
         .alias("n_predicted"),
        F.sum((F.col("lab") == F.col("truth")).cast("long")).cast("long")
         .alias("n_correct"),
        F.round(F.sum(F.col("lab").isNotNull().cast("long"))
                .cast("double") / F.count("*").cast("double"), 6)
         .alias("coverage"),
        F.round(F.sum((F.col("lab") == F.col("truth")).cast("long"))
                .cast("double")
                / F.greatest(F.sum(F.col("lab").isNotNull().cast("long")),
                             F.lit(1)).cast("double"), 6)
         .alias("accuracy"))


# ===========================================================================
# ANALYZE TABLE-style column statistics — the stats-collection pass a
# cost-based optimizer runs before trusting its own estimates (a17
# audits an estimate; this is the op that PRODUCES the stats).
# ===========================================================================

@register("s32_analyze_stats", oracle="""
WITH a AS (
  SELECT count(*)::BIGINT AS n_rows,
         sum((o_orderkey IS NULL)::INT)::BIGINT AS nn1,
         count(DISTINCT o_orderkey)::BIGINT AS nd1,
         min(o_orderkey)::DOUBLE AS mn1, max(o_orderkey)::DOUBLE AS mx1,
         sum((o_custkey IS NULL)::INT)::BIGINT AS nn2,
         count(DISTINCT o_custkey)::BIGINT AS nd2,
         min(o_custkey)::DOUBLE AS mn2, max(o_custkey)::DOUBLE AS mx2,
         sum((o_totalprice IS NULL)::INT)::BIGINT AS nn3,
         count(DISTINCT o_totalprice)::BIGINT AS nd3,
         round(min(o_totalprice), 2)::DOUBLE AS mn3,
         round(max(o_totalprice), 2)::DOUBLE AS mx3,
         sum((o_orderdate IS NULL)::INT)::BIGINT AS nn4,
         count(DISTINCT o_orderdate)::BIGINT AS nd4,
         min(datediff('day', DATE '1970-01-01', o_orderdate::DATE))::DOUBLE AS mn4,
         max(datediff('day', DATE '1970-01-01', o_orderdate::DATE))::DOUBLE AS mx4
  FROM orders
)
SELECT col, n_rows, n_nulls, ndv, min_v, max_v FROM (
  SELECT 'o_orderkey' AS col, n_rows, nn1 AS n_nulls, nd1 AS ndv,
         mn1 AS min_v, mx1 AS max_v FROM a
  UNION ALL
  SELECT 'o_custkey', n_rows, nn2, nd2, mn2, mx2 FROM a
  UNION ALL
  SELECT 'o_totalprice', n_rows, nn3, nd3, mn3, mx3 FROM a
  UNION ALL
  SELECT 'o_orderdate', n_rows, nn4, nd4, mn4, mx4 FROM a
) ORDER BY col
""")
def s32_analyze_stats(spark: SparkSession, d: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, as an
    operator: per column of `orders` — row count, null count, exact
    NDV, min and max — the table the Selinger estimate (a17) and any
    CBO join reorder read.  ONE scan, every per-column statistic a
    cell of the same conditional aggregate, exploded to one row per
    column (the t25/funnel explode shape).

    Scale shape: min/max/null-count partial-aggregate trivially; the
    exact NDVs are the only shuffle-bound cells, and at 100 TB each
    swaps for approx_count_distinct (the a10 HLL gate bounds that
    substitution's error) — the plan shape is otherwise unchanged."""
    o = _t(spark, d, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    aggs = [F.count("*").alias("n_rows")]
    for i, c in enumerate(cols, 1):
        mn = F.min(c).cast("double")
        mx = F.max(c).cast("double")
        if c == "o_totalprice":
            mn, mx = (F.round(F.min(c), 2).cast("double"),
                      F.round(F.max(c), 2).cast("double"))
        elif c == "o_orderdate":
            ep = F.datediff(F.col(c).cast("date"), F.lit("1970-01-01"))
            mn = F.min(ep).cast("double")
            mx = F.max(ep).cast("double")
        aggs += [F.sum(F.col(c).isNull().cast("long")).cast("long")
                  .alias(f"nn{i}"),
                 F.count_distinct(F.col(c)).alias(f"nd{i}"),
                 mn.alias(f"mn{i}"), mx.alias(f"mx{i}")]
    a = o.agg(*aggs)

    def row(i, c):
        return F.struct(F.lit(c).alias("col"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"nn{i}").alias("n_nulls"),
                        F.col(f"nd{i}").alias("ndv"),
                        F.col(f"mn{i}").alias("min_v"),
                        F.col(f"mx{i}").alias("max_v"))

    return (a.select(F.explode(F.array(
        *[row(i, c) for i, c in enumerate(cols, 1)])).alias("r"))
        .select("r.*").orderBy("col"))


# ===========================================================================
# In-Context Pretraining pack order (Shi et al. 2023) — the
# composition capstone of the selection family: pack RELATED docs
# into the same training sequence by ordering within k-means
# clusters (centroid-outward walk) instead of t18's random hash
# shards, and measure what it buys: the same-cluster adjacency rate
# of within-sequence neighbors, side by side with the hash baseline.
# ===========================================================================

def _icp_oracle(final_select: str) -> str:
    from .catalog_r8 import _SEQ_LEN, _km_oracle
    return _km_oracle(f"""
, toks AS (
  SELECT doc_id, greatest(1, (length(text) // 4))::BIGINT AS est_tokens
  FROM documents
), ibase AS (
  SELECT a.vec_id AS doc_id, a.cluster, a.dist_q, t.est_tokens
  FROM af a JOIN toks t ON t.doc_id = a.vec_id
), ipacked AS (
  SELECT doc_id, cluster, dist_q, est_tokens,
         (sum(est_tokens) OVER (PARTITION BY cluster
            ORDER BY dist_q, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - est_tokens)::BIGINT AS tok_offset
  FROM ibase
), imanifest AS (
  SELECT doc_id, cluster, est_tokens, tok_offset,
         (tok_offset // {_SEQ_LEN})::BIGINT AS seq_start,
         ((tok_offset + est_tokens - 1) // {_SEQ_LEN})::BIGINT AS seq_end
  FROM ipacked
)""" + final_select)


@register("t28_icp_pack", oracle=_icp_oracle("""
SELECT doc_id, cluster, est_tokens, tok_offset, seq_start, seq_end
FROM imanifest ORDER BY cluster, tok_offset, doc_id
"""))
def t28_icp_pack(spark: SparkSession, d: str) -> DataFrame:
    """In-Context Pretraining pack manifest (Shi et al. 2023): docs
    are packed into training sequences ORDERED BY SEMANTIC CLUSTER
    — within each frozen k-means cell, a centroid-outward walk
    (dist ASC, doc_id tiebreak) — so the documents sharing a
    context window are related, the property ICP shows improves
    downstream in-context learning.  Same [seq_start, seq_end]
    interval algebra as t18_seq_packing; the shard key changes from
    a hash to the learned cluster, and the within-shard order from
    doc_id to the exact integer centroid distance.

    Scale shape: assignment map-side off centroid literals (g2),
    one window per cluster for the running offsets.  K=4 here makes
    each cluster one window partition — at 100 TB you sub-shard
    within cluster (cluster, bucket) exactly like t18's hash shards
    and lose only cross-bucket adjacency, the same trade t18 makes."""
    from ..functions.text import token_estimate
    from pyspark.sql import Window as W
    from .catalog_r8 import _SEQ_LEN, _km_run
    af, _ = _km_run(spark, d)
    docs = _t(spark, d, "documents").select(
        "doc_id",
        F.greatest(F.lit(1), token_estimate(F.col("text")))
         .alias("est_tokens"))
    base = (af.withColumnRenamed("vec_id", "doc_id")
            .join(docs, "doc_id"))
    w = (W.partitionBy("cluster").orderBy("dist_q", "doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    off = base.withColumn(
        "tok_offset", F.sum("est_tokens").over(w) - F.col("est_tokens"))
    return (off.select(
        "doc_id", "cluster", "est_tokens", "tok_offset",
        F.expr(f"tok_offset div {_SEQ_LEN}").alias("seq_start"),
        F.expr(f"(tok_offset + est_tokens - 1) div {_SEQ_LEN}")
         .alias("seq_end"))
        .orderBy("cluster", "tok_offset", "doc_id"))


@register("t28_icp_adjacency", oracle=_icp_oracle("""
, ipairs AS (
  SELECT cluster AS same_cluster_l, cluster AS same_cluster_r,
         seq_end, lead(seq_start) OVER (PARTITION BY cluster
            ORDER BY tok_offset, doc_id) AS nxt_start
  FROM imanifest
), icount AS (
  SELECT count(*)::BIGINT AS n_pairs,
         count(*)::BIGINT AS n_same
  FROM ipairs WHERE nxt_start IS NOT NULL AND nxt_start <= seq_end
), hbase AS (
  SELECT m.doc_id, m.shard, m.tok_offset, m.seq_start, m.seq_end,
         a.cluster
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || ':shard'), 1, 8))::BIGINT
             % 8 AS shard,
           (sum(greatest(1, (length(text) // 4))) OVER (
              PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR
                || ':shard'), 1, 8))::BIGINT % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - greatest(1, (length(text) // 4)))::BIGINT AS tok_offset,
           ((sum(greatest(1, (length(text) // 4))) OVER (
              PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR
                || ':shard'), 1, 8))::BIGINT % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - greatest(1, (length(text) // 4))) // 2048)::BIGINT
             AS seq_start,
           ((sum(greatest(1, (length(text) // 4))) OVER (
              PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR
                || ':shard'), 1, 8))::BIGINT % 8
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - 1) // 2048)::BIGINT AS seq_end
    FROM documents) m
  JOIN af a ON a.vec_id = m.doc_id
), hpairs AS (
  SELECT cluster, seq_end,
         lead(seq_start) OVER (PARTITION BY shard
            ORDER BY tok_offset, doc_id) AS nxt_start,
         lead(cluster) OVER (PARTITION BY shard
            ORDER BY tok_offset, doc_id) AS nxt_cluster
  FROM hbase
), hcount AS (
  SELECT count(*)::BIGINT AS n_pairs,
         CAST(sum((cluster = nxt_cluster)::INT) AS BIGINT) AS n_same
  FROM hpairs WHERE nxt_start IS NOT NULL AND nxt_start <= seq_end
)
SELECT packing, n_pairs, n_same,
       round(n_same::DOUBLE / greatest(n_pairs, 1)::DOUBLE, 6)
         AS same_cluster_rate
FROM (
  SELECT 'icp' AS packing, n_pairs, n_same FROM icount
  UNION ALL
  SELECT 'hash' AS packing, n_pairs, n_same FROM hcount
) ORDER BY packing
"""))
def t28_icp_adjacency(spark: SparkSession, d: str) -> DataFrame:
    """The measurable claim behind the ICP pack: of the doc pairs
    that end up ADJACENT WITHIN A TRAINING SEQUENCE (next doc
    starts in the sequence the previous one ends), what fraction
    share a semantic cluster — 1.0 by construction for the ICP
    order, vs roughly sum_c share_c^2 for t18's hash sharding.
    Both packings evaluated with the same interval algebra and the
    same frozen cluster layout, so the two rows differ only in the
    pack order."""
    from ..functions.text import token_estimate
    from ..operators.dedup import md5_int32
    from pyspark.sql import Window as W
    from .catalog_r8 import _SEQ_LEN, _km_run

    af, _ = _km_run(spark, d)
    clusters = af.withColumnRenamed("vec_id", "doc_id") \
                 .select("doc_id", "cluster")

    icp = t28_icp_pack(spark, d)
    wi = W.partitionBy("cluster").orderBy("tok_offset", "doc_id")
    ip = (icp.withColumn("nxt_start", F.lead("seq_start").over(wi))
          .filter(F.col("nxt_start").isNotNull()
                  & (F.col("nxt_start") <= F.col("seq_end"))))
    ic = ip.agg(F.count("*").cast("long").alias("n_pairs"),
                F.count("*").cast("long").alias("n_same"))

    docs = _t(spark, d, "documents")
    hbase = (docs.select(
        "doc_id",
        F.greatest(F.lit(1), token_estimate(F.col("text")))
         .alias("est_tokens"),
        F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":shard"))),
               F.lit(8)).alias("shard")))
    wh = (W.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    hman = (hbase.withColumn(
        "tok_offset", F.sum("est_tokens").over(wh) - F.col("est_tokens"))
        .select("doc_id", "shard", "tok_offset",
                F.expr(f"tok_offset div {_SEQ_LEN}").alias("seq_start"),
                F.expr(f"(tok_offset + est_tokens - 1) div {_SEQ_LEN}")
                 .alias("seq_end"))
        .join(clusters, "doc_id"))
    w2 = W.partitionBy("shard").orderBy("tok_offset", "doc_id")
    hp = (hman.withColumn("nxt_start", F.lead("seq_start").over(w2))
          .withColumn("nxt_cluster", F.lead("cluster").over(w2))
          .filter(F.col("nxt_start").isNotNull()
                  & (F.col("nxt_start") <= F.col("seq_end"))))
    hc = hp.agg(F.count("*").cast("long").alias("n_pairs"),
                F.sum((F.col("cluster") == F.col("nxt_cluster"))
                      .cast("long")).cast("long").alias("n_same"))

    rate = F.round(F.col("n_same").cast("double")
                   / F.greatest(F.col("n_pairs"), F.lit(1))
                     .cast("double"), 6).alias("same_cluster_rate")
    return (ic.select(F.lit("icp").alias("packing"), "n_pairs", "n_same",
                      rate)
            .unionByName(
                hc.select(F.lit("hash").alias("packing"), "n_pairs",
                          "n_same", rate))
            .orderBy("packing"))


# ===========================================================================
# Second principal direction by integer DATA deflation: remove each
# row's v1-projection (all truncating-div arithmetic), then run the
# same power loop on the residuals — the rank-2 sketch.
# ===========================================================================

def _pca2_cte() -> str:
    D, VS = _PCA_D, _PCA_VS
    K = _PCA_ITERS
    rng = f"range(1, {D + 1})"
    u0 = "[0, " + f"{VS}::BIGINT" + ", 0" * (D - 2) + "]"
    parts = [_pca_cte() + f"""
, pr AS (
  SELECT vec_id, cv,
         list_sum(list_transform({rng}, i -> cv[i] * v[i])) AS s1
  FROM c CROSS JOIN v{K}
), vv1 AS (
  SELECT CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS vv
  FROM v{K}
), c2 AS MATERIALIZED (
  SELECT p.vec_id,
         list_transform({rng},
                        i -> p.cv[i] - ((p.s1 * v.v[i]) // w.vv)) AS cv
  FROM pr p CROSS JOIN v{K} v CROSS JOIN vv1 w
), u0 AS (
  SELECT {u0} AS v
)"""]
    for k in range(K):
        parts.append(f"""
su{k} AS (
  SELECT vec_id, cv,
         list_sum(list_transform({rng}, i -> cv[i] * v[i])) AS s
  FROM c2 CROSS JOIN u{k}
), wu{k} AS (
  SELECT i, CAST(sum(cv[i] * s) AS BIGINT) AS w
  FROM su{k} CROSS JOIN {rng} t(i) GROUP BY i
), nu{k} AS (
  SELECT greatest(max(abs(w)) // {VS}, 1) AS m FROM wu{k}
), u{k + 1} AS MATERIALIZED (
  SELECT list(w // m ORDER BY i) AS v FROM wu{k} CROSS JOIN nu{k}
)""")
    return "".join(parts[:1]) + ",".join([""] + parts[1:])


@register("g4_pca_power2", oracle=_pca2_cte() + f"""
SELECT CAST(t.i AS BIGINT) AS dim, v1.v[t.i] AS v1_q, u.v[t.i] AS v2_q
FROM v{_PCA_ITERS} v1 CROSS JOIN u{_PCA_ITERS} u
CROSS JOIN range(1, {_PCA_D + 1}) t(i)
ORDER BY dim
""")
def g4_pca_power2(spark: SparkSession, d: str) -> DataFrame:
    """Rank-2 PCA sketch: the second principal direction by integer
    DATA deflation — every row's v1-component is removed with the
    same truncating-division arithmetic (cv' = cv - (s1*v1) div
    |v1|^2, magnitudes bounded well inside BIGINT), then the
    identical power loop runs on the residuals.  Deflating the DATA
    instead of the operator keeps every intermediate at the cv
    scale (operator deflation would need v1*(v1 . A w) products
    ~1e20 — out of BIGINT range).  Output is both directions side
    by side; near-orthogonality is pinned in tests (exact
    orthogonality is impossible on an integer grid — the residual
    projection is < 1 grid unit per coordinate).

    Scale shape: one extra map pass for the deflation; everything
    else is the g4 shape (map + 16-cell partial agg per step)."""
    c, v1 = _pca_frames(spark, d)
    pr = (c.crossJoin(F.broadcast(v1))
          .select("vec_id", "cv", "v",
                  F.aggregate(F.zip_with("cv", "v", lambda a, b: a * b),
                              F.lit(0).cast("long"),
                              lambda acc, x: acc + x).alias("s1")))
    vv1 = v1.select(F.aggregate(F.transform("v", lambda x: x * x),
                                F.lit(0).cast("long"),
                                lambda a, x: a + x).alias("vv"))
    c2 = (pr.crossJoin(F.broadcast(vv1))
          .select("vec_id",
                  F.expr("zip_with(cv, v, (a, b) -> a - ((s1 * b) div vv))")
                   .alias("cv")))
    u = _power_iters(c2, [0, _PCA_VS] + [0] * (_PCA_D - 2))
    return (v1.crossJoin(F.broadcast(u.withColumnRenamed("v", "u")))
            .select(F.posexplode("v").alias("pos", "v1_q"), "u")
            .select((F.col("pos") + 1).cast("long").alias("dim"), "v1_q",
                    F.element_at("u", (F.col("pos") + 1).cast("int"))
                     .alias("v2_q"))
            .orderBy("dim"))


# ===========================================================================
# Top user paths — the event-type 3-gram table (the "common journeys"
# product-analytics read between ev_funnel's fixed steps and
# ev_markov_transitions' one-step matrix).
# ===========================================================================

@register("ev_path_3grams", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT event_type || '>' || e2 || '>' || e3 AS path,
         count(*)::BIGINT AS n
  FROM seq WHERE e3 IS NOT NULL GROUP BY 1
)
SELECT path, n FROM paths ORDER BY n DESC, path LIMIT 10
""")
def ev_path_3grams(spark: SparkSession, d: str) -> DataFrame:
    """Top-10 three-step user journeys: per-user event streams
    (ordered by ts with event_id tiebreak) sliced into overlapping
    event-type 3-grams, counted corpus-wide — the path-analysis
    table between ev_funnel (fixed steps, chosen a priori) and
    ev_markov_transitions (single-step memory): WHICH multi-step
    journeys dominate, discovered rather than declared.

    Scale shape: one user-keyed window (the ev_sessionize shard),
    then a partial-aggregable count on the path string — at most
    |event_types|^3 groups — and TakeOrderedAndProject for the
    top-10."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.filter(F.col("e3").isNotNull())
            .select(F.concat_ws(">", "event_type", "e2", "e3")
                    .alias("path"))
            .groupBy("path").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "path").limit(10))


# ===========================================================================
# Split-leakage audit — the dedup-safe-eval check: duplicate CONTENT
# crossing the train/test boundary leaks eval answers into training
# (the hash split is doc_id-stable, but exact dupes get independent
# draws, so content-level leakage is exactly what must be measured).
# ===========================================================================

@register("t26_split_leakage", oracle=_split_cte() + """
, h AS (
  SELECT a.doc_id, a.split, md5(coalesce(d.text, '')) AS ch
  FROM assigned a JOIN documents d ON d.doc_id = a.doc_id
), train_h AS (
  SELECT DISTINCT ch FROM h WHERE split = 'train'
), test_d AS (
  SELECT doc_id, ch FROM h WHERE split = 'test'
)
SELECT count(*)::BIGINT AS n_test,
       CAST(sum((tr.ch IS NOT NULL)::INT) AS BIGINT) AS n_leaked,
       round(sum((tr.ch IS NOT NULL)::INT)::DOUBLE
             / greatest(count(*), 1)::DOUBLE, 6) AS leak_rate
FROM test_d t LEFT JOIN train_h tr ON tr.ch = t.ch
""")
def t26_split_leakage(spark: SparkSession, d: str) -> DataFrame:
    """Train->test contamination audit for the t26 split: how many
    TEST docs share an exact content hash with any TRAIN doc.  The
    hash split is stable per doc_id, but duplicate content draws
    independently — so without dedup-before-split, eval answers leak
    into training; this is the number a release publishes (and the
    reason dedup keeper election runs before splitting).  Composes
    the t26 manifest with dd_exact's content hash verbatim.

    Scale shape: one scan + a distinct on the train hashes + a
    hash-equi LEFT join from the (10%) test slice — the s15
    anti-join shape, uniform crypto-hash key, no skew."""
    docs = _t(spark, d, "documents")
    assigned = t26_eval_split(spark, d)
    h = (assigned.join(docs.select("doc_id", "text"), "doc_id")
         .select("doc_id", "split",
                 F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("ch")))
    train_h = (h.filter(F.col("split") == "train")
               .select("ch").distinct()
               .withColumnRenamed("ch", "tr_ch"))
    test_d = h.filter(F.col("split") == "test")
    j = test_d.join(train_h, test_d["ch"] == train_h["tr_ch"], "left")
    return j.agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(F.col("tr_ch").isNotNull().cast("long")).cast("long")
         .alias("n_leaked"),
        F.round(F.sum(F.col("tr_ch").isNotNull().cast("long"))
                .cast("double")
                / F.greatest(F.count("*"), F.lit(1)).cast("double"), 6)
         .alias("leak_rate"))


# ===========================================================================
# Streaming CMS ingest — the sketch-mergeability proof: count-min
# cells are pure integer sums, so a crawl can fold each micro-batch's
# partial cells into a persistent sketch and the drained state must
# equal the batch-built sketch bit-for-bit.
# ===========================================================================

def _cms_cells_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
WITH tk AS (
  SELECT unnest(t) AS tok
  FROM (SELECT {OV.tokens_sql('text')} AS t FROM documents)
), cnt AS (
  SELECT tok, count(*)::BIGINT AS n FROM tk GROUP BY tok
), cells AS (
  SELECT CAST(t.j AS INT) AS i,
         ('0x' || substr(md5(tok || ':cms' || t.j::VARCHAR), 1, 8))::BIGINT
           % {_CMS_W} AS bucket,
         CAST(sum(n) AS BIGINT) AS cell_sum
  FROM cnt CROSS JOIN range(0, {_CMS_D}) t(j)
  GROUP BY 1, 2
)
SELECT i, CAST(bucket AS BIGINT) AS bucket, cell_sum
FROM cells ORDER BY i, bucket
"""


def _cms_batch_cells(batch_docs: DataFrame) -> DataFrame:
    """Per-batch CMS cell partials (i, bucket, cell_sum) — the same
    salted arithmetic as a20_heavy_hitters."""
    from ..operators.dedup import md5_int32, tokens
    tk = batch_docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = tk.groupBy("tok").agg(F.count("*").alias("n"))
    b = F.explode(F.array(*[
        F.struct(F.lit(i).cast("int").alias("i"),
                 F.pmod(md5_int32(F.concat(F.col("tok"),
                                           F.lit(f":cms{i}"))),
                        F.lit(_CMS_W)).alias("bucket"))
        for i in range(_CMS_D)])).alias("b")
    return (cnt.select(b, "n")
            .groupBy(F.col("b.i").alias("i"),
                     F.col("b.bucket").alias("bucket"))
            .agg(F.sum("n").cast("long").alias("cell_sum")))


def _cms_fold(spark: SparkSession, store: str, epoch_id: int,
              batch_docs: DataFrame) -> None:
    """Fold one micro-batch's cells into the sketch store: cell sums
    add."""
    from ..sources.tables import fold_version
    fold_version(spark, store, epoch_id, _cms_batch_cells(batch_docs),
                 lambda p, i: (p.unionByName(i).groupBy("i", "bucket")
                               .agg(F.sum("cell_sum").cast("long")
                                    .alias("cell_sum"))))


@register("st_cms_ingest", oracle=_cms_cells_oracle())
def st_cms_ingest(spark: SparkSession, d: str) -> DataFrame:
    """Streaming count-min-sketch maintenance: each micro-batch of the
    paged document tranches folds its partial cells (integer sums over
    the same 3x512 salted-hash grid as a20_heavy_hitters) into a
    versioned sketch store, and the DRAINED sketch must equal the
    batch-built sketch cell for cell — the mergeability property that
    makes CMS the right frequency state for a crawl that never stops
    (and for map-side partial aggregation generally: the merge
    operator IS addition, so the fold is epoch-keyed).

    Scale shape: per-batch state is the batch's own vocabulary-
    capped count table collapsed to <=1,536 cells; the store carries
    only the 1,536-cell sketch regardless of corpus size."""
    import shutil
    from ..session import scratch
    from ..sources.tables import read_version
    from ..streaming import pipeline as SP

    docs = _t(spark, d, "documents")
    store = scratch("st_cms_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        _cms_fold(rows.sparkSession, store, epoch_id,
                  rows.select(F.col("title").alias("text")))

    SP.drain_paged_tranches(spark, "st_cms",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)

    final = read_version(spark, store)
    return final.select("i", F.col("bucket").cast("long").alias("bucket"),
                        "cell_sum").orderBy("i", "bucket")


# ===========================================================================
# Growth accounting — the new/retained/resurrected/churned weekly
# ledger (the flow view that ev_retention_cohorts' stock view can't
# give): every active user classified by their own presence history,
# churn attributed to the week after last activity, right-censored
# at the corpus edge.  Integer week indices (epoch seconds div
# 604800) keep both engines free of date-formatting traps.
# ===========================================================================

@register("ev_growth_accounting", oracle="""
WITH pres AS (
  SELECT DISTINCT user_id,
         (epoch(ts)::BIGINT // 604800)::BIGINT AS wk
  FROM events
), mx AS (
  SELECT max(wk) AS m FROM pres
), seqd AS (
  SELECT user_id, wk,
         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
         lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
  FROM pres
), arr AS (
  SELECT wk,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN prev = wk - 1 THEN 'retained'
              ELSE 'resurrected' END AS st
  FROM seqd
), chn AS (
  SELECT s.wk + 1 AS wk, 'churned' AS st
  FROM seqd s CROSS JOIN mx
  WHERE s.wk < mx.m AND (s.nxt IS NULL OR s.nxt > s.wk + 1)
), allrows AS (
  SELECT wk, st FROM arr UNION ALL SELECT wk, st FROM chn
)
SELECT wk AS week,
       CAST(sum((st = 'new')::INT) AS BIGINT) AS n_new,
       CAST(sum((st = 'retained')::INT) AS BIGINT) AS n_retained,
       CAST(sum((st = 'resurrected')::INT) AS BIGINT) AS n_resurrected,
       CAST(sum((st = 'churned')::INT) AS BIGINT) AS n_churned
FROM allrows GROUP BY wk ORDER BY wk
""")
def ev_growth_accounting(spark: SparkSession, d: str) -> DataFrame:
    """Weekly growth accounting: every (user, week) presence is
    classified against that user's own history — new (first ever
    week), retained (active the week before), resurrected (back
    after a gap) — and churn is booked to the week AFTER a user's
    last activity (right-censored at the corpus's final week, where
    'not yet returned' is not knowable churn).  The flow ledger
    behind every growth dashboard; ev_retention_cohorts gives the
    stock view, ev_dau_mau the intensity — this one explains the
    week-over-week delta exactly: actives(w) - actives(w-1) =
    new + resurrected - churned.

    Scale shape: one distinct (user, week) pass, one user-keyed
    window (the sessionize shard), and a bounded per-week
    conditional aggregate; integer week indices (epoch div 604800)
    sidestep cross-engine date-truncation and rendering entirely."""
    from pyspark.sql import Window as W
    ev = _t(spark, d, "events")
    pres = (ev.select(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 604800")
         .alias("wk")).distinct())
    w = W.partitionBy("user_id").orderBy("wk")
    seqd = (pres.withColumn("prev", F.lag("wk").over(w))
            .withColumn("nxt", F.lead("wk").over(w)))
    arr = seqd.select(
        "wk",
        F.when(F.col("prev").isNull(), "new")
         .when(F.col("prev") == F.col("wk") - 1, "retained")
         .otherwise("resurrected").alias("st"))
    mx = pres.agg(F.max("wk").alias("m"))
    chn = (seqd.crossJoin(F.broadcast(mx))
           .filter((F.col("wk") < F.col("m"))
                   & (F.col("nxt").isNull()
                      | (F.col("nxt") > F.col("wk") + 1)))
           .select((F.col("wk") + 1).alias("wk"),
                   F.lit("churned").alias("st")))
    allrows = arr.unionByName(chn)

    def cnt(name):
        return F.coalesce(F.sum((F.col("st") == name).cast("long")),
                          F.lit(0)).cast("long")

    return (allrows.groupBy(F.col("wk").alias("week"))
            .agg(cnt("new").alias("n_new"),
                 cnt("retained").alias("n_retained"),
                 cnt("resurrected").alias("n_resurrected"),
                 cnt("churned").alias("n_churned"))
            .orderBy("week"))


# ===========================================================================
# Greedy facility-location selection (submodular coverage) — the
# third selection objective next to w5/w8's MMR family: maximize
# how well the WHOLE pool is represented by the selected set
# (sum over pool of max similarity to a selected item), with the
# classic 1-1/e greedy guarantee.  Unrolled-argmax value oracle
# (the w5/w8/flagship convention) over integer-quantized cosines.
# ===========================================================================

_FL_POOL = 20
_FL_K = 4


def _fl_oracle() -> str:
    from . import oracle_sql as O
    from . import oracle_vec as OV
    cos = OV.cosine_sql("ea.embedding", "eb.embedding")
    parts = [f"""
WITH ranked AS (
  SELECT doc_id, round({O.quality_sql('text')}, 6) AS q
  FROM documents
), pool AS (
  SELECT r.doc_id FROM ranked r
  JOIN embeddings e ON e.vec_id = r.doc_id
  ORDER BY r.q DESC, r.doc_id LIMIT {_FL_POOL}
), sim AS MATERIALIZED (
  SELECT a.doc_id AS i, b.doc_id AS j,
         CAST(round({cos} * 1000000.0) AS BIGINT) AS s
  FROM pool a JOIN pool b ON TRUE
  JOIN embeddings ea ON ea.vec_id = a.doc_id
  JOIN embeddings eb ON eb.vec_id = b.doc_id
), sel0 AS (
  SELECT NULL::BIGINT AS i WHERE FALSE
), cov0 AS (
  SELECT doc_id AS j, (-2000000)::BIGINT AS cov FROM pool
)"""]
    for k in range(_FL_K):
        parts.append(f"""
g{k} AS (
  SELECT s.i, CAST(sum(greatest(c.cov, s.s)) AS BIGINT) AS g
  FROM sim s JOIN cov{k} c ON c.j = s.j
  WHERE s.i NOT IN (SELECT i FROM sel{k})
  GROUP BY s.i
), p{k} AS (
  SELECT i, g FROM g{k} ORDER BY g DESC, i LIMIT 1
), sel{k + 1} AS (
  SELECT i FROM sel{k} UNION ALL SELECT i FROM p{k}
), cov{k + 1} AS (
  SELECT c.j, greatest(c.cov, coalesce(s.s, (-2000000)::BIGINT)) AS cov
  FROM cov{k} c LEFT JOIN sim s
    ON s.j = c.j AND s.i = (SELECT i FROM p{k})
)""")
    steps = " UNION ALL ".join(
        f"SELECT {k + 1} AS step, i AS doc_id, g AS objective FROM p{k}"
        for k in range(_FL_K))
    return ",".join(parts) + f"""
SELECT CAST(step AS BIGINT) AS step, doc_id, objective
FROM ({steps}) ORDER BY step
"""


@register("w11_facility_location", oracle=_fl_oracle())
def w11_facility_location(spark: SparkSession, d: str) -> DataFrame:
    """Greedy facility-location selection: from the top-20-quality
    candidate pool, pick 4 docs maximizing the COVERAGE objective
    sum_j max_{i in S} sim(i, j) — every pool member as close as
    possible to something selected (the representative-subset
    objective of submodular data-selection literature, with the
    greedy 1-1/e guarantee), versus w5/w8's MMR which trades
    relevance against redundancy of the selected set only.
    Cosines are quantized to 1e-6 BIGINTs BEFORE the coverage sums,
    so every gain comparison is an exact integer and the unrolled
    argmax chain (the w5/w8 oracle convention) is engine-identical;
    the emitted objective is monotone nondecreasing and each step's
    marginal gain shrinks (submodularity — pinned in tests).

    Scale shape: pool selection is TakeOrdered over the corpus; the
    greedy loop runs on the POOL-sized (20x20) similarity matrix —
    constant work regardless of corpus size (the pool cap is the
    scale knob, as in every submodular-selection deployment)."""
    from ..functions import text as X
    from ..functions.vector import cosine, to_double_array
    docs = _t(spark, d, "documents")
    emb = _t(spark, d, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        to_double_array(F.col("embedding")).alias("emb"))
    ranked = docs.select(
        "doc_id",
        F.round(X.quality_components(F.col("text"))["quality_score"], 6)
         .alias("q"))
    pool = (ranked.join(emb, "doc_id")
            .orderBy(F.desc("q"), "doc_id").limit(_FL_POOL)
            .select("doc_id", "emb"))
    a = pool.select(F.col("doc_id").alias("i"), F.col("emb").alias("ea"))
    b = pool.select(F.col("doc_id").alias("j"), F.col("emb").alias("eb"))
    sim = (a.crossJoin(b)
           .select("i", "j",
                   F.round(cosine(F.col("ea"), F.col("eb"))
                           * F.lit(1000000.0)).cast("long").alias("s")))
    cov = pool.select(F.col("doc_id").alias("j"),
                      F.lit(-2000000).cast("long").alias("cov"))
    sel = None
    picks = []
    for k in range(_FL_K):
        cand = sim if sel is None else sim.join(
            F.broadcast(sel), sim["i"] == sel["si"], "left_anti")
        g = (cand.join(F.broadcast(cov), "j")
             .groupBy("i")
             .agg(F.sum(F.greatest(F.col("cov"), F.col("s")))
                  .cast("long").alias("g")))
        p = g.orderBy(F.desc("g"), "i").limit(1)
        picks.append(p.select(F.lit(k + 1).cast("long").alias("step"),
                              F.col("i").alias("doc_id"),
                              F.col("g").alias("objective")))
        psel = p.select(F.col("i").alias("si"))
        sel = psel if sel is None else sel.unionByName(psel)
        upd = (sim.join(F.broadcast(psel), sim["i"] == psel["si"])
               .select("j", "s"))
        cov = (cov.join(upd, "j", "left")
               .select("j", F.greatest(
                   F.col("cov"),
                   F.coalesce(F.col("s"), F.lit(-2000000).cast("long")))
                   .alias("cov")))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("step")


# ===========================================================================
# Vocabulary-growth (Heaps'-law) curve — how fast distinct tokens
# accumulate with corpus size: the number a tokenizer-budget (and
# any "will the vocab table still broadcast at 100 TB" argument)
# actually rests on.  Exact prefix vocabulary sizes WITHOUT any
# cumulative-distinct pass: a token enters the vocabulary at its
# FIRST document, so prefix counts are conditional sums over the
# per-token min(doc_id) table.
# ===========================================================================

_HEAPS_KS = [50, 100, 200, 300, 400, 500]


def _heaps_oracle() -> str:
    from . import oracle_vec as OV
    ks = ", ".join(str(k) for k in _HEAPS_KS)
    return f"""
WITH tk AS (
  SELECT doc_id, unnest(t) AS tok
  FROM (SELECT doc_id, {OV.tokens_sql('text')} AS t FROM documents)
), firsts AS (
  SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok
), toktot AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM tk GROUP BY doc_id
)
SELECT k.k AS n_docs,
       (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM toktot
        WHERE doc_id < k.k) AS n_tokens,
       (SELECT count(*)::BIGINT FROM firsts
        WHERE first_doc < k.k) AS vocab_size
FROM (SELECT unnest([{ks}]) AS k) k
ORDER BY n_docs
"""


@register("ta_heaps_curve", oracle=_heaps_oracle())
def ta_heaps_curve(spark: SparkSession, d: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: exact distinct-token
    counts over doc_id prefixes (50..500 docs) next to the token
    mass of each prefix — the empirical V(n) ~ K n^beta curve that
    prices tokenizer vocab budgets and validates every 'the vocab
    table is broadcast-sized' claim this repo's LM operators make
    (DSIR, NB, perplexity, backoff).  No cumulative-distinct scan:
    a token joins the vocabulary at its FIRST doc, so each prefix
    vocabulary is one conditional sum over the per-token
    min(doc_id) table.

    Scale shape: one token pass into two partial-aggregable tables
    (per-token min, per-doc count), then a 6-row prefix readout —
    at 100 TB the min-table is vocabulary-sized and the curve costs
    the same one scan."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    tk = docs.select("doc_id", F.explode(tokens(F.col("text")))
                     .alias("tok"))
    firsts = tk.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    toktot = tk.groupBy("doc_id").agg(F.count("*").alias("n"))
    fa = firsts.agg(*[
        F.sum((F.col("first_doc") < k).cast("long")).cast("long")
         .alias(f"v{k}") for k in _HEAPS_KS])
    ta = toktot.agg(*[
        F.coalesce(F.sum(F.when(F.col("doc_id") < k, F.col("n"))),
                   F.lit(0)).cast("long").alias(f"t{k}")
        for k in _HEAPS_KS])
    row = fa.crossJoin(F.broadcast(ta))
    return (row.select(F.explode(F.array(*[
        F.struct(F.lit(k).cast("long").alias("n_docs"),
                 F.col(f"t{k}").alias("n_tokens"),
                 F.col(f"v{k}").alias("vocab_size"))
        for k in _HEAPS_KS])).alias("r"))
        .select("r.*").orderBy("n_docs"))


# ===========================================================================
# Mixture tuning — the loop above t19/t24: sweep the temperature
# alpha over {0, .25, .5, .75, 1}, measure each achieved mix's L1
# distance to the uniform target from EXACT integers, and flag the
# argmin.  General alphas need pow, which is not correctly-rounded —
# so the keep rate goes through round(exp((1-a)*ln(m/n)) * 1e6)
# (the t17 6dp-quantize trick) before the integer threshold.
# ===========================================================================

_MIX_ALPHAS = [0.0, 0.25, 0.5, 0.75, 1.0]


def _t29_oracle() -> str:
    alphas = ", ".join(repr(a) for a in _MIX_ALPHAS)
    return f"""
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR || ':amix'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
), per_src AS (
  SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source
), mn AS (
  SELECT min(n_s) AS m FROM per_src
), sc AS (
  SELECT count(*)::BIGINT AS s FROM per_src
), th AS (
  SELECT p.source, a.alpha,
         CAST(round(exp((1.0::DOUBLE - a.alpha)
                        * ln(mn.m::DOUBLE / p.n_s::DOUBLE))
                    * 1000000.0) AS BIGINT) AS thresh
  FROM per_src p CROSS JOIN mn
  CROSS JOIN (SELECT unnest([{alphas}]::DOUBLE[]) AS alpha) a
), kept AS (
  SELECT t.alpha, b.source
  FROM b JOIN th t USING (source) WHERE b.bucket < t.thresh
), ks AS (
  SELECT alpha, source, count(*)::BIGINT AS nk
  FROM kept GROUP BY alpha, source
), kk AS (
  SELECT t.alpha, t.source, coalesce(k.nk, 0)::BIGINT AS nk
  FROM th t LEFT JOIN ks k ON k.alpha = t.alpha AND k.source = t.source
), tot AS (
  SELECT alpha, CAST(sum(nk) AS BIGINT) AS nt FROM kk GROUP BY alpha
), l1 AS (
  SELECT k.alpha, t.nt,
         CAST(sum(abs(k.nk * sc.s - t.nt)) AS BIGINT) AS num
  FROM kk k JOIN tot t ON t.alpha = k.alpha CROSS JOIN sc
  GROUP BY k.alpha, t.nt
), best AS (
  SELECT alpha FROM l1
  ORDER BY num::DOUBLE / nt::DOUBLE, alpha LIMIT 1
)
SELECT l.alpha, l.nt AS n_kept,
       round(l.num::DOUBLE / (sc.s * l.nt)::DOUBLE, 6) AS l1_to_uniform,
       (l.alpha = b.alpha) AS is_best
FROM l1 l CROSS JOIN sc CROSS JOIN best b
ORDER BY l.alpha
"""


@register("t29_mix_tuning", oracle=_t29_oracle())
def t29_mix_tuning(spark: SparkSession, d: str) -> DataFrame:
    """Mixture-tuning sweep: the t19/t24 temperature knob evaluated
    at alpha in {0, .25, .5, .75, 1} on the SAME deterministic
    buckets (nested samples — a doc kept at a lower threshold stays
    kept at a higher one), scoring each achieved mix by L1 distance
    to the uniform target computed from exact integers
    (sum_s |S * kept_s - kept_total|, one double division at the
    end) and flagging the argmin.  This is the outer loop a mixture
    recipe actually runs; general alphas route through the
    6dp-quantized exp((1-a) ln(m/n)) keep rate because pow is not a
    correctly-rounded primitive (the t24 docstring's caveat made
    operational).

    Scale shape: a sources x 5 threshold table broadcast back; one
    scan of the corpus scores all five alphas at once (the accept
    is per-row integer compares); per-alpha counts partial-agg."""
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    b = docs.select(
        "source",
        F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":amix"))),
               F.lit(1000000)).alias("bucket"))
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    mn = per_src.agg(F.min("n_s").alias("m"))
    sc = per_src.agg(F.count("*").cast("long").alias("s"))
    alphas = (docs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(a).cast("double")
                            for a in _MIX_ALPHAS])).alias("alpha")))
    th = (per_src.crossJoin(F.broadcast(mn))
          .crossJoin(F.broadcast(alphas))
          .select("source", "alpha",
                  F.round(F.exp((F.lit(1.0) - F.col("alpha"))
                                * F.log(F.col("m").cast("double")
                                        / F.col("n_s").cast("double")))
                          * F.lit(1000000.0)).cast("long").alias("thresh")))
    kept = (b.join(F.broadcast(th), "source")
            .filter(F.col("bucket") < F.col("thresh"))
            .select("alpha", "source"))
    ks = kept.groupBy("alpha", "source").agg(F.count("*").alias("nk"))
    kk = (th.select("alpha", "source")
          .join(ks, ["alpha", "source"], "left")
          .select("alpha", "source",
                  F.coalesce("nk", F.lit(0)).cast("long").alias("nk")))
    tot = kk.groupBy("alpha").agg(F.sum("nk").cast("long").alias("nt"))
    l1 = (kk.join(tot, "alpha").crossJoin(F.broadcast(sc))
          .groupBy("alpha", "nt")
          .agg(F.sum(F.abs(F.col("nk") * F.col("s") - F.col("nt")))
               .cast("long").alias("num")))
    best = (l1.orderBy(F.col("num").cast("double")
                       / F.col("nt").cast("double"), "alpha")
            .limit(1).select(F.col("alpha").alias("ba")))
    return (l1.crossJoin(F.broadcast(sc)).crossJoin(F.broadcast(best))
            .select("alpha", F.col("nt").alias("n_kept"),
                    F.round(F.col("num").cast("double")
                            / (F.col("s") * F.col("nt")).cast("double"), 6)
                     .alias("l1_to_uniform"),
                    (F.col("alpha") == F.col("ba")).alias("is_best"))
            .orderBy("alpha"))
