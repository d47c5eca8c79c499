"""Round-11 catalog entries.

VERDICT r10 task list: metric-level fidelity gates for the
approximate kNN graph (g_ivf_fidelity — what 6% missing edges do to
the census/components/PPR a user actually reads, VERDICT #2), the
gated approx-NDV twin of the stats table (s32_analyze_stats_approx,
VERDICT #3), the streaming funnel (st_funnel, VERDICT #5), the
whitening operator that makes the isotropy card actionable
(m6_whiten_embeddings, VERDICT #6), and the one-scan release-audit
card (cc_release_audit, VERDICT #7).  VERDICT #1 (the IVF crossover)
and #4 (the kmv_pure tier) are ledger/operator work in
operators/similarity.py and scripts/stress_bench.py.

"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register
from ..session import materialize


# ===========================================================================
# Metric-level fidelity gates for the approximate graph (VERDICT r10
# #2): g_knn_edges_ivf_recall certifies the edge SET (0.94/0.96 vs
# floor 0.9); this card certifies the DOWNSTREAM READS — triangle
# census, component structure, PPR top-k — over the IVF store against
# the exact store, value-oracling every exact-derivable number.
# ===========================================================================

# floors, from measured deltas at the gated probe point (16 cells,
# probe 8; sf0.001 / sf0.01): triangle rel err 0.19 / 0.14 (IVF counts
# MORE triangles — the cross-cell neighbors it loses are the
# long-range edges, and their in-cell replacements close more
# wedges); clustering-coefficient abs delta 0.0050 / 0.0029;
# components identical; PPR top-20 overlap 18/20 / 17/20.
_TRI_TOL_NUM, _TRI_TOL_DEN = 1, 4      # |tri_ivf - tri| / tri <= 1/4
_CC_TOL = 0.02                         # |cc_ivf - cc| <= 0.02
_PPR_OVERLAP_FLOOR = 0.75              # |top-k ∩| / |top-k exact|


def _fidelity_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r10 import _PPR_ITERS, _PPR_SEED, _PPR_TOP
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    parts = [f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM nb
), deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node
), tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM und e1 JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
), cc AS (
  SELECT round((SELECT n_triangles FROM tri)::DOUBLE * 3
               / (SELECT sum(deg * (deg - 1) // 2) FROM deg)::DOUBLE, 6)
    AS clustering
), gedges AS (
  SELECT u AS src, v AS dst FROM und UNION SELECT v, u FROM und
), reach(src, dst) AS (
  SELECT src, dst FROM gedges
  UNION SELECT r.src, g.dst FROM reach r JOIN gedges g ON g.src = r.dst
), ncomp AS (
  SELECT count(DISTINCT component)::BIGINT AS n_components FROM (
    SELECT em.vec_id,
           least(em.vec_id, coalesce(min(r.dst), em.vec_id)) AS component
    FROM embeddings em LEFT JOIN reach r ON r.src = em.vec_id
    GROUP BY em.vec_id)
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
    parts.append(f""", ppr AS (
  SELECT count(*)::BIGINT AS n_top FROM (
    SELECT vec_id FROM r{_PPR_ITERS} WHERE r > 0
    ORDER BY r DESC, vec_id LIMIT {_PPR_TOP})
)
SELECT metric, exact_q, floor_met FROM (
  SELECT 'clustering_coef' AS metric,
         (SELECT clustering FROM cc) AS exact_q, TRUE AS floor_met
  UNION ALL
  SELECT 'components', (SELECT n_components FROM ncomp)::DOUBLE, TRUE
  UNION ALL
  SELECT 'ppr_top{_PPR_TOP}_overlap', (SELECT n_top FROM ppr)::DOUBLE,
         TRUE
  UNION ALL
  SELECT 'triangles', (SELECT n_triangles FROM tri)::DOUBLE, TRUE
) ORDER BY metric
""")
    return "".join(parts)


@register("g_ivf_fidelity", oracle=_fidelity_oracle())
def g_ivf_fidelity(spark: SparkSession, d: str) -> DataFrame:
    """Metric-level robustness gates for the IVF-built graph store
    (VERDICT r10 #2): g_knn_edges_ivf_recall certifies that the
    approximate store recovers >= 0.9 of the exact EDGES, but a user
    never reads edges — they read the census, the component structure,
    and the PPR ranking.  This card runs each of those reads over BOTH
    stores at the gated operating point (16 cells, probe 8) and gates
    the deltas: triangle count within 25% relative (measured 19%/14% —
    the IVF store counts MORE triangles: the cross-cell neighbors it
    loses are long-range edges whose in-cell replacements close more
    wedges), global clustering coefficient within 0.02 absolute
    (measured 0.005), component count within max(1, 10%) (measured
    identical — cell boundaries do not fragment the manifold at k=5
    symmetrization), PPR top-20 overlap >= 0.75 (measured 0.90/0.85).

    Every exact-side number is value-oracled (DuckDB recomputes the
    census, the recursive-closure component count, and the 4-iteration
    BIGINT PPR chain); the IVF-side deltas are floored — the
    dd_semdedup_recall pattern lifted from the edge level to the
    metric level, which is what the graph family's 100 TB story
    actually needs: the exact build is infeasible there, so these
    floors are the contract the IVF swap ships under.

    Scale shape: both stores come from operators/knn_graph.py
    (build-once parquet; the IVF build is the candidate-bounded
    ivf_knn_join); every read over them is k-bounded joins + tiny
    aggregates; star contraction is O(log^2 n) rounds."""
    from ..operators.dedup import connected_components
    from ..operators.knn_graph import knn_nb, knn_und
    from .catalog_r10 import _PPR_TOP, _ppr_rank
    from .catalog_r9 import _census_from_und
    emb = _t(spark, d, "embeddings")
    ids = emb.select("vec_id")
    ue = knn_und(spark, d)
    ui = knn_und(spark, d, method="ivf")
    ce = _census_from_und(ue).select(
        F.col("n_triangles").alias("tri_e"),
        F.col("global_clustering").alias("cc_e"))
    ci = _census_from_und(ui).select(
        F.col("n_triangles").alias("tri_i"),
        F.col("global_clustering").alias("cc_i"))

    def n_components(und: DataFrame, name: str) -> DataFrame:
        pairs = und.select(F.col("u").alias("id_a"),
                           F.col("v").alias("id_b"))
        return (connected_components(pairs, ids, id_col="vec_id")
                .agg(F.countDistinct("component").alias(name)))

    comp_e = n_components(ue, "comp_e")
    comp_i = n_components(ui, "comp_i")
    te = _ppr_rank(emb, knn_nb(spark, d)).select("vec_id")
    ti = _ppr_rank(emb, knn_nb(spark, d, method="ivf")).select("vec_id")
    ovl = te.join(ti, "vec_id").agg(F.count("*").alias("n_overlap"))
    nte = te.agg(F.count("*").alias("n_top_e"))
    base = (ce.crossJoin(F.broadcast(ci))
            .crossJoin(F.broadcast(comp_e))
            .crossJoin(F.broadcast(comp_i))
            .crossJoin(F.broadcast(ovl))
            .crossJoin(F.broadcast(nte)))
    # integer-exact gates wherever the metric is an integer
    tri_ok = (F.abs(F.col("tri_i") - F.col("tri_e")) * _TRI_TOL_DEN
              <= F.col("tri_e") * _TRI_TOL_NUM)
    cc_ok = F.abs(F.col("cc_i") - F.col("cc_e")) <= _CC_TOL
    comp_ok = (F.abs(F.col("comp_i") - F.col("comp_e"))
               <= F.greatest(F.lit(1).cast("long"),
                             F.expr("comp_e div 10")))
    ppr_ok = (F.col("n_overlap").cast("double")
              / F.col("n_top_e").cast("double") >= _PPR_OVERLAP_FLOOR)
    rows = F.array(
        F.struct(F.lit("clustering_coef").alias("metric"),
                 F.col("cc_e").cast("double").alias("exact_q"),
                 cc_ok.alias("floor_met")),
        F.struct(F.lit("components").alias("metric"),
                 F.col("comp_e").cast("double").alias("exact_q"),
                 comp_ok.alias("floor_met")),
        F.struct(F.lit(f"ppr_top{_PPR_TOP}_overlap").alias("metric"),
                 F.col("n_top_e").cast("double").alias("exact_q"),
                 ppr_ok.alias("floor_met")),
        F.struct(F.lit("triangles").alias("metric"),
                 F.col("tri_e").cast("double").alias("exact_q"),
                 tri_ok.alias("floor_met")))
    return (base.select(F.explode(rows).alias("r")).select("r.*")
            .orderBy("metric"))


# ===========================================================================
# Gated approx-NDV twin of the stats table (VERDICT r10 #3): the last
# docstring-only sketch swap becomes compiled, gated code
# ===========================================================================

_S32_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
_S32_RSD = 0.02          # HLL++ relative standard deviation knob
_S32_NDV_TOL = 0.05      # |approx - exact| / exact gate (2.5 sigma)


def _s32_stats_r11(spark: SparkSession, d: str,
                   ndv: str = "both") -> DataFrame:
    """The s32 one-scan stats table with the NDV mode as a knob:
    ndv='both' is the gated catalog form (exact NDV value-oracled,
    HLL++ estimate checked against it in-plan); ndv='approx' is the
    form a 100 TB run compiles — approx_count_distinct ONLY, no exact
    distinct aggregate anywhere in the plan (pinned by
    tests/test_catalog_r11.py)."""
    o = _t(spark, d, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for i, c in enumerate(_S32_COLS, 1):
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
                 F.approx_count_distinct(F.col(c), _S32_RSD)
                  .alias(f"na{i}"),
                 mn.alias(f"mn{i}"), mx.alias(f"mx{i}")]
        if ndv == "both":
            aggs.append(F.count_distinct(F.col(c)).alias(f"nd{i}"))
    a = o.agg(*aggs)

    def row(i, c):
        fields = [F.lit(c).alias("col"),
                  F.col("n_rows").alias("n_rows"),
                  F.col(f"nn{i}").alias("n_nulls")]
        if ndv == "both":
            fields += [
                F.col(f"nd{i}").alias("ndv"),
                F.col(f"mn{i}").alias("min_v"),
                F.col(f"mx{i}").alias("max_v"),
                (F.abs(F.col(f"na{i}") - F.col(f"nd{i}")).cast("double")
                 <= F.col(f"nd{i}").cast("double") * _S32_NDV_TOL)
                .alias("ndv_ok")]
        else:
            fields += [F.col(f"na{i}").alias("ndv"),
                       F.col(f"mn{i}").alias("min_v"),
                       F.col(f"mx{i}").alias("max_v")]
        return F.struct(*fields)

    return (a.select(F.explode(F.array(
        *[row(i, c) for i, c in enumerate(_S32_COLS, 1)])).alias("r"))
        .select("r.*").orderBy("col"))


def _s32_approx_oracle() -> str:
    from .registry import CATALOG
    base = CATALOG["s32_analyze_stats"].oracle
    return base.replace(
        "SELECT col, n_rows, n_nulls, ndv, min_v, max_v FROM (",
        "SELECT col, n_rows, n_nulls, ndv, min_v, max_v, "
        "TRUE AS ndv_ok FROM (")


@register("s32_analyze_stats_approx", oracle=_s32_approx_oracle)
def s32_analyze_stats_approx(spark: SparkSession, d: str) -> DataFrame:
    """The approx-NDV knob for the ANALYZE stats table, gated
    a10-style (VERDICT r10 #3 — s32's docstring promised the
    approx_count_distinct swap; this entry compiles it): per column
    of `orders`, the EXACT NDV is value-oracled (DuckDB recomputes
    it) and the HLL++ estimate (rsd 0.02) must land within 5%
    relative — ndv_ok is the in-plan audit, per column.

    Why it matters at 100 TB: count(DISTINCT col) per column is a
    shuffle of every distinct value of every profiled column through
    one aggregation path per column; approx_count_distinct carries a
    fixed few-KB HLL++ register set per column that partial-aggregates
    map-side, so the whole stats table costs ONE ordinary two-phase
    scan regardless of column cardinality.  The CBO consumer
    (Selinger a17) tolerates 5% NDV error by design — selectivity
    estimates are order-of-magnitude tools.

    The pure-approx form (_s32_stats_r11 ndv='approx') compiles NO
    exact distinct aggregate — pinned by plan inspection in
    tests/test_catalog_r11.py."""
    return _s32_stats_r11(spark, d, ndv="both")


# ===========================================================================
# Whitening: close the isotropy loop (VERDICT r10 #6) — remove the
# top principal direction g4 already computes ("all-but-the-top",
# Mu & Viswanath 2018 / Ethayarajh 2019), BIGINT-exact
# ===========================================================================

def _m6_oracle() -> str:
    from .catalog_r8b import _PCA_D, _PCA_ITERS, _pca_cte
    D, IT = _PCA_D, _PCA_ITERS
    rng = f"range(1, {D} + 1)"
    return _pca_cte() + f""", jw AS MATERIALIZED (
  SELECT c.vec_id, c.cv, vt.v,
         list_sum(list_transform({rng}, i -> c.cv[i] * vt.v[i])) AS s,
         list_sum(list_transform(vt.v, x -> x * x)) AS vvq
  FROM c CROSS JOIN v{IT} vt
), wf AS MATERIALIZED (
  SELECT vec_id, cv, v, s, vvq,
         list_transform({rng}, i -> cv[i] - ((s * v[i]) // vvq)) AS w
  FROM jw
), resid AS (
  SELECT CAST(sum((s // 1000) * (s // 1000)) AS BIGINT) AS before_q,
         CAST(sum((wv // 1000) * (wv // 1000)) AS BIGINT) AS resid_q
  FROM (SELECT s,
               list_sum(list_transform({rng}, i -> w[i] * v[i])) AS wv
        FROM wf)
), pb AS (
  SELECT CAST(round(
    list_sum(list_transform({rng},
      i -> a.cv[i]::DOUBLE * b.cv[i]::DOUBLE))
    / sqrt(list_sum(list_transform(a.cv, x -> x::DOUBLE * x::DOUBLE)))
    / sqrt(list_sum(list_transform(b.cv, x -> x::DOUBLE * x::DOUBLE)))
    * 1000000) AS BIGINT) AS cq
  FROM wf a JOIN wf b ON b.vec_id = a.vec_id + 1
  WHERE list_sum(list_transform(a.cv, x -> x * x)) > 0
    AND list_sum(list_transform(b.cv, x -> x * x)) > 0
), pa AS (
  SELECT CAST(round(
    list_sum(list_transform({rng},
      i -> a.w[i]::DOUBLE * b.w[i]::DOUBLE))
    / sqrt(list_sum(list_transform(a.w, x -> x::DOUBLE * x::DOUBLE)))
    / sqrt(list_sum(list_transform(b.w, x -> x::DOUBLE * x::DOUBLE)))
    * 1000000) AS BIGINT) AS cq
  FROM wf a JOIN wf b ON b.vec_id = a.vec_id + 1
  WHERE list_sum(list_transform(a.w, x -> x * x)) > 0
    AND list_sum(list_transform(b.w, x -> x * x)) > 0
)
SELECT (SELECT count(*) FROM wf)::BIGINT AS n_vectors,
       (SELECT before_q FROM resid) AS before_q,
       (SELECT resid_q FROM resid) AS resid_q,
       (SELECT resid_q * 100 <= before_q FROM resid) AS removed_ok,
       round((SELECT sum(cq) FROM pb)::DOUBLE
             / (SELECT count(*) FROM pb)::DOUBLE / 1000000, 6)
         AS anis_before,
       round((SELECT sum(cq) FROM pa)::DOUBLE
             / (SELECT count(*) FROM pa)::DOUBLE / 1000000, 6)
         AS anis_after
"""


@register("m6_whiten_embeddings", headline=True,
          oracle=_m6_oracle())
def m6_whiten_embeddings(spark: SparkSession, d: str) -> DataFrame:
    """All-but-the-top whitening (Mu & Viswanath 2018 / Ethayarajh
    2019, public — VERDICT r10 #6): mean-center the 16-dim serving
    slice and project out the top principal direction g4_pca_power
    already computes, making the m5 anisotropy card ACTIONABLE
    instead of observational.  Everything stays on the BIGINT grid:
    the centered store cv is 1e-4-grid longs, the direction v is the
    converged power-iteration frame, and each whitened coordinate is
    w_i = cv_i - (cv·v * v_i) div (v·v) — one truncating integer
    division per cell, identical in both engines, so the whitened
    corpus, the removal invariant AND the before/after pair-cosine
    card are all value-oracled.

    The gate is the mathematical invariant, not a data hope:
    removing the projection must kill the variance ALONG v —
    removed_ok pins sum((w·v) div 1000)^2 <= 1% of the pre-removal
    sum((cv·v) div 1000)^2 (measured ~6e-7: truncation residue
    only).  anis_before/anis_after are the m5 consecutive-pair mean
    cosines over cv and w; on THIS near-isotropic hash corpus they
    sit near 0 and barely move (|anis| < 0.03 both sides) — the
    honest reading, stated here so the card is not oversold: the
    operator's value shows on anisotropic encoder outputs
    (Ethayarajh measures mean-cos > 0.5 on GPT-2), where removing v1
    collapses the common-direction mass by construction.

    Scale shape: v is a 1-row broadcast; whitening is one map over
    the narrow centered store (built once, catalog_r8b._pca_centered);
    the pair chain is the m5 vec_id+1 equi-join; every aggregate is a
    few-cell partial agg."""
    from .catalog_r8b import _pca_frames
    c, v = _pca_frames(spark, d)
    # v is referenced from four subtrees (removal, residual, both
    # anisotropy sides); since the r15 Gram collapse it is a LITERAL
    # 1-row frame (_power_iters runs the iterations driver-side on the
    # one-pass Gram matrix), so the old per-iteration scheduling floor
    # is gone and each subtree re-reads only the narrow centered store.
    # r16: every HOF tree below is handed to the SQL parser as one
    # string — the lambda-Column form cost ~0.5-0.8 s of py4j round
    # trips per build (the g4 Gram finding, guide §1.2 step 2 applied
    # to plan construction); the parsed expressions are the identical
    # Catalyst nodes (pinned value-equal in tests/test_catalog_r11.py::
    # test_m6_expr_parse_equals_lambda_columns).
    j = c.crossJoin(F.broadcast(v))
    s = F.expr("aggregate(zip_with(cv, v, (a, b) -> a * b), "
               "cast(0 as bigint), (acc, x) -> acc + x)")
    vv = F.expr("aggregate(transform(v, x -> x * x), "
                "cast(0 as bigint), (a, x) -> a + x)")
    # six subtrees (the count, the residual, both sides of each
    # anisotropy pair-join) read the whitened frame: one whiten map
    wf = materialize(
        j.withColumn("s", s).withColumn("vvq", vv)
        .withColumn("w", F.expr(
            "zip_with(cv, v, (cvi, vi) -> cvi - ((s * vi) div vvq))")),
        "m6:whitened")
    wv = F.expr("aggregate(zip_with(w, v, (a, b) -> a * b), "
                "cast(0 as bigint), (acc, x) -> acc + x)")
    resid = (wf.withColumn("wv", wv)
             .agg(F.sum(F.expr("(s div 1000) * (s div 1000)"))
                  .cast("long").alias("before_q"),
                  F.sum(F.expr("(wv div 1000) * (wv div 1000)"))
                  .cast("long").alias("resid_q")))

    def anis(col: str, name: str) -> DataFrame:
        sq = F.expr(f"aggregate(transform({col}, x -> x * x), "
                    "cast(0 as bigint), (a, x) -> a + x)")
        side = wf.select("vec_id", F.col(col).alias("vc"),
                         sq.alias("sq"))
        a = side.select(F.col("vec_id").alias("ia"),
                        F.col("vc").alias("va"), F.col("sq").alias("qa"))
        b = side.select((F.col("vec_id") - 1).alias("ia"),
                        F.col("vc").alias("vb"), F.col("sq").alias("qb"))
        dot = F.expr(
            "aggregate(zip_with(va, vb, (x, y) -> cast(x as double) "
            "* cast(y as double)), cast(0 as double), "
            "(acc, x) -> acc + x)")
        na = F.expr(
            "sqrt(aggregate(transform(va, x -> cast(x as double) "
            "* cast(x as double)), cast(0 as double), "
            "(acc, x) -> acc + x))")
        nb = F.expr(
            "sqrt(aggregate(transform(vb, x -> cast(x as double) "
            "* cast(x as double)), cast(0 as double), "
            "(acc, x) -> acc + x))")
        p = (a.join(b, "ia")
             .filter((F.col("qa") > 0) & (F.col("qb") > 0))
             .select(F.round(dot / na / nb * 1000000).cast("long")
                     .alias("cq")))
        return p.agg(F.round(F.sum("cq").cast("double")
                             / F.count("*").cast("double") / 1000000, 6)
                     .alias(name))

    n = wf.agg(F.count("*").alias("n_vectors"))
    return (n.crossJoin(F.broadcast(resid))
            .crossJoin(F.broadcast(anis("cv", "anis_before")))
            .crossJoin(F.broadcast(anis("w", "anis_after")))
            .select("n_vectors", "before_q", "resid_q",
                    (F.col("resid_q") * 100 <= F.col("before_q"))
                    .alias("removed_ok"),
                    "anis_before", "anis_after"))


# ===========================================================================
# One-scan release-audit card (VERDICT r10 #7): the four round-10
# audits a release manager reads together, as one exploded frame
# ===========================================================================

_AUDIT_RISK_MAX = 0.05      # k-anonymity at-risk row share policy
_AUDIT_ANIS_MAX = 0.1       # |mean pair cosine| policy
_AUDIT_CLUMP_SLACK = 0.05   # curriculum same-bucket rate vs doc_id +
_AUDIT_CORR_MAX = 0.5       # |quality-length correlation| policy
# r13 rows (VERDICT r12 #5): LSH recall audited on a deterministic
# 1-in-m md5 doc stratum — the a24 key-sampling shape dd_minhash_pr's
# own docstring names as the 100 TB form (the full exact pair set is
# corpus-sized even through the r14 inverted index — ~30 s at
# sf0.1 and growing with the corpus, which no release card can
# carry); the
# drift and EWMA policies are the dq9/dq10 ones.  Since r14 the
# modulus m DERIVES from the corpus count (VERDICT r13 #1 — the
# derived_n_lists pattern): smallest power of two with
# m * _AUDIT_MH_TARGET >= n, so the stratum lands in
# (_AUDIT_MH_TARGET/2, _AUDIT_MH_TARGET] docs at ANY corpus size —
# fixed audit cost AND fixed estimator variance, where the r13
# hard-coded m=4 made the exact verify O(n^2/16), quadratic at 100 TB.
_AUDIT_MH_RECALL_MIN = 0.9
_AUDIT_MH_TARGET = 2048


def audit_stratum_mod(n_docs: int) -> int:
    """Corpus-size-derived stratum modulus: smallest power of two m
    with m * _AUDIT_MH_TARGET >= n_docs.  Resolves to 1 below the
    target (the whole corpus IS the stratum — exact P/R, no sampling),
    4 at sf0.1's 5000 docs (the r13 operating point, unchanged there),
    and ~n/2048 rounded up to a power of two beyond — the stratum size
    is bounded by the target forever, so the O(stratum^2)-worst-case
    exact verify is a CONSTANT audit budget, not a corpus tax."""
    m = 1
    while m * _AUDIT_MH_TARGET < n_docs:
        m *= 2
    return m


def _pr_mod_sql() -> str:
    """DuckDB twin of audit_stratum_mod as a scalar subquery — the
    modulus derives from the SAME corpus count on both engines, so the
    stratum stays replay-identical without a shared hard-coded knob."""
    return (f"(SELECT min(CAST(power(2, g.g) AS BIGINT)) "
            f"FROM generate_series(0, 48) g(g) "
            f"WHERE CAST(power(2, g.g) AS BIGINT) * {_AUDIT_MH_TARGET} "
            f">= (SELECT count(*) FROM documents))")


def _pr_stratum_cte() -> str:
    """The prdocs CTE body both stratum oracles share."""
    return f"""
  SELECT doc_id, text FROM documents
  WHERE (('0x' || substr(md5('pr:' || doc_id::VARCHAR), 1, 8))::BIGINT)
        % {_pr_mod_sql()} = 0
"""


def pr_stratum(spark: SparkSession, d: str) -> DataFrame:
    """The deterministic md5 document stratum at the derived modulus —
    md5('pr:' || doc_id) is content- and ingest-order-independent, so
    the stratum reads as an unbiased doc sample under the usual
    exchangeability argument, and both engines replay it exactly (no
    sampling RNG — the repo's seedless-hash convention).  The modulus
    costs one parquet-footer count."""
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents").select("doc_id", "text")
    mod = audit_stratum_mod(docs.count())
    return docs.filter(
        F.pmod(md5_int32(F.concat(F.lit("pr:"),
                                  F.col("doc_id").cast("string"))),
               F.lit(mod)) == 0)


def pr_stratum_counts(spark: SparkSession, d: str,
                      threshold: float = 0.8) -> DataFrame:
    """ONE implementation of the stratum P/R counts (VERDICT r13 #6 —
    cc_release_audit's minhash_lsh_recall row and dd_minhash_pr_sampled
    both consume this helper instead of rebuilding the banding + exact
    pairs independently): a 1-row frame (n_stratum, n_candidates,
    n_true_pos, n_exact).  Candidates come from the production LSH
    plan at verify-threshold 0; the exact denominator comes from the
    INVERTED-INDEX exact join (operators/dedup.py::
    ngram_jaccard_pairs_index — sum-of-freq^2 cost, not the
    nested-loop O(stratum^2) enumeration the r13 card paid)."""
    # the stratum is bounded (~2k docs) by the derived modulus; its three
    # consumers (banding, exact index join, count) read it, not the scan
    return pr_counts_from(materialize(pr_stratum(spark, d), "pr:stratum"),
                          threshold=threshold)


def pr_counts_from(strat: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The P/R counts tail over an ALREADY-MATERIALIZED stratum frame
    (doc_id, text) — split from pr_stratum_counts so the streaming
    release audit (st_release_audit, plans/catalog_r14.py) can run
    the identical arithmetic over its drained stratum registry."""
    from ..operators.dedup import (minhash_dedup_pairs,
                                   ngram_jaccard_pairs_index)

    cand = (minhash_dedup_pairs(strat, threshold=0.0)
            .agg(F.count("*").cast("long").alias("n_candidates"),
                 F.coalesce(F.sum((F.col("jaccard") >= threshold)
                                  .cast("int")), F.lit(0))
                 .cast("long").alias("n_true_pos")))
    # prefix_filter=False: the stratum is BOUNDED (~2k docs by the
    # derived modulus), so even a worst-case all-boilerplate stratum
    # caps the unguarded enumeration at shingles x 2048^2 — a bounded
    # constant at any corpus scale; the unguarded one-join form is
    # the documented cheapest plan on bounded frames, and the r15
    # hot-shingle guard (collapse + PPJoin prefix) stays on the
    # FULL-CORPUS consumers where a megacluster is unbounded
    ex = (ngram_jaccard_pairs_index(strat, threshold=threshold,
                                    prefix_filter=False)
          .agg(F.count("*").cast("long").alias("n_exact")))
    ns = strat.agg(F.count("*").cast("long").alias("n_stratum"))
    return ns.crossJoin(F.broadcast(cand)).crossJoin(F.broadcast(ex))


def audit_doc_groups(docs: DataFrame) -> DataFrame:
    """Per-(source, lang, len_bucket) integer sums (n, sx, sy, sxy,
    sxx, syy) — the ONE grouped scan the card's two documents-side
    audits (dq8 risk census + t44 correlation) share.  Every cell is
    a distributive sum, so the frame is MERGEABLE BY ADDITION across
    batches — exactly the state st_release_audit (catalog_r14)
    maintains through checkpointed tranches."""
    from ..functions import text as X
    q = docs.select(
        "source", "lang", F.expr("n_chars div 100").alias("len_bucket"),
        F.round(X.quality_components(F.col("text"))["quality_score"]
                * 1000000).cast("long").alias("x"),
        F.round(F.log(F.greatest(F.col("n_chars"), F.lit(1))
                      .cast("double")) * 1000).cast("long").alias("y"))
    return (q.groupBy("source", "lang", "len_bucket")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("x").cast("long").alias("sx"),
                 F.sum("y").cast("long").alias("sy"),
                 F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
                 F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
                 F.sum(F.col("y") * F.col("y")).cast("long").alias("syy")))


def audit_risk_corr(g: DataFrame) -> DataFrame:
    """1-row (risk, corr) finish off the group table — shared by the
    batch card and the streaming drain (the k-anonymity cutoff is
    nonlinear in the group count, so it must run on the FULLY-merged
    groups; the correlation moments are corpus sums of group sums)."""
    from .catalog_r10 import _KANON_K
    riskn = F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(F.lit(0))
    both = g.agg(
        F.round(F.sum(riskn).cast("double")
                / F.sum("n").cast("double"), 6).alias("risk"),
        F.sum("n").cast("long").alias("cn"),
        F.sum("sx").cast("long").alias("csx"),
        F.sum("sy").cast("long").alias("csy"),
        F.sum("sxy").cast("long").alias("csxy"),
        F.sum("sxx").cast("long").alias("csxx"),
        F.sum("syy").cast("long").alias("csyy"))
    # r16 (found by the 10x stress tier, which CRASHED here): the
    # moment products overflow BIGINT at corpus scale — cn ~ 5e4 docs
    # with quality-scaled sxx ~ 5e16 already puts cn*csxx ~ 2.5e21
    # past 2^63 (ANSI long-multiply exception).  The products run in
    # decimal(38,0) — exact 128-bit integer arithmetic, the same
    # HUGEINT class the DuckDB oracle uses — which is bit-identical
    # at oracle SFs (a decimal->double and a long->double cast round
    # the SAME integer to the same double) and exact to ~1e11 docs
    # (n^2 * 1e12 <= 1e38).  Same fix at the two sibling sites
    # (t44_quality_length_corr, ta_zipf_fit).
    def _d(c: str) -> Column:
        return F.col(c).cast("decimal(38,0)")

    num = (_d("cn") * _d("csxy") - _d("csx") * _d("csy"))
    dx = (_d("cn") * _d("csxx") - _d("csx") * _d("csx"))
    dy = (_d("cn") * _d("csyy") - _d("csy") * _d("csy"))
    return both.select(
        "risk",
        F.round(num.cast("double") / F.sqrt(dx.cast("double"))
                / F.sqrt(dy.cast("double")), 6).alias("corr"))


def _audit_oracle() -> str:
    from . import oracle_vec as OV
    from .registry import CATALOG
    from .catalog_r12 import _DQ9_L2_MAX, _DQ9_VR_HI, _DQ9_VR_LO
    m5 = CATALOG["m5_embedding_isotropy"].oracle
    dq8 = CATALOG["dq8_kanonymity"].oracle
    t43 = CATALOG["t43_order_clumping"].oracle
    t44 = CATALOG["t44_quality_length_corr"].oracle
    dq9 = CATALOG["dq9_embedding_drift"].oracle_text()
    dq10 = CATALOG["dq10_ewma_chart"].oracle_text()
    mhc = OV.minhash_pairs_sql(threshold=0.0, source="prdocs")
    exs = OV.ngram_pairs_index_sql(threshold=0.8, source="prdocs")
    return f"""
WITH t43v AS MATERIALIZED ({t43}),
d9 AS ({dq9}),
d10 AS MATERIALIZED ({dq10}),
prdocs AS MATERIALIZED ({_pr_stratum_cte()}), mh AS MATERIALIZED (
  SELECT (SELECT count(*) FROM ({mhc}) WHERE jaccard >= 0.8)::BIGINT
           AS tp,
         (SELECT count(*) FROM ({exs}))::BIGINT AS nex
),
vals AS (
  SELECT
    (SELECT anisotropy FROM ({m5})) AS anis,
    (SELECT risk_share FROM ({dq8})) AS risk,
    (SELECT same_bucket_rate FROM t43v
     WHERE ordering = 'curriculum') AS cur_rate,
    (SELECT same_bucket_rate FROM t43v
     WHERE ordering = 'doc_id') AS nat_rate,
    (SELECT quality_length_corr FROM ({t44})) AS corr,
    (SELECT centroid_l2 FROM d9) AS drift_l2,
    (SELECT var_ratio FROM d9) AS drift_vr,
    (SELECT ewma FROM d10 ORDER BY day DESC LIMIT 1) AS ewma_last,
    (SELECT bool_or(ooc) FROM d10) AS any_ooc,
    (SELECT round(tp::DOUBLE / greatest(nex, 1)::DOUBLE, 6) FROM mh)
      AS mh_recall,
    (SELECT nex FROM mh) AS mh_nex
)
SELECT audit, value_q, flag_ok FROM (
  SELECT 'isotropy' AS audit, anis AS value_q,
         abs(anis) <= {_AUDIT_ANIS_MAX} AS flag_ok FROM vals
  UNION ALL
  SELECT 'kanonymity_risk', risk, risk <= {_AUDIT_RISK_MAX} FROM vals
  UNION ALL
  SELECT 'order_clumping', cur_rate,
         cur_rate <= nat_rate + {_AUDIT_CLUMP_SLACK} FROM vals
  UNION ALL
  SELECT 'quality_length_bias', corr,
         abs(corr) <= {_AUDIT_CORR_MAX} FROM vals
  UNION ALL
  SELECT 'embedding_drift', drift_l2,
         drift_l2 <= {_DQ9_L2_MAX}
         AND drift_vr BETWEEN {_DQ9_VR_LO} AND {_DQ9_VR_HI} FROM vals
  UNION ALL
  SELECT 'error_rate_ewma', ewma_last, NOT any_ooc FROM vals
  UNION ALL
  SELECT 'minhash_lsh_recall', mh_recall,
         mh_recall >= {_AUDIT_MH_RECALL_MIN} OR mh_nex = 0 FROM vals
) ORDER BY audit
"""


@register("cc_release_audit", headline=True,
          oracle=_audit_oracle)
def cc_release_audit(spark: SparkSession, d: str) -> DataFrame:
    """One release-audit card (VERDICT r10 #7, widened r13 per r12
    #5): the four round-10 audits — k-anonymity risk share (dq8),
    embedding anisotropy (m5), training-order clumping (t43) and
    quality-length bias (t44) — PLUS the three r12 monitors:
    embedding drift (dq9 card, policy = the same _DQ9_L2_MAX /
    var-ratio bounds that gate cc_ingest_delta's publish stage),
    error-rate EWMA (dq10, policy = no out-of-control day in the
    horizon), and MinHash-LSH recall on a deterministic md5 doc
    stratum at the DERIVED modulus (VERDICT r13 #1: smallest power of
    two m with m * 2048 >= corpus count, so the stratum is a bounded
    ~2k docs at ANY scale — m=1 at sf0.01, m=4 at sf0.1, ~n/2048 at
    100 TB — where the r13 hard-coded m=4 made the verify O(n^2/16));
    the exact denominator runs through the inverted-index exact join
    (ngram_jaccard_pairs_index), and the whole row reads the SAME
    pr_stratum_counts helper dd_minhash_pr_sampled wraps (VERDICT r13
    #6 — one stratum implementation, not two).  The row passes
    vacuously when the stratum holds no exact pair, stated here.
    One row per audit with its headline number and a pass/flag
    against a stated policy.  pytest cross-checks every row equals
    its standalone entry (tests/test_catalog_r11.py,
    tests/test_catalog_r13.py).

    The documents-side audits share ONE grouped scan: the
    quasi-identifier groupBy carries the t44 correlation moments as
    extra cells (sums over QI groups of group sums == corpus sums —
    distributive aggregates), so risk census AND correlation both
    derive from the same small group table instead of two corpus
    scans.  t43 reads the w12 curriculum manifest (its own ordered
    scan — inherently an ordering audit); m5 reads embeddings.

    What the flags show on THIS corpus is the card doing its job:
    kanonymity_risk flags RED (0.884 at-risk share at sf0.01 — a
    500-row corpus cannot 5-anonymize a 297-cell identifier grid;
    the release action is coarsening the length bucket) and
    quality_length_bias flags RED (corr -0.84: the quality score
    strongly ANTI-correlates with length here — short documents score
    high, the inverse of the classic failure mode, and exactly the
    bias t44 exists to surface); isotropy and order_clumping pass.
    Both engines compute the same flags, so the card is value-oracled
    red-and-green alike.

    Scale shape: every branch is partial-aggregable or
    manifest-bounded; the card itself is 4 rows."""
    docs = _t(spark, d, "documents")
    from .catalog_r10 import (m5_embedding_isotropy,  # noqa: F401
                              t43_order_clumping)
    from .catalog_r12 import _dq9_card, _dq9_moments, dq10_ewma_chart

    # the SHARED stratum frame (VERDICT r13 #6): the card's recall
    # row reads the same helper dd_minhash_pr_sampled wraps — one
    # implementation of the banding + exact verify, derived
    # modulus (VERDICT r13 #1), inverted-index exact join
    mh = (pr_stratum_counts(spark, d, threshold=0.8)
          .select(F.round(F.col("n_true_pos").cast("double")
                          / F.greatest("n_exact", F.lit(1))
                          .cast("double"), 6).alias("mh_recall"),
                  F.col("n_exact").alias("mh_nex")))
    both = audit_risk_corr(audit_doc_groups(docs))
    rates = t43_order_clumping(spark, d).agg(
        F.max(F.when(F.col("ordering") == "curriculum",
                     F.col("same_bucket_rate"))).alias("cur_rate"),
        F.max(F.when(F.col("ordering") == "doc_id",
                     F.col("same_bucket_rate"))).alias("nat_rate"))
    m5f = m5_embedding_isotropy(spark, d).select("anisotropy")
    drift = (_dq9_card(_dq9_moments(_t(spark, d, "embeddings")))
             .select(F.col("centroid_l2").alias("drift_l2"),
                     F.col("var_ratio").alias("drift_vr")))
    ew = dq10_ewma_chart(spark, d).agg(
        F.max_by("ewma", "day").alias("ewma_last"),
        F.bool_or("ooc").alias("any_ooc"))
    return audit_card_assemble(both, m5f, rates, drift, ew, mh)


def audit_card_assemble(both: DataFrame, m5f: DataFrame,
                        rates: DataFrame, drift: DataFrame,
                        ew: DataFrame, mh: DataFrame) -> DataFrame:
    """The 7-row card finish from the six 1-row monitor frames —
    shared by the batch card and the streaming drain (identical
    policy constants, identical flags; st_release_audit equals
    cc_release_audit BY CONSTRUCTION once the monitor frames do)."""
    from .catalog_r12 import _DQ9_L2_MAX, _DQ9_VR_HI, _DQ9_VR_LO
    base = (both.crossJoin(F.broadcast(m5f))
            .crossJoin(F.broadcast(rates))
            .crossJoin(F.broadcast(drift))
            .crossJoin(F.broadcast(ew))
            .crossJoin(F.broadcast(mh)))
    rows = F.array(
        F.struct(F.lit("isotropy").alias("audit"),
                 F.col("anisotropy").alias("value_q"),
                 (F.abs(F.col("anisotropy")) <= _AUDIT_ANIS_MAX)
                 .alias("flag_ok")),
        F.struct(F.lit("kanonymity_risk").alias("audit"),
                 F.col("risk").alias("value_q"),
                 (F.col("risk") <= _AUDIT_RISK_MAX).alias("flag_ok")),
        F.struct(F.lit("order_clumping").alias("audit"),
                 F.col("cur_rate").alias("value_q"),
                 (F.col("cur_rate")
                  <= F.col("nat_rate") + _AUDIT_CLUMP_SLACK)
                 .alias("flag_ok")),
        F.struct(F.lit("quality_length_bias").alias("audit"),
                 F.col("corr").alias("value_q"),
                 (F.abs(F.col("corr")) <= _AUDIT_CORR_MAX)
                 .alias("flag_ok")),
        F.struct(F.lit("embedding_drift").alias("audit"),
                 F.col("drift_l2").alias("value_q"),
                 ((F.col("drift_l2") <= _DQ9_L2_MAX)
                  & (F.col("drift_vr") >= _DQ9_VR_LO)
                  & (F.col("drift_vr") <= _DQ9_VR_HI)).alias("flag_ok")),
        F.struct(F.lit("error_rate_ewma").alias("audit"),
                 F.col("ewma_last").alias("value_q"),
                 (~F.col("any_ooc")).alias("flag_ok")),
        F.struct(F.lit("minhash_lsh_recall").alias("audit"),
                 F.col("mh_recall").alias("value_q"),
                 ((F.col("mh_recall") >= _AUDIT_MH_RECALL_MIN)
                  | (F.col("mh_nex") == 0)).alias("flag_ok")))
    return (base.select(F.explode(rows).alias("r")).select("r.*")
            .orderBy("audit"))


# ===========================================================================
# Streaming funnel (VERDICT r10 #5): the staged-conversion twin of
# ev_funnel — session_window state, two out-of-order tranches,
# checkpoint resume, drained conversions == batch row for row
# ===========================================================================

def _st_funnel_oracle() -> str:
    from .registry import CATALOG
    return CATALOG["ev_funnel"].oracle


@register("st_funnel", oracle=_st_funnel_oracle)
def st_funnel(spark: SparkSession, d: str) -> DataFrame:
    """Watermarked streaming funnel with CHECKPOINT RESUME (VERDICT
    r10 #5 — the event-analytics member after st_sessionize): events
    arrive as a file-source stream in two time-split tranches (so
    sessions spanning the split MUST be merged by the session_window
    state across the two checkpointed drains), the stateful plan is
    session_window(ts, '30 min') under a 2-hour watermark in APPEND
    mode collecting each session's (ts, event_id, event_type) triples
    — state is exactly the open-session frontier, which is what
    bounds memory on an unbounded feed — and a far-future sentinel
    advances the watermark past every real session to flush the full
    closed set.  The staged conversion is then computed on the CLOSED
    sessions with pure array expressions: first view = min view ts,
    first click = min click ts AT-OR-AFTER the first view, first
    purchase = min purchase ts at-or-after the first click (null
    propagation makes a stage without its predecessor impossible by
    construction).  The drained totals must equal batch ev_funnel
    row for row — this oracle IS ev_funnel's (the lag+prefix-sum
    sessionization + order-constrained conditional mins in DuckDB),
    so the streaming path is fully value-oracled.

    Why the tranche split can't lose data: tranche 2's events all sit
    at or after the split instant, while the watermark after tranche
    1 is max(t1) - 2 h < split — nothing arrives late beyond the
    watermark (the st_sessionize argument, same machinery).

    At 100 TB/day this is the production funnel: per-batch work is
    the batch's own events + open-frontier state keyed by (user,
    session); per-session state is that session's event triples
    (bounded by session length, not stream length); conversions
    append to the sink and the final counters are a partial agg over
    closed sessions."""
    import datetime as _dt
    import shutil

    from ..streaming import pipeline as SP
    from ..session import scratch

    raw = spark.read.parquet(f"{d}/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    nts = (F.timestamp_micros(F.expr("ts div 1000"))
           if ts_type == "bigint" else F.col("ts").cast("timestamp"))
    mm = raw.agg(F.min(nts).alias("lo"), F.max(nts).alias("hi")).first()
    split = mm["lo"] + (mm["hi"] - mm["lo"]) / 2
    sent_dt = mm["hi"] + _dt.timedelta(hours=10)
    sent_col = ((F.unix_micros(F.lit(sent_dt).cast("timestamp"))
                 * F.lit(1000)).cast("bigint")
                if ts_type == "bigint"
                else F.lit(sent_dt).cast(ts_type))

    sdir = scratch("st_funnel_stream")
    store = scratch("st_funnel_store")
    ckpt = scratch("st_funnel_ckpt")
    for p in (sdir, store, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    SP.ship_parquet(raw.filter(nts <= F.lit(split)), sdir, "t1")

    def drain() -> None:
        stream = spark.readStream.schema(raw.schema).parquet(sdir)
        ev = (SP.normalize_event_ts(stream)
              .withWatermark("ts", "2 hours"))
        sess = (ev.groupBy(F.session_window("ts", "30 minutes")
                           .alias("w"), "user_id")
                .agg(F.collect_list(
                    F.struct(F.col("ts"), F.col("event_id"),
                             F.col("event_type"))).alias("evs")))

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(store)

        SP._run_foreach(sess, sink, ckpt)

    drain()
    SP.ship_parquet(raw.filter(nts > F.lit(split)), sdir, "t2")
    drain()
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

    closed = (spark.read.parquet(store)
              .filter(F.col("user_id") != -1))
    fv = F.array_min(F.expr(
        "transform(filter(evs, e -> e.event_type = 'view'), "
        "e -> e.ts)"))
    staged = closed.withColumn("fv", fv)
    fc = F.array_min(F.expr(
        "transform(filter(evs, e -> e.event_type = 'click' "
        "AND e.ts >= fv), e -> e.ts)"))
    staged = staged.withColumn("fc", fc)
    fp = F.array_min(F.expr(
        "transform(filter(evs, e -> e.event_type = 'purchase' "
        "AND e.ts >= fc), e -> e.ts)"))
    staged = staged.withColumn("fp", fp)
    return staged.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("fv").isNotNull().cast("long")).alias("n_view"),
        F.sum(F.col("fc").isNotNull().cast("long"))
         .alias("n_view_click"),
        F.sum(F.col("fp").isNotNull().cast("long"))
         .alias("n_view_click_purchase"))


# ===========================================================================
# Rolling windowed DISTINCT via KMV merge — the calendar composition
# of the bounded-state sketch family: per-day k-minimum sets merged
# across a 7-day window (union-then-recap is a semilattice, so the
# k smallest of the union of per-day k-sets IS the window's k-minimum
# set — no accuracy lost to pre-aggregation)
# ===========================================================================

_RD_K = 64
_RD_WIN = 7          # rolling window, days
_RD_SP = float(1 << 60)


def _rolling_distinct_oracle() -> str:
    K, SP = _RD_K, int(1 << 60)
    est = (f"CASE WHEN s.n_keep < {K} THEN s.n_keep "
           f"ELSE CAST(round(({K} - 1) * {SP}::DOUBLE "
           f"/ s.theta_k::DOUBLE) AS BIGINT) END")
    return f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), u AS (SELECT DISTINCT day, h FROM ev),
daily AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM u) WHERE rn <= {K}
), days AS (SELECT DISTINCT day FROM u),
win AS (
  SELECT d.day, x.h FROM days d JOIN daily x
    ON x.day BETWEEN d.day - {_RD_WIN - 1} AND d.day
  GROUP BY d.day, x.h
), kept AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM win) WHERE rn <= {K}
), sk AS (
  SELECT day, count(*)::BIGINT AS n_keep, max(h)::BIGINT AS theta_k
  FROM kept GROUP BY day
), ex AS (
  SELECT d.day, count(DISTINCT x.h)::BIGINT AS exact_rolling
  FROM days d JOIN u x ON x.day BETWEEN d.day - {_RD_WIN - 1} AND d.day
  GROUP BY d.day
)
SELECT CAST(s.day AS VARCHAR) AS day, e.exact_rolling,
       s.n_keep, s.theta_k,
       {est} AS est_rolling,
       round(abs({est} - e.exact_rolling)::DOUBLE
             / e.exact_rolling::DOUBLE, 6) AS rel_err
FROM sk s JOIN ex e USING (day) ORDER BY day
"""


@register("ev_rolling_distinct_kmv", oracle=_rolling_distinct_oracle())
def ev_rolling_distinct_kmv(spark: SparkSession, d: str) -> DataFrame:
    """Rolling 7-day distinct users per day — the windowed-NDV read
    (daily/weekly active users) that is a classic scale wall: exact
    rolling COUNT(DISTINCT) re-touches every event in the window for
    every day.  The scale path composes two things the engine already
    certifies: per-day KMV k-minimum sets (bounded state, a30) and
    the union-then-recap semilattice (a31) — because the k smallest
    of a union of per-day k-minimum sets IS the window's k-minimum
    set, the rolling sketch merges DAYS-SIZED inputs (7 x k rows per
    output day), never events.  No prefilter here, so the degenerate
    branch (window NDV < k) is EXACT by construction — n_keep is the
    answer, not an estimate.

    Everything is deterministic md5 arithmetic, so per-day sets, the
    merged theta, the estimate, the exact twin AND rel_err are all
    value-oracled (the a30 gate pattern on the calendar axis).

    Scale shape: one corpus scan to distinct (day, user-hash) —
    map-side partial distinct; per-day k-min is a day-bounded window;
    the rolling merge is a calendar-bounded range join over
    days x 7 x k rows.  The exact twin (the audit column) is the only
    event-scale window read, and at 100 TB a run drops it — the
    sketch column is the product, rel_err ~1/sqrt(k-2)."""
    from .catalog_r9 import _h60
    ev = _t(spark, d, "events")
    from pyspark.sql import Window as W
    u = (ev.select(
            F.date_trunc("day", F.col("ts").cast("timestamp"))
             .cast("date").alias("day"),
            _h60(F.col("user_id").cast("string")).alias("h"))
         .distinct())
    w_day = W.partitionBy("day").orderBy("h")
    daily = (u.withColumn("rn", F.row_number().over(w_day))
             .filter(F.col("rn") <= _RD_K).select("day", "h"))
    days = u.select("day").distinct().withColumnRenamed("day", "d")
    win = (daily.join(F.broadcast(days),
                      (F.col("day") >= F.date_sub(F.col("d"),
                                                  _RD_WIN - 1))
                      & (F.col("day") <= F.col("d")))
           .select(F.col("d").alias("day"), "h").distinct())
    kept = (win.withColumn("rn", F.row_number().over(w_day))
            .filter(F.col("rn") <= _RD_K))
    sk = kept.groupBy("day").agg(
        F.count("*").cast("long").alias("n_keep"),
        F.max("h").alias("theta_k"))
    ex = (u.join(F.broadcast(days),
                 (F.col("day") >= F.date_sub(F.col("d"), _RD_WIN - 1))
                 & (F.col("day") <= F.col("d")))
          .groupBy(F.col("d").alias("day"))
          .agg(F.countDistinct("h").alias("exact_rolling")))
    est = (F.when(F.col("n_keep") < _RD_K, F.col("n_keep"))
           .otherwise(F.round((_RD_K - 1) * F.lit(_RD_SP)
                              / F.col("theta_k").cast("double"))
                      .cast("long")))
    return (sk.join(ex, "day")
            .select(F.col("day").cast("string").alias("day"),
                    "exact_rolling", "n_keep", "theta_k",
                    est.alias("est_rolling"),
                    F.round(F.abs(est - F.col("exact_rolling"))
                            .cast("double")
                            / F.col("exact_rolling").cast("double"), 6)
                     .alias("rel_err"))
            .orderBy("day"))


# ===========================================================================
# Neighborhood function via mergeable per-node sketches (ANF /
# HyperBall) — graph-distance structure at sketch cost: iterative
# family member #9, composing the KMV family with the shared graph
# store
# ===========================================================================

_HB_K = 16
_HB_H = 3


def _hyperball_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r8b import _LP_K
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    K, SP = _HB_K, int(1 << 60)
    parts = [f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
), nb AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cos} DESC, b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn <= {_LP_K}
), und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM nb
), ged AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und UNION SELECT v, u FROM und
), s0 AS MATERIALIZED (
  SELECT vec_id AS node,
         ('0x' || substr(md5('hb:' || vec_id::VARCHAR), 1, 15))::BIGINT
           AS h
  FROM e
), b0 AS MATERIALIZED (
  SELECT vec_id AS node, vec_id AS m FROM e
)"""]
    for r in range(1, _HB_H + 1):
        parts.append(f""", su{r} AS (
  SELECT node, h FROM s{r - 1}
  UNION
  SELECT g.src AS node, s.h FROM ged g JOIN s{r - 1} s ON s.node = g.dst
), s{r} AS MATERIALIZED (
  SELECT node, h FROM (
    SELECT node, h, row_number() OVER (PARTITION BY node ORDER BY h)
      AS rn
    FROM su{r}) WHERE rn <= {K}
), b{r} AS MATERIALIZED (
  SELECT node, m FROM b{r - 1}
  UNION
  SELECT g.src, b.m FROM ged g JOIN b{r - 1} b ON b.node = g.dst
), hop{r} AS (
  SELECT {r}::BIGINT AS hop,
    (SELECT CAST(sum(cnt) AS BIGINT) FROM (
       SELECT node, count(*) AS cnt FROM b{r} GROUP BY node)) AS nf_exact,
    (SELECT CAST(sum(est) AS BIGINT) FROM (
       SELECT node,
              CASE WHEN count(*) < {K} THEN count(*)
                   ELSE CAST(round(({K} - 1) * {SP}::DOUBLE
                                   / max(h)::DOUBLE) AS BIGINT)
              END AS est
       FROM s{r} GROUP BY node)) AS nf_est
)""")
    hops = "\nUNION ALL\n".join(
        f"SELECT * FROM hop{r}" for r in range(1, _HB_H + 1))
    parts.append(f"""
SELECT hop, nf_exact, nf_est,
       round(abs(nf_est - nf_exact)::DOUBLE / nf_exact::DOUBLE, 6)
         AS rel_err
FROM ({hops}) ORDER BY hop
""")
    return "".join(parts)


@register("g12_neighborhood_function", oracle=_hyperball_oracle())
def g12_neighborhood_function(spark: SparkSession, d: str) -> DataFrame:
    """Neighborhood function N(h) of the symmetrized 5-NN graph via
    MERGEABLE PER-NODE SKETCHES — the ANF / HyperBall algorithm
    (Palmer et al. 2002; Boldi & Vigna 2011, public) with the KMV
    sketch the engine already certifies standing in for their
    Flajolet-Martin/HLL registers: every node carries the k smallest
    hashes of the node ids within h hops, and one round of
    "absorb your neighbors' sketches, re-cap to k" advances every
    ball radius by one — union-then-recap is the a31 semilattice, so
    the per-node state is k rows FOREVER while exact ball membership
    grows with the ball.  N(h) = sum over nodes of |ball(v, h)| is
    the distance-structure read (effective diameter, median distance,
    expansion rate) that exact all-pairs BFS cannot produce at scale.

    Iterative family member #9, and the composition capstone of the
    sketch family: a30 proved bounded state on the corpus axis,
    ev_rolling_distinct_kmv on the calendar axis, this entry on the
    GRAPH axis.  All hashes are deterministic md5 arithmetic, so the
    per-hop sketch states, the estimates AND the exact twin are fully
    value-oracled (DuckDB re-walks the identical h unrolled rounds).
    Nodes whose ball is still smaller than k report EXACT counts by
    construction (the k-min set of a < k set is the set).

    Scale shape: each round is one k-bounded edge join (<= 2kn edge
    rows x k sketch rows), a distinct, and a per-node top-k window
    over <= (deg+1) x k rows — never a ball-sized or corpus-sized
    group.  The exact twin b{{r}} (the audit column) is the part a
    100 TB run drops: its state IS the ball membership, which is the
    quadratic-ish wall ANF exists to avoid."""
    from pyspark.sql import Window as W
    from .catalog_r9 import _h60
    from ..operators.knn_graph import knn_und
    emb = _t(spark, d, "embeddings")
    und = knn_und(spark, d)
    ged = (und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
           .unionByName(und.select(F.col("v").alias("src"),
                                   F.col("u").alias("dst"))))
    s = emb.select(
        F.col("vec_id").alias("node"),
        _h60(F.concat(F.lit("hb:"), F.col("vec_id").cast("string")))
        .alias("h"))
    b = emb.select(F.col("vec_id").alias("node"),
                   F.col("vec_id").alias("m"))
    w_node = W.partitionBy("node").orderBy("h")
    est = (F.when(F.col("n_keep") < _HB_K, F.col("n_keep"))
           .otherwise(F.round((_HB_K - 1) * F.lit(float(1 << 60))
                              / F.col("theta_k").cast("double"))
                      .cast("long")))
    out = None
    for r in range(1, _HB_H + 1):
        absorbed = (ged.join(s.withColumnRenamed("node", "dst"), "dst")
                    .select(F.col("src").alias("node"), "h"))
        # bounded lineage: hop r reads hop r-1's sketch and exact sets
        s = materialize(s.unionByName(absorbed).distinct()
                        .withColumn("rn", F.row_number().over(w_node))
                        .filter(F.col("rn") <= _HB_K).select("node", "h"),
                        "g12:sketch_round")
        babs = (ged.join(b.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"), "m"))
        b = materialize(b.unionByName(babs).distinct(), "g12:exact_round")
        per_node = s.groupBy("node").agg(
            F.count("*").cast("long").alias("n_keep"),
            F.max("h").alias("theta_k"))
        nf_est = per_node.agg(F.sum(est).cast("long").alias("nf_est"))
        nf_exact = (b.groupBy("node").agg(F.count("*").alias("cnt"))
                    .agg(F.sum("cnt").cast("long").alias("nf_exact")))
        row = (nf_exact.crossJoin(F.broadcast(nf_est))
               .select(F.lit(r).cast("long").alias("hop"),
                       "nf_exact", "nf_est",
                       F.round(F.abs(F.col("nf_est")
                                     - F.col("nf_exact")).cast("double")
                               / F.col("nf_exact").cast("double"), 6)
                        .alias("rel_err")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("hop")


# ===========================================================================
# Streaming rolling-distinct maintenance — the calendar-axis member
# of the streaming-summary family (corpus axis: st_kmv_ingest; graph
# axis: st_knn_edges; now the per-day sketch registry a DAU/WAU
# dashboard reads)
# ===========================================================================

def _st_rolling_oracle() -> str:
    K, SP = _RD_K, int(1 << 60)
    est = (f"CASE WHEN s.n_keep < {K} THEN s.n_keep "
           f"ELSE CAST(round(({K} - 1) * {SP}::DOUBLE "
           f"/ s.theta_k::DOUBLE) AS BIGINT) END")
    return f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), u AS (SELECT DISTINCT day, h FROM ev),
daily AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM u) WHERE rn <= {K}
), days AS (SELECT DISTINCT day FROM u),
win AS (
  SELECT d.day, x.h FROM days d JOIN daily x
    ON x.day BETWEEN d.day - {_RD_WIN - 1} AND d.day
  GROUP BY d.day, x.h
), kept AS (
  SELECT day, h FROM (
    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM win) WHERE rn <= {K}
), sk AS (
  SELECT day, count(*)::BIGINT AS n_keep, max(h)::BIGINT AS theta_k
  FROM kept GROUP BY day
)
SELECT CAST(s.day AS VARCHAR) AS day, s.n_keep, s.theta_k,
       {est} AS est_rolling
FROM sk s ORDER BY day
"""


@register("st_rolling_distinct", oracle=_st_rolling_oracle)
def st_rolling_distinct(spark: SparkSession, d: str) -> DataFrame:
    """Streaming maintenance of the per-day KMV registry behind
    ev_rolling_distinct_kmv — the calendar-axis member of the
    streaming-summary family (corpus axis: st_kmv_ingest; graph axis:
    st_knn_edges): events arrive through the checkpointed file stream
    in two tranches split BY USER PARITY — every day's users arrive
    across BOTH tranches, completely out of calendar order — and each
    micro-batch folds its own per-day k-minimum sets into a versioned
    (day, h) store by per-day union-then-recap.  The semilattice
    (a31) is what makes user-parity tranching safe: per-day merge is
    idempotent, commutative and associative, so arrival order cannot
    corrupt any day's k-set, and the drained store must equal the
    batch-built per-day registry exactly.  The rolling read then runs
    OVER THE STORE (days x 7 x k rows — never events), producing the
    same est_rolling column as the batch entry; the exact twin is the
    one column bounded state cannot produce, which is precisely the
    sketch's reason to exist (stated in ev_rolling_distinct_kmv).

    Fully value-oracled: DuckDB rebuilds the per-day k-sets and the
    rolling merge from the raw events; every drained day, theta and
    estimate must match.

    Scale shape: per-batch work is the batch's own scan + day-bounded
    top-k; store state is days x k rows forever; checkpoint resume is
    the second drain."""
    import shutil

    from pyspark.sql import Window as W
    from ..sources.tables import fold_version, read_version
    from ..streaming import pipeline as SP
    from ..session import scratch
    from .catalog_r9 import _h60

    raw = spark.read.parquet(f"{d}/events.parquet")
    sdir = scratch("st_rdist_stream")
    store = scratch("st_rdist_store")
    ckpt = scratch("st_rdist_ckpt")
    for p in (sdir, store, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    w_day = W.partitionBy("day").orderBy("h")

    def day_ksets(df: DataFrame) -> DataFrame:
        u = (SP.normalize_event_ts(df)
             .select(F.date_trunc("day", F.col("ts")).cast("date")
                     .alias("day"),
                     _h60(F.col("user_id").cast("string")).alias("h"))
             .distinct())
        return (u.withColumn("rn", F.row_number().over(w_day))
                .filter(F.col("rn") <= _RD_K).select("day", "h"))

    def drain() -> None:
        stream = spark.readStream.schema(raw.schema).parquet(sdir)

        def merge(batch_df: DataFrame, epoch_id: int) -> None:
            fold_version(batch_df.sparkSession, store, epoch_id,
                         day_ksets(batch_df),
                         lambda p, i: (p.unionByName(i).distinct()
                                       .withColumn("rn", F.row_number()
                                                   .over(w_day))
                                       .filter(F.col("rn") <= _RD_K)
                                       .select("day", "h")))

        SP._run_foreach(stream, merge, ckpt)

    SP.ship_parquet(raw.filter(F.col("user_id") % 2 == 0), sdir, "t1")
    drain()
    SP.ship_parquet(raw.filter(F.col("user_id") % 2 == 1), sdir, "t2")
    drain()

    daily = read_version(spark, store)
    days = daily.select("day").distinct().withColumnRenamed("day", "d")
    win = (daily.join(F.broadcast(days),
                      (F.col("day") >= F.date_sub(F.col("d"),
                                                  _RD_WIN - 1))
                      & (F.col("day") <= F.col("d")))
           .select(F.col("d").alias("day"), "h").distinct())
    kept = (win.withColumn("rn", F.row_number().over(w_day))
            .filter(F.col("rn") <= _RD_K))
    sk = kept.groupBy("day").agg(
        F.count("*").cast("long").alias("n_keep"),
        F.max("h").alias("theta_k"))
    est = (F.when(F.col("n_keep") < _RD_K, F.col("n_keep"))
           .otherwise(F.round((_RD_K - 1) * F.lit(_RD_SP)
                              / F.col("theta_k").cast("double"))
                      .cast("long")))
    return (sk.select(F.col("day").cast("string").alias("day"),
                      "n_keep", "theta_k", est.alias("est_rolling"))
            .orderBy("day"))


# ===========================================================================
# Multimodal: scene table — the gaps-and-islands composition over the
# keyframe election (the per-scene manifest a video curation pipeline
# materializes; one row per contiguous shot)
# ===========================================================================

def _mm_scene_oracle() -> str:
    from .catalog_r8 import _mm_keyframes_oracle
    return f"""
WITH kf AS ({_mm_keyframes_oracle()}),
sc AS (
  SELECT doc_id, frame_index, frame_ts,
         CAST(sum(is_keyframe::INT) OVER (
           PARTITION BY doc_id ORDER BY frame_index
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS scene_id
  FROM kf
)
SELECT doc_id, scene_id, count(*)::BIGINT AS n_frames,
       min(frame_ts) AS scene_start, max(frame_ts) AS scene_end
FROM sc GROUP BY doc_id, scene_id
ORDER BY doc_id, scene_id
"""


@register("mm_scene_table", oracle=_mm_scene_oracle)
def mm_scene_table(spark: SparkSession, d: str) -> DataFrame:
    """Per-video SCENE manifest: the gaps-and-islands composition over
    mm_keyframes' shot-boundary election — scene_id is the running
    count of boundaries (every keyframe starts a scene; the frames
    until the next boundary belong to it), then one row per scene with
    its frame count and time extent.  This is the table a video
    curation pipeline actually materializes (dedup at scene
    granularity, sample one keyframe per scene for training, budget
    screen-time per scene), one window + one grouped aggregate past
    the keyframe election the catalog already value-oracles end to
    end through the Arrow decode path.

    Scale shape: the prefix-sum window and the aggregate are both
    keyed by video id over a <=5-frames-per-video bounded explode —
    uniform keys, nothing corpus-wide."""
    from pyspark.sql import Window as W
    from .catalog_r8 import mm_keyframes
    kf = mm_keyframes(spark, d)
    w = (W.partitionBy("doc_id").orderBy("frame_index")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    sc = kf.withColumn(
        "scene_id", F.sum(F.col("is_keyframe").cast("int")).over(w)
        .cast("long"))
    return (sc.groupBy("doc_id", "scene_id")
            .agg(F.count("*").cast("long").alias("n_frames"),
                 F.min("frame_ts").alias("scene_start"),
                 F.max("frame_ts").alias("scene_end"))
            .orderBy("doc_id", "scene_id"))


# ===========================================================================
# Incremental MinHash dedup — the delta-vs-index ingest shape (the
# batch family's last rebuild-by-default: every dd_minhash run
# re-paired the whole corpus; a production ingest pairs the NEW batch
# against the stored band index and itself, never base x base)
# ===========================================================================

def _dd_delta_oracle() -> str:
    from . import oracle_vec as OV
    return f"""
SELECT id_a, id_b, jaccard FROM ({OV.minhash_pairs_sql()})
WHERE id_a % 2 = 1 OR id_b % 2 = 1
ORDER BY id_a, id_b
"""


@register("dd_minhash_delta", oracle=_dd_delta_oracle)
def dd_minhash_delta(spark: SparkSession, d: str) -> DataFrame:
    """Incremental MinHash-LSH dedup (operators/dedup.py
    minhash_delta_pairs): the odd-id half of the corpus arrives as a
    NEW BATCH against the even-id half standing in for the stored
    band index — candidates are two bucket-keyed equi-joins
    (delta x index, delta x delta), base x base is never re-paired,
    and the exact-Jaccard verify runs on candidates only.  Because a
    pair is a candidate iff it shares a band bucket — the identical
    condition the batch operator uses — the result must equal the
    full-corpus dd_minhash_lsh RESTRICTED to pairs with at least one
    delta member, which is exactly what this oracle recomputes (the
    full banding in DuckDB, filtered to odd-membership).

    Why it matters at 100 TB: the batch form's cost is
    corpus-signatures + corpus-bucket self-join EVERY run; the delta
    form's steady-state cost is batch-signatures + joins whose left
    side is batch-sized — the index is ids + 32-byte band hashes
    (narrow forever), appended per ingest, with the same max_bucket
    skew guard per side.  Completes the incremental-ingest family:
    exact hashes (st_dedup_stream), lines (st_dd_line_dedup),
    semantic keepers (st_semdedup), the kNN graph (st_knn_edges) —
    and now the MinHash index itself."""
    from ..operators.dedup import minhash_delta_pairs
    docs = _t(spark, d, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return (minhash_delta_pairs(base, delta)
            .orderBy("id_a", "id_b"))
