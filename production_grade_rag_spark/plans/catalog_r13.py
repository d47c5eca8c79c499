"""Round-13 catalog additions.

Two entries productizing the round's themes:

- ``dd_minhash_pr_sampled``: the LSH precision/recall estimator on a
  deterministic key-sampled document stratum — the 100 TB form of
  dd_minhash_pr (whose exact pair set is corpus-sized — ~30 s at
  sf0.1 through the r14 inverted index and growing with the corpus),
  promoted from an embedded audit-card read to a first-class,
  fully value-oracled operator.
- ``g15_bucket_containment``: the corpus-geometry card for ANN
  planning — what share of TRUE 5-NN edges survives sign-hyperplane
  bucketing at 2/4/8 bits.  Containment is the mechanistic quantity
  behind the r13 stress finding that isotropic corpora need probe
  fractions 1/4-1/2 while clustered corpora certify at 1/16: bucket
  pruning can only keep what the buckets contain.

Reference parity: the reference has neither operator (its dedup is
Mongo-side exact-id upserts and its ANN quality is unaudited
$vectorSearch — src/feature_pipeline/document_processor.py); both are
SURVEY §2.12-style beyond-reference curation surface.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register

# ===========================================================================
# Sampled-stratum MinHash P/R scoreboard (the 100 TB recall estimator)
# ===========================================================================

_PRS_THR = 0.8


def _prs_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r11 import _pr_stratum_cte
    mhc = OV.minhash_pairs_sql(threshold=0.0, source="prdocs")
    exs = OV.ngram_pairs_index_sql(threshold=_PRS_THR, source="prdocs")
    # prdocs / mhc / exs each feed multiple reads — MATERIALIZED keeps
    # the signature pipeline and the exact-pair join single-shot (the
    # t20/g4 oracle-cost lesson)
    return f"""
WITH prdocs AS MATERIALIZED ({_pr_stratum_cte()}),
mhc AS MATERIALIZED ({mhc}),
exs AS MATERIALIZED ({exs})
SELECT (SELECT count(*) FROM prdocs)::BIGINT AS n_stratum,
       (SELECT count(*) FROM mhc)::BIGINT AS n_candidates,
       (SELECT count(*) FROM mhc WHERE jaccard >= {_PRS_THR})::BIGINT
         AS n_true_pos,
       (SELECT count(*) FROM exs)::BIGINT AS n_exact,
       round((SELECT count(*) FROM mhc WHERE jaccard >= {_PRS_THR})
             ::DOUBLE
             / greatest((SELECT count(*) FROM mhc), 1)::DOUBLE, 6)
         AS precision,
       round((SELECT count(*) FROM mhc WHERE jaccard >= {_PRS_THR})
             ::DOUBLE
             / greatest((SELECT count(*) FROM exs), 1)::DOUBLE, 6)
         AS recall
"""


@register("dd_minhash_pr_sampled", oracle=_prs_oracle)
def dd_minhash_pr_sampled(spark: SparkSession, d: str) -> DataFrame:
    """MinHash-LSH precision/recall estimated on a deterministic md5
    document stratum at the DERIVED modulus — the form dd_minhash_pr's
    own docstring names as the 100 TB path (the full exact pair set is
    the corpus-sized audit twin: ~30 s at sf0.1 through the r14
    inverted index and growing with the corpus), now a first-class operator instead of a read embedded
    in cc_release_audit.  The stratum key is md5('pr:' || doc_id) —
    content- and ingest-order-independent, so the stratum is an
    unbiased pair sample under the usual exchangeability read, and
    both engines replay it exactly (no sampling RNG; the repo's
    seedless-hash convention).  Since r14 (VERDICT r13 #1) the
    modulus DERIVES from the corpus count on both engines — smallest
    power of two m with m * 2048 >= n (catalog_r11.audit_stratum_mod
    / its scalar-subquery SQL twin), so the stratum is a bounded
    ~1-2k docs at ANY corpus size: m=1 at sf0.01 (the whole 500-doc
    corpus — exact P/R, no sampling), m=4 at sf0.1 (the r13 operating
    point, unchanged there), ~n/2048 at 100 TB.  Candidates at
    verify-threshold 0, true positives at Jaccard >= 0.8, the
    stratum's exact pair set, and the derived precision/recall —
    every number value-oracled.

    Statistical honesty: a 1-in-m doc stratum keeps ~1/m^2 of pairs,
    so the recall denominator is small at catalog scale (MEASURED:
    25 exact pairs at sf0.01 now that m resolves to 1 there, 11 at
    sf0.1's m=4 — recall 1.0 at both); at fixed stratum size the
    denominator grows with corpus dup density, which is exactly the
    regime the estimator exists for.

    Scale shape: the stratum filter is a pushed-down scan predicate
    (the modulus costs one parquet-footer count); everything after is
    the dd_minhash_lsh plan on a bounded ~2k-doc corpus (band shuffle
    + candidate-scoped verify) plus the stratum-local INVERTED-INDEX
    exact join (ngram_jaccard_pairs_index — sum-of-freq^2, not the
    r13 nested-loop O(stratum^2) enumeration): a CONSTANT audit
    budget at any corpus size, where the r13 fixed m=4 left the
    verify O(n^2/16).  Both the card row and this entry read ONE
    shared helper (catalog_r11.pr_stratum_counts — VERDICT r13 #6)."""
    from .catalog_r11 import pr_stratum_counts
    return (pr_stratum_counts(spark, d, threshold=_PRS_THR)
            .select("n_stratum", "n_candidates", "n_true_pos", "n_exact",
                    F.round(F.col("n_true_pos").cast("double")
                            / F.greatest("n_candidates", F.lit(1))
                            .cast("double"), 6).alias("precision"),
                    F.round(F.col("n_true_pos").cast("double")
                            / F.greatest("n_exact", F.lit(1))
                            .cast("double"), 6).alias("recall")))


# ===========================================================================
# Sign-hyperplane bucket containment of the exact 5-NN edge set —
# the geometry number behind "what probe fraction does THIS corpus
# need" (Charikar 2002 sign random projections; Indyk-Motwani LSH).
# ===========================================================================

_G15_MAX_BITS = 8
_G15_WIDTHS = (2, 4, 8)


def _g15_hyperplanes(dim: int = 64) -> list[list[float]]:
    """_G15_MAX_BITS deterministic hyperplanes: component (j, i) is an
    md5('g15:j:i')-derived uniform in [-1, 1], rounded to 6 decimals
    so the SAME literal appears in the Spark plan and the oracle SQL
    (the repo's seedless-hash convention — no RNG state, both engines
    replay the identical geometry)."""
    out = []
    for j in range(_G15_MAX_BITS):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"g15:{j}:{i}".encode())
                    .hexdigest()[:8], 16)
            row.append(round(h / 0xFFFFFFFF * 2 - 1, 6))
        out.append(row)
    return out


def _g15_oracle() -> str:
    from . import oracle_vec as OV
    from .catalog_r10 import _und_cte
    hps = _g15_hyperplanes()
    bits = " + ".join(
        f"(CASE WHEN {OV.dot_sql('embedding', OV.vec_lit_sql(hp))} >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, hp in enumerate(hps))
    rows = []
    for w in _G15_WIDTHS:
        m = 1 << w
        rows.append(f"""
  SELECT {w}::BIGINT AS bits,
         (SELECT count(DISTINCT b8 % {m}) FROM bk)::BIGINT AS n_buckets,
         (SELECT count(*) FROM lab)::BIGINT AS n_edges,
         (SELECT sum((ba % {m} = bb % {m})::INT) FROM lab)::BIGINT
           AS n_same_bucket,
         round((SELECT sum((ba % {m} = bb % {m})::INT) FROM lab)::DOUBLE
               / (SELECT count(*) FROM lab)::DOUBLE, 6) AS containment""")
    union = "  UNION ALL".join(rows)
    return _und_cte() + f""", bk AS MATERIALIZED (
  SELECT vec_id, ({bits})::BIGINT AS b8 FROM embeddings
), lab AS MATERIALIZED (
  SELECT e.u, e.v, a.b8 AS ba, b.b8 AS bb
  FROM und e JOIN bk a ON a.vec_id = e.u JOIN bk b ON b.vec_id = e.v
)
SELECT * FROM ({union}) ORDER BY bits
"""


@register("g15_bucket_containment", oracle=_g15_oracle)
def g15_bucket_containment(spark: SparkSession, d: str) -> DataFrame:
    """Corpus-geometry card for ANN planning: the share of TRUE 5-NN
    edges whose endpoints share a sign-hyperplane bucket (Charikar
    2002 SimHash projections) at 2, 4 and 8 bits — CONTAINMENT is
    the mechanistic quantity behind the r13 stress finding that the
    near-isotropic hash corpus needs IVF probe fractions 1/4-1/2 for
    certified recall while the clustered anisotropic corpus
    certifies at 1/16: bucket pruning can only keep neighbors the
    buckets contain, so this card is what an operator reads BEFORE
    picking n_lists/n_probe (or deciding bucketed ANN is the wrong
    tool for the geometry).  Hyperplanes are md5-derived literal
    constants (no RNG), the dot products fold in the same sequential
    double order on both engines, and the exact edge set is the
    g_knn_edges oracle's own CTE — every number value-oracled.

    Reading the card: containment at b bits upper-bounds single-probe
    recall of any 2^b-bucket sign-LSH index; fast per-bit decay ~ an
    isotropic corpus (direction carries little neighbor information);
    slow decay ~ clustered geometry where bucketed ANN is cheap at
    high recall.  MEASURED on this hash corpus: 0.356/0.129/0.013 at
    2/4/8 bits (sf0.01) and 0.394/0.149/0.022 (sf0.1) — ~0.6 per
    hyperplane, the unfavorable-geometry signature that matches the
    STRESS_r13 finding (isotropic IVF needs probe fractions 1/4-1/2
    where the clustered corpus certifies at 1/32).

    Scale shape: bucket ids are one fused map-side projection (8
    dot-sign bits per vector, no shuffle); the containment read is
    two narrow equi-joins from the SHARED materialized edge store
    (operators/knn_graph.py — built once per corpus snapshot) and a
    3-row aggregate; corpus-linear, window-free."""
    from ..functions.vector import to_double_array
    from ..operators.knn_graph import knn_und
    emb = _t(spark, d, "embeddings")
    v = to_double_array(F.col("embedding"))
    b8 = None
    for j, hp in enumerate(_g15_hyperplanes()):
        lit = F.array(*[F.lit(x) for x in hp])
        dot = F.aggregate(F.zip_with(v, lit, lambda a, h: a * h),
                          F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        b8 = bit if b8 is None else b8 + bit
    bk = emb.select("vec_id", b8.cast("long").alias("b8"))
    und = knn_und(spark, d)
    lab = (und.join(bk.select(F.col("vec_id").alias("u"),
                              F.col("b8").alias("ba")), "u")
           .join(bk.select(F.col("vec_id").alias("v"),
                           F.col("b8").alias("bb")), "v"))
    rows = None
    for w in _G15_WIDTHS:
        m = F.lit(1 << w)
        agg = lab.agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum((F.pmod(F.col("ba"), m) == F.pmod(F.col("bb"), m))
                  .cast("int")).cast("long").alias("n_same_bucket"))
        nb = bk.agg(F.countDistinct(F.pmod(F.col("b8"), m))
                    .cast("long").alias("n_buckets"))
        r = (agg.crossJoin(F.broadcast(nb))
             .select(F.lit(w).cast("long").alias("bits"), "n_buckets",
                     "n_edges", "n_same_bucket",
                     F.round(F.col("n_same_bucket").cast("double")
                             / F.col("n_edges").cast("double"), 6)
                     .alias("containment")))
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("bits")
