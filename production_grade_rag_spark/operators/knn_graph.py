"""Shared materialized kNN-graph store (VERDICT r9 #1).

Five catalog entries read the SAME symmetrized 5-NN cosine graph over
the embeddings table — g5 label propagation (plans/catalog_r8b.py),
g6 triangle census, g7 k-core peeling, g8 hub attack and g9 degree
assortativity (plans/catalog_r9.py).  Before this module each entry
rebuilt the graph independently, four of the five through the exact
all-pairs window — the last remaining scale-killer-by-default in the
repo (g6 was the most expensive headliner because of it).

This module does for the graph what plans/catalog_r8b._pca_centered
did for the PCA projection and r9_bitext_ivf did for bitext mining:
build the DIRECTED k-NN edge list ONCE per (process, dataset, method)
as a narrow parquet scratch table (src BIGINT, dst BIGINT — ~16
bytes/edge against the wide embedding vectors), derive and materialize
the canonical UNDIRECTED edge list beside it, and point every consumer
at the store.

- method="exact" is the value-oracle-able all-pairs build: the edge
  set is exactly what every g5–g9 DuckDB CTE recomputes, so all
  existing oracles hold unchanged; the parquet roundtrip is BIGINT
  ids only, lossless.
- method="ivf" is the 100 TB candidate generator (ivf_knn_join
  cell-pruned candidates — every query scores n_probe/n_lists of the
  corpus, never all of it), registered and recall-gated as
  g_knn_edges_ivf / g_knn_edges_ivf_recall in plans/catalog_r10.py
  and stress-timed at the 10x tier by scripts/stress_bench.py with
  build (KMeans fit + write) and amortized read ledgered separately.

At 100 TB the store is the production shape regardless of method: the
edge list is built once per corpus snapshot by the ingest pipeline
(with IVF candidates + the recall gate replacing the quadratic exact
window), and every graph read — census, cores, attack, mixing,
propagation — then costs k-bounded equi-joins over a narrow table
that is ~k rows per vector, not a rebuild.

Reference parity: the reference has no graph operators; this family
is SURVEY §2.12 beyond-reference surface (the kNN-graph reads a
curation team runs over the embedding space the reference only
searches — src/feature_pipeline/document_processor.py:125-150 embeds,
MongoDB $vectorSearch retrieves; graph structure is new capability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, to_double_array
from ..session import scratch

# tags materialized by this process (a write that raised leaves no tag,
# so the next call rebuilds over the torn dir)
_BUILT: set[str] = set()


def _tag(kind: str, d: str, k: int, method: str,
         n_lists: int, n_probe: int) -> str:
    key = d.strip("/").replace("/", "_")
    m = (f"ivf_l{n_lists}p{n_probe}" if method == "ivf" else "exact")
    return f"{kind}_{m}_k{k}_{key}"


def _load_emb(spark: SparkSession, d: str) -> DataFrame:
    from ..sources import load_table
    return load_table(spark, d, "embeddings")


# Probe-side broadcast ceiling for the all-corpus build (ADVICE r11):
# the kNN-graph build's "query" set IS the corpus, so ivf_knn_join's
# default F.broadcast on the exploded probe side (n x n_probe rows
# carrying full embedding arrays) would ship the whole corpus to every
# task — at 1e9 vectors that is a multi-TB broadcast, an OOM by
# construction.  Below this row ceiling broadcast stays the measured
# 1.9-4.2x win (local tiers: <=4M exploded rows ~ 2 GB at 64 dims);
# above it the build switches to the hash-exchange join, where the
# corpus side is the cell-partitioned store and the shuffle is
# wide-keyed at exactly the scale that needs it.
_PROBE_BCAST_MAX_ROWS = 4_000_000


def derived_n_lists(n: int) -> int:
    """Corpus-size-derived IVF list count for the graph build (VERDICT
    r11 #2): the nearest power of two to sqrt(n), floored at 16 —
    cells then hold ~sqrt(n) vectors, so the in-cell candidate pair
    count per cell stays ~n and the BUILD total stays ~n^1.5 / p
    rather than quadratic; the n_lists sweep in scripts/stress_bench.py
    measures where the build-time optimum actually sits at gated
    recall.  The DEFAULT since r13 (n_lists=None resolves here —
    VERDICT r12 #3)."""
    import math
    if n <= 256:
        return 16
    return 1 << round(math.log2(math.sqrt(n)))


def measured_anisotropy(emb: DataFrame, n: int,
                        max_pairs: int = 4096,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> float:
    """Fit-time geometry probe: mean cosine over a deterministic
    strided consecutive-id pair chain — the m5_embedding_isotropy
    instrument (plans/catalog_r10.py, Ethayarajh 2019 cone geometry)
    sampled down to <= max_pairs pairs so the read is a bounded
    constant at any corpus size.  Ids are content-uncorrelated in
    this corpus family, so chain pairs read as random pairs while
    staying replay-deterministic (no sampling RNG — the repo's
    seedless convention).  This is the number the IVF probe default
    consumes (VERDICT r13 #2: the geometry cards — m5 anisotropy,
    g15 bucket containment — measured exactly what derived_n_probe
    needed, but nothing read them at fit time)."""
    stride = max(1, n // max_pairs)
    base = emb.filter(F.pmod(F.col(id_col), F.lit(stride)) == 0)
    v = to_double_array(F.col(vec_col))
    a = base.select(F.col(id_col).alias("ia"), v.alias("va"))
    b = (emb.filter(F.pmod(F.col(id_col) - 1, F.lit(stride)) == 0)
         .select((F.col(id_col) - 1).alias("ia"), v.alias("vb")))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    # a zero-norm vector in the chain makes its pair cosine 0/0 —
    # under ANSI that is a DIVIDE_BY_ZERO abort mid-build (ADVICE
    # r14); try_divide turns the degenerate pair into NULL, which
    # avg() skips (an all-degenerate chain averages to NULL -> the
    # conservative 0.0 isotropic reading below)
    row = (a.join(b, "ia")
           .select(F.try_divide(dot, na * nb).alias("c"))
           .agg(F.avg("c").alias("m")).collect()[0])
    import math
    m = row["m"]
    if m is None or math.isnan(m):
        return 0.0
    return float(m)


# Probe-fraction anchors measured by scripts/stress_bench.py (both on
# the STRESS ledger, both recall-gated >= 0.9 at the 10x tier):
#   - isotropic hash corpus, m5 anisotropy 0.004: the 0.9 edge-recall
#     floor needs probe fraction 1/2 (cleared at EVERY swept list
#     count: 16/8 -> 0.94-0.96, 64/32 -> 0.958, 128/64 -> 0.972)
#   - clustered anisotropic corpus, m5 anisotropy 0.290: certifies at
#     probe fraction 1/32 (recall 0.955, crossover 21.64x — STRESS_r13)
# probe_bits interpolates log2(1/fraction) linearly between them and
# FLOORS (more probes than the line, never fewer), clamped to [1, 5].
_PROBE_ANCHOR_ISO = (0.004, 1)
_PROBE_ANCHOR_CLU = (0.290, 5)


def probe_bits(anisotropy: float) -> int:
    """log2(n_lists/n_probe) from the measured corpus anisotropy —
    the consumption side of the geometry cards (VERDICT r13 #2).
    Conservative by construction: floor of the two-anchor
    interpolation, clamped to [1, 5], so an unmeasured geometry gets
    AT LEAST the probe budget the line implies, and every default
    build is still re-certified by its recall gate
    (g_knn_edges_ivf_recall / the per-tier stress gates) — the
    interpolation picks the operating point, the gate certifies it."""
    import math
    if math.isnan(anisotropy):
        # belt to measured_anisotropy's braces (ADVICE r14): an
        # unreadable geometry gets the conservative isotropic probe
        # budget, never a math.floor(NaN) crash mid-build
        return 1
    (lo_a, lo_b), (hi_a, hi_b) = _PROBE_ANCHOR_ISO, _PROBE_ANCHOR_CLU
    t = (anisotropy - lo_a) / (hi_a - lo_a)
    bits = lo_b + t * (hi_b - lo_b)
    return int(max(1, min(5, math.floor(bits))))


def derived_n_probe(n_lists: int, anisotropy: float | None = None) -> int:
    """Default probe count for the derived-list build, floored at 4.
    With NO geometry reading (anisotropy=None) this stays the
    isotropic worst case — HALF the cells, the fraction that cleared
    the 0.9 recall floor at every swept list count on the hash corpus
    (STRESS_r12 g6_ivf_nlists_sweep_10x).  With a measured anisotropy
    (the default build path measures it at fit time via
    measured_anisotropy — VERDICT r13 #2) the fraction comes from the
    two-anchor probe_bits map: ~1/2 on isotropic geometry (unchanged
    there), down to the certified 1/32 on clustered geometry like the
    r13 stress corpus — a 16x smaller probe bill exactly where the
    measured curve says recall holds, re-gated per build.  The
    default always prunes: the candidate bill is n_probe/n_lists of
    the corpus."""
    if anisotropy is None:
        return max(4, n_lists // 2)
    return max(4, n_lists >> probe_bits(anisotropy))


def _resolve_ivf(spark: SparkSession, d: str, method: str,
                 n_lists: int | None, n_probe: int | None) -> tuple[int, int]:
    """Resolve the (n_lists, n_probe) operating point.  Exact builds
    ignore both (the store tag says just "exact"), so they resolve to
    0 WITHOUT counting the corpus; ivf derives missing values from
    the measured corpus: n_lists from the row count (one parquet-
    footer count), n_probe from the count AND the measured geometry
    (a bounded <= 4096-pair anisotropy read — VERDICT r13 #2: the
    isotropic half-the-cells worst case was a ~16x probe overpay on
    clustered geometry the m5/g15 cards already measured)."""
    if method != "ivf":
        return 0, 0
    if n_lists is None or n_probe is None:
        emb = _load_emb(spark, d)
        n = emb.count()
        if n_lists is None:
            n_lists = derived_n_lists(n)
        if n_probe is None:
            n_probe = derived_n_probe(n_lists,
                                      measured_anisotropy(emb, n))
    return n_lists, n_probe


def _build_nb(spark: SparkSession, d: str, k: int, method: str,
              n_lists: int, n_probe: int,
              centroids: DataFrame | None) -> DataFrame:
    """The directed k-NN (src, dst) frame — NOT yet materialized."""
    e = _load_emb(spark, d)
    if method == "ivf":
        from .similarity import ivf_knn_join
        # corpus-sized probe side: pick the join strategy by measured
        # size (one parquet-footer count), never broadcast-by-default
        n = e.count()
        side = ("broadcast" if n * n_probe <= _PROBE_BCAST_MAX_ROWS
                else "shuffle")
        # k+1 candidates so the self-hit never displaces a neighbor;
        # re-rank after dropping self so the fanout is exactly k per
        # src (the exact side's bound)
        cand = (ivf_knn_join(
                    e.withColumnRenamed("vec_id", "query_id"), e,
                    k=k + 1, n_lists=n_lists, n_probe=n_probe,
                    centroids=centroids, probe_side=side)
                .filter(F.col("query_id") != F.col("result_id")))
        w = Window.partitionBy("query_id").orderBy("rank")
        return (cand.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k)
                .select(F.col("query_id").alias("src"),
                        F.col("result_id").alias("dst")))
    from ..functions.vector import dot, norm
    # hoist per-row norms out of the O(n^2) pair loop (the
    # pairwise_similar idiom): one interpreted-HOF dot per pair
    # instead of three.  dot/(na*nb) is bit-identical to cosine() —
    # same double ops in the same order, just factored — so the edge
    # set (and every graph oracle downstream) is unchanged.
    ed = (e.select("vec_id",
                   to_double_array(F.col("embedding")).alias("emb"))
          .withColumn("nrm", norm(F.col("emb"))))
    a, b = ed.alias("a"), ed.alias("b")
    cos = (dot(F.col("a.emb"), F.col("b.emb"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    w = Window.partitionBy("src").orderBy(F.desc("cos"), "dst")
    return (a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("src"),
                    F.col("b.vec_id").alias("dst"), cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).select("src", "dst"))


def knn_nb(spark: SparkSession, d: str, k: int = 5,
           method: str = "exact", n_lists: int | None = None,
           n_probe: int | None = None,
           centroids: DataFrame | None = None,
           rebuild: bool = False) -> DataFrame:
    """Directed k-NN cosine edge list (src, dst), materialized once
    per (process, dataset, method) as narrow parquet and read from
    the store thereafter.  ``centroids`` passes a PREBUILT cell
    layout to the ivf build (skips the in-loop KMeans fit — the
    amortized ingest shape stress_bench ledgers separately).
    The ivf defaults derive from the measured corpus (VERDICT r12 #3,
    geometry-aware since r14 per VERDICT r13 #2): n_lists=None ->
    derived_n_lists (~sqrt(n) rounded to a power of two),
    n_probe=None -> derived_n_probe at the probe fraction the
    MEASURED anisotropy implies (~1/2 on isotropic geometry — the
    swept-and-certified worst case — down to 1/32 on clustered
    geometry like the r13 stress corpus), re-certified per build by
    the recall gates."""
    n_lists, n_probe = _resolve_ivf(spark, d, method, n_lists, n_probe)
    tag = _tag("knn_nb", d, k, method, n_lists, n_probe)
    path = scratch(tag)
    if rebuild or tag not in _BUILT or not os.path.exists(path):
        nb = _build_nb(spark, d, k, method, n_lists, n_probe, centroids)
        # narrow table, bounded file count (local[32] stand-in for a
        # sane per-task target file size at cluster scale)
        nb.coalesce(4).write.mode("overwrite").parquet(path)
        _BUILT.add(tag)
    return spark.read.parquet(path)


def knn_und(spark: SparkSession, d: str, k: int = 5,
            method: str = "exact", n_lists: int | None = None,
            n_probe: int | None = None,
            centroids: DataFrame | None = None,
            rebuild: bool = False) -> DataFrame:
    """Canonical undirected edge list (u < v, distinct), derived from
    the directed store and materialized beside it — the frame the
    census/k-core/attack/assortativity entries reference many times
    each (deg twice, closure joins three times): a store read per
    reference instead of a kNN rebuild per reference.  ivf defaults
    derive from corpus size (see knn_nb)."""
    n_lists, n_probe = _resolve_ivf(spark, d, method, n_lists, n_probe)
    tag = _tag("knn_und", d, k, method, n_lists, n_probe)
    path = scratch(tag)
    if rebuild or tag not in _BUILT or not os.path.exists(path):
        nb = knn_nb(spark, d, k=k, method=method, n_lists=n_lists,
                    n_probe=n_probe, centroids=centroids,
                    rebuild=rebuild)
        und = (nb.select(F.least("src", "dst").alias("u"),
                         F.greatest("src", "dst").alias("v"))
               .distinct())
        und.coalesce(4).write.mode("overwrite").parquet(path)
        _BUILT.add(tag)
    return spark.read.parquet(path)
