"""Round-14 catalog additions.

- ``dd_band_plan``: the MinHash-LSH operating-point planner (VERDICT
  r13 #7) — the standard S-curve 1-(1-j^r)^b evaluated over every
  divisor banding of the repo's two documented signature widths, with
  the minimum-band point meeting the recall policy flagged.  The
  analytic prior beside dd_minhash_pr's measured posterior.
- ``st_release_audit``: the streaming twin of cc_release_audit
  (VERDICT r13 #3) — every monitor on the 7-row card has a mergeable
  state (addition semilattices for the grouped sums / drift moments /
  day rates, set union for the stratum band index), so the card a
  never-ending crawl publishes drains from incrementally-maintained
  stores; drained card == batch card through the batch entry's own
  oracle.

Reference parity: the reference has neither operator (its dedup is
Mongo-side exact-id upserts; it publishes no audit surface) — both
are SURVEY §2.12-style beyond-reference curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import _t, register
from ..session import materialize

# ===========================================================================
# MinHash-LSH band planner: the S-curve as a value-oracled card
# (Leskovec-Rajaraman-Ullman, Mining of Massive Datasets ch. 3 —
# public; collision probability of OR-banding at b bands of r rows is
# 1 - (1 - j^r)^b).
# ===========================================================================

# the two documented signature widths (operators/dedup.py: 16/4 is the
# catalog default, 128/32 the production width) and the policy the
# recommendation gates on (the release-audit recall floor)
_BP_WIDTHS = (16, 128)
_BP_THR = 0.8          # the verify threshold the operator runs at
_BP_FP_J = 0.5         # "clearly below threshold" point for the FP read
_BP_RECALL_MIN = 0.9   # _AUDIT_MH_RECALL_MIN, shared literal


def _bp_grid() -> list[tuple[int, int, int]]:
    """(num_hashes, num_bands, rows_per_band) for every divisor
    banding of each documented width — deterministic integer math,
    computed identically on both engines (the Spark side ships the
    grid as literals; the oracle re-derives it with a range filter)."""
    out = []
    for h in _BP_WIDTHS:
        for b in range(1, h + 1):
            if h % b == 0:
                out.append((h, b, h // b))
    return out


def _bp_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {h}::BIGINT AS num_hashes, {b}::BIGINT AS num_bands, "
        f"{r}::BIGINT AS rows_per_band"
        for h, b, r in _bp_grid())
    curve = ("round(1.0 - power(1.0 - power({j}, rows_per_band::DOUBLE), "
             "num_bands::DOUBLE), 6)")
    return f"""
WITH grid AS ({rows}),
curved AS (
  SELECT num_hashes, num_bands, rows_per_band,
         {curve.format(j=_BP_THR)} AS recall_at_thr,
         {curve.format(j=_BP_FP_J)} AS fp_at_low
  FROM grid
), rec AS (
  SELECT num_hashes,
         min(CASE WHEN recall_at_thr >= {_BP_RECALL_MIN}
                  THEN num_bands END) AS rec_b
  FROM curved GROUP BY num_hashes
)
SELECT c.num_hashes, c.num_bands, c.rows_per_band, c.recall_at_thr,
       c.fp_at_low, c.num_bands = r.rec_b AS recommended
FROM curved c JOIN rec r USING (num_hashes)
ORDER BY c.num_hashes, c.num_bands
"""


@register("dd_band_plan", oracle=_bp_oracle())
def dd_band_plan(spark: SparkSession, d: str) -> DataFrame:
    """MinHash-LSH operating-point planner (VERDICT r13 #7): the
    standard OR-banding S-curve P(candidate | jaccard=j) =
    1 - (1 - j^r)^b (Leskovec-Rajaraman-Ullman ch. 3, public)
    evaluated at the operator's verify threshold (0.8) and at a
    clearly-below-threshold point (0.5, the false-positive read), for
    EVERY divisor banding of the repo's two documented signature
    widths (16 = the catalog default, 128 = the production width).
    ``recommended`` flags the MINIMUM band count whose analytic
    recall clears the release-audit floor (0.9) — fewest bands =
    fewest candidate pairs, so the flagged row is the cheapest
    operating point the policy admits.  Pure deterministic
    double-precision math on both engines — fully value-oracled.

    What the card says about the shipped defaults: the catalog's
    16/4 point (r=4) has analytic recall 0.8785 at j=0.8 — BELOW the
    0.9 policy line (its measured recall on this corpus is 1.0;
    dd_minhash_pr / dd_minhash_pr_sampled publish the measured
    posterior beside this prior, and their docstrings cite this
    card), while 16/8 (r=2) clears at 0.9997 at ~3.9x the analytic
    FP rate; the production 128/32 point (r=4) reads recall
    1.000000 (1-(1-0.8^4)^32 ~= 1-4.8e-8) — comfortably above
    policy — at fp_at_low 0.873211, i.e. at j=0.5 most pairs still
    become candidates and the exact-Jaccard verify is what buys
    precision at that width (VERDICT r14 #1: this card's own output
    row, restated).  Since round 15 the recommendation is CONSUMED:
    operators.dedup.recommended_bands replays this S-curve and
    minhash_dedup_pairs(num_bands=None) resolves to the flagged
    minimum-band point (dd_minhash_planned value-oracles that
    path).

    Scale shape: corpus-free integer/double arithmetic over a ~20-row
    literal grid — the planning read costs nothing at any scale; the
    expensive number (measured recall) is the bounded-stratum
    estimator's job."""
    _ = (spark, d)   # corpus-free planning card (driver signature)
    grid = spark.createDataFrame(
        _bp_grid(), "num_hashes long, num_bands long, rows_per_band long")

    def curve(j: float):
        return F.round(
            F.lit(1.0) - F.pow(
                F.lit(1.0) - F.pow(F.lit(j),
                                   F.col("rows_per_band").cast("double")),
                F.col("num_bands").cast("double")), 6)

    curved = grid.select(
        "num_hashes", "num_bands", "rows_per_band",
        curve(_BP_THR).alias("recall_at_thr"),
        curve(_BP_FP_J).alias("fp_at_low"))
    rec = (curved.filter(F.col("recall_at_thr") >= _BP_RECALL_MIN)
           .groupBy("num_hashes")
           .agg(F.min("num_bands").alias("rec_b")))
    return (curved.join(F.broadcast(rec), "num_hashes")
            .select("num_hashes", "num_bands", "rows_per_band",
                    "recall_at_thr", "fp_at_low",
                    (F.col("num_bands") == F.col("rec_b"))
                    .alias("recommended"))
            .orderBy("num_hashes", "num_bands"))


# ===========================================================================
# Streaming release audit (VERDICT r13 #3): the 7-row card maintained
# through checkpointed out-of-order tranches — the release card a
# never-ending crawl actually publishes.
# ===========================================================================

def _sra_oracle() -> str:
    from .catalog_r11 import _audit_oracle
    return _audit_oracle()


@register("st_release_audit", oracle=_sra_oracle)
def st_release_audit(spark: SparkSession, d: str) -> DataFrame:
    """STREAMING release audit (VERDICT r13 #3): every monitor on the
    7-row cc_release_audit card has a mergeable state, so the card
    drains from incrementally-maintained stores instead of ever
    re-scanning the resident corpus.  Documents, vectors and events
    arrive MULTIPLEXED through one paged tranche stream (one ingest
    pipeline, one checkpoint — the production shape), and each
    micro-batch folds its delta into the stores below, each fold
    epoch-keyed:

    - qi store (dq8 risk + t44 correlation): per-(source, lang,
      len_bucket) integer sums — PURE ADDITION (audit_doc_groups is
      distributive; the nonlinear k-anonymity cutoff runs at drain on
      the fully-merged groups, audit_risk_corr).
    - manifest store (t43): (doc_id, bucket, source) — SET UNION; the
      curriculum position is a pure function of the drained set (the
      w12 formula, value-oracled against the two-phase rank), so the
      adjacency read runs the batch tail (t43_clump_base) at drain.
    - dq9 store: per-(side, dim) moment sums — ADDITION (the
      st_drift_monitor state, identical arithmetic).
    - day store (dq10): per-day (n_events, n_errors) — ADDITION; the
      EWMA closed form (dq10_chart_from_days) runs off the drained
      day table exactly as the batch entry's 100 TB paragraph says.
    - m5 pair state: the anisotropy chain pair (i, i+1) completes
      when its SECOND endpoint arrives — per batch, new pairs join
      the batch against the open FRONTIER (vectors with an unseen
      neighbor), their 1e-6-quantized cosines fold into a 1-row
      (n_pairs, s_cos) sum by addition, and the frontier prunes every
      vector both of whose neighbors are now seen.  Under id-ordered
      arrival the frontier is O(1); the even/odd tranche split is the
      adversarial order (every pair spans the tranches) and the state
      peaks at half the corpus — a property of the test ordering, not
      the design.  Vectors travel as JSON float arrays (bit-exact
      roundtrip, asserted by stream==batch equality through the
      oracle).
    - stratum registry (minhash recall): (doc_id, text) for docs in
      the md5 stratum at the CURRENT derived modulus, plus a 1-row
      corpus count.  Power-of-two strata are NESTED (m | 2m), so when
      the count crosses a power-of-two boundary the registry PRUNES
      by re-filtering at the larger modulus — bounded ~2k docs
      forever; at drain the P/R tail (pr_counts_from) runs over the
      registry at the final modulus.

    The drained card is assembled by the SAME audit_card_assemble /
    policy constants the batch card compiles, and this entry's oracle
    IS cc_release_audit's — drained == batch, value-oracled row for
    row (and pinned against the batch entry in
    tests/test_catalog_r14.py).

    Scale shape: per-batch work is batch-sized (quality scoring +
    grouped partial sums + bounded joins against narrow stores);
    steady state is QI-groups + manifest ids + 2d moments + calendar
    days + the chain frontier + a ~2k-doc stratum — none corpus-sized
    except the narrow manifest id table the batch t43 also keeps."""
    import shutil

    from ..functions import text as X
    from ..functions.vector import to_double_array
    from ..operators.dedup import md5_int32
    from ..session import scratch
    from ..sources.tables import epoch_prior, fold_version, read_version
    from ..streaming import pipeline as SP
    from .catalog_r10 import t43_clump_base
    from .catalog_r11 import (audit_card_assemble, audit_doc_groups,
                              audit_risk_corr, audit_stratum_mod,
                              pr_counts_from)
    from .catalog_r12 import (_dq9_add, _dq9_card, _dq9_moments,
                              dq10_chart_from_days)

    docs = _t(spark, d, "documents")
    emb = _t(spark, d, "embeddings")
    ev = _t(spark, d, "events")

    S = {k: scratch(f"st_audit_{k}") for k in
         ("qi", "man", "dq9", "day", "m5pair", "m5front", "m5seen",
          "mhreg", "mhcnt")}
    for p in S.values():
        shutil.rmtree(p, ignore_errors=True)

    pd_ = docs.select(
        F.col("doc_id").cast("string").alias("page_id"),
        F.to_json(F.struct("text", "source", F.col("lang").alias("doc_lang"),
                           "n_chars")).alias("title"),
        F.lit("doc").alias("lang"),
        F.col("n_chars").cast("long").alias("n_chars"))
    pv = emb.select(
        F.col("vec_id").cast("string").alias("page_id"),
        F.to_json(F.col("embedding")).alias("title"),
        F.lit("vec").alias("lang"), F.lit(0).cast("long").alias("n_chars"))
    pe = ev.select(
        F.col("event_id").cast("string").alias("page_id"),
        F.to_json(F.struct(
            F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400")
            .alias("dd"),
            (F.col("event_type") == "error").alias("err"))).alias("title"),
        F.lit("ev").alias("lang"), F.lit(0).cast("long").alias("n_chars"))
    pages = pd_.unionByName(pv).unionByName(pe)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        sp = rows.sparkSession
        good = materialize(rows, "st_audit:batch")

        def fold(store, inc, combine=None):
            fold_version(sp, S[store], epoch_id, inc, combine)

        def prior(store):
            return epoch_prior(sp, S[store], epoch_id)

        def add(keys, cols):
            return lambda p, i: (p.unionByName(i).groupBy(*keys).agg(
                *[F.sum(c).cast("long").alias(c) for c in cols]))

        # ---- documents ----
        bd = (good.filter(F.col("lang") == "doc")
              .select(F.col("page_id").cast("long").alias("doc_id"),
                      F.from_json("title", "text string, source string,"
                                  " doc_lang string, n_chars bigint")
                      .alias("r"))
              .select("doc_id", F.col("r.text").alias("text"),
                      F.col("r.source").alias("source"),
                      F.col("r.doc_lang").alias("lang"),
                      F.col("r.n_chars").alias("n_chars")))
        bd = materialize(bd, "st_audit:docs")
        fold("qi", audit_doc_groups(bd),
             add(("source", "lang", "len_bucket"),
                 ("n", "sx", "sy", "sxy", "sxx", "syy")))
        minc = (X.with_quality(bd.select("doc_id", "text"))
                .select("doc_id",
                        F.least(F.lit(9),
                                F.floor(F.round(F.col("quality_score"), 6)
                                        * 10).cast("long")).alias("bucket"))
                .join(bd.select("doc_id", "source"), "doc_id"))
        fold("man", minc,
             lambda p, i: p.unionByName(i).dropDuplicates(["doc_id"]))
        p = prior("mhcnt")
        n_prev = p.collect()[0]["n_total"] if p is not None else 0
        n_total = n_prev + bd.count()
        fold("mhcnt", sp.createDataFrame([(n_total,)], "n_total long"))
        mod = audit_stratum_mod(n_total)
        in_strat = (F.pmod(
            md5_int32(F.concat(F.lit("pr:"),
                               F.col("doc_id").cast("string"))),
            F.lit(mod)) == 0)
        fold("mhreg", bd.select("doc_id", "text").filter(in_strat),
             lambda p, i: (p.unionByName(i).dropDuplicates(["doc_id"])
                           .filter(in_strat)))  # nested strata: prune

        # ---- vectors ----
        bv = (good.filter(F.col("lang") == "vec")
              .select(F.col("page_id").cast("long").alias("vec_id"),
                      F.from_json("title", "array<float>")
                      .alias("embedding")))
        fold("dq9", _dq9_moments(bv), _dq9_add)
        front = prior("m5front")
        avail = bv if front is None else \
            front.unionByName(bv).dropDuplicates(["vec_id"])
        bids = bv.select("vec_id")
        a = avail.select(F.col("vec_id").alias("ia"),
                         to_double_array(F.col("embedding")).alias("va"))
        b = avail.select((F.col("vec_id") - 1).alias("ia"),
                         to_double_array(F.col("embedding")).alias("vb"))
        dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        na = F.sqrt(F.aggregate("va", F.lit(0.0),
                                lambda acc, x: acc + x * x))
        nb = F.sqrt(F.aggregate("vb", F.lit(0.0),
                                lambda acc, x: acc + x * x))
        pairs = (a.join(b, "ia")
                 .join(bids.select(F.col("vec_id").alias("ia"))
                       .withColumn("__na", F.lit(True)), "ia", "left")
                 .join(bids.select((F.col("vec_id") - 1).alias("ia"))
                       .withColumn("__nb", F.lit(True)), "ia", "left")
                 .filter(F.coalesce("__na", F.lit(False))
                         | F.coalesce("__nb", F.lit(False)))
                 .select(F.round(dot / na / nb * 1000000).cast("long")
                         .alias("cos_q")))
        pinc = pairs.agg(F.count("*").cast("long").alias("n_pairs"),
                         F.coalesce(F.sum("cos_q"), F.lit(0))
                         .cast("long").alias("s_cos"))
        fold("m5pair", pinc, add((), ("n_pairs", "s_cos")))
        p = prior("m5seen")
        seen = bids if p is None else \
            p.unionByName(bids).distinct()
        fold("m5seen", seen)
        ls = seen.select((F.col("vec_id") + 1).alias("vec_id"),
                         F.lit(True).alias("__ls"))
        rs = seen.select((F.col("vec_id") - 1).alias("vec_id"),
                         F.lit(True).alias("__rs"))
        fnew = (avail.join(ls, "vec_id", "left")
                .join(rs, "vec_id", "left")
                .filter(~(F.coalesce("__ls", F.lit(False))
                          & F.coalesce("__rs", F.lit(False))))
                .select("vec_id", "embedding"))
        fold("m5front", fnew)

        # ---- events ----
        be = (good.filter(F.col("lang") == "ev")
              .select(F.from_json("title", "dd bigint, err boolean")
                      .alias("r"))
              .select(F.col("r.dd").alias("d"), F.col("r.err").alias("err")))
        einc = be.groupBy("d").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("err").cast("int")).cast("long")
            .alias("n_errors"))
        fold("day", einc, add(("d",), ("n_events", "n_errors")))

    SP.drain_paged_tranches(spark, "st_audit", SP.parity_tranches(pages),
                            merge)

    # ---- drained card: the batch tails over the stores ----
    from pyspark.sql import Window as W
    both = audit_risk_corr(read_version(spark, S["qi"]))
    pr = read_version(spark, S["m5pair"])
    m5f = pr.select(F.round(F.col("s_cos").cast("double")
                            / F.col("n_pairs").cast("double")
                            / 1000000, 6).alias("anisotropy"))
    man = read_version(spark, S["man"])
    pos = ((F.row_number().over(W.partitionBy("bucket")
                                .orderBy("doc_id")) - 1) * 10
           + F.col("bucket"))
    rates = (t43_clump_base(man.withColumn("curriculum_pos", pos))
             .agg(F.max(F.when(F.col("ordering") == "curriculum",
                               F.col("same_bucket_rate")))
                  .alias("cur_rate"),
                  F.max(F.when(F.col("ordering") == "doc_id",
                               F.col("same_bucket_rate")))
                  .alias("nat_rate")))
    drift = (_dq9_card(read_version(spark, S["dq9"]))
             .select(F.col("centroid_l2").alias("drift_l2"),
                     F.col("var_ratio").alias("drift_vr")))
    ew = (dq10_chart_from_days(spark, read_version(spark, S["day"]))
          .agg(F.max_by("ewma", "day").alias("ewma_last"),
               F.bool_or("ooc").alias("any_ooc")))
    n_total = read_version(spark, S["mhcnt"]).collect()[0]["n_total"]
    mod = audit_stratum_mod(n_total)
    strat = (read_version(spark, S["mhreg"])
             .filter(F.pmod(
                 md5_int32(F.concat(F.lit("pr:"),
                                    F.col("doc_id").cast("string"))),
                 F.lit(mod)) == 0)
             .select("doc_id", "text"))
    mh = (pr_counts_from(strat)
          .select(F.round(F.col("n_true_pos").cast("double")
                          / F.greatest("n_exact", F.lit(1))
                          .cast("double"), 6).alias("mh_recall"),
                  F.col("n_exact").alias("mh_nex")))
    return audit_card_assemble(both, m5f, rates, drift, ew, mh)
