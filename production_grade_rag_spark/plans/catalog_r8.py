"""Catalog extension 5 (round 8).

Closes the VERDICT r7 task list beyond the in-place fixes:

- t17_dsir_resample / t17_dsir_mix: the DSIR loop completed — from
  importance WEIGHTS (t16) to the actual importance RESAMPLE (Xie et
  al. 2023 §2): deterministic hash-Bernoulli acceptance with
  p ∝ exp(log_ratio), plus the achieved-vs-source mix report.
- ta_perplexity: CCNet-style LM perplexity gate (Wenzek et al. 2020)
  with a corpus-trained add-one bigram LM and head/middle/tail
  tertile buckets; composed with the published-rules curation in
  cc_curate_modern_ppl (a NEW entry so cc_curate_modern keeps its
  pinned one-scan/one-shuffle shape).
- dd_span_dedup: C4's real dedup unit — the three-sentence span
  (Raffel et al. 2020 §2.2) — with the same skew-safe min-struct
  first-occurrence election dd_line_dedup uses.

"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import _t, register
from ..session import materialize


# ===========================================================================
# DSIR importance RESAMPLING (t16 emits the weights; this is the
# pipeline step users actually run — Xie et al. 2023 §2)
# ===========================================================================

def _dsir_lr_cte() -> str:
    """The t16 per-doc log-ratio query as a CTE body (verbatim reuse:
    the resample must score exactly what the weight entry scores)."""
    from .catalog_r7 import _dsir_oracle
    return _dsir_oracle()


def _resample_cte() -> str:
    """CTE chain ending in ``p``: per-doc acceptance probability and
    the deterministic uniform draw.  p = exp(lr - max(lr)) so the
    best-matched doc is accepted with probability 1 and acceptance is
    ∝ exp(log_ratio); the draw is md5-hash-derived (the t9_hash_sample
    trick) quantized to 6 decimals so the accept comparison is over
    values both engines render identically."""
    return f"""
WITH lr AS ({_dsir_lr_cte()}
), mx AS (
  SELECT max(log_ratio) AS m FROM lr
), p AS (
  SELECT l.doc_id, l.n_tokens, l.log_ratio,
         round(exp(l.log_ratio - mx.m), 6) AS p_accept,
         (('0x' || substr(md5(l.doc_id::VARCHAR || ':dsir'), 1, 8))::BIGINT
          % 1000000)::DOUBLE / 1000000.0::DOUBLE AS u
  FROM lr l CROSS JOIN mx
)"""


@register("t17_dsir_resample", oracle=f"""
{_resample_cte()}
SELECT doc_id, n_tokens, log_ratio, p_accept
FROM p WHERE u < p_accept
""")
def t17_dsir_resample(spark: SparkSession, d: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023 §2, public): accept
    each document with probability ∝ exp(log_ratio) — the manifest a
    trainer reads to shift the mix toward the target domain.  The
    draw is a deterministic md5 hash of doc_id (reproducible across
    runs, engines, and partition layouts — the t9_hash_sample trick),
    quantized to 6 decimals exactly like p_accept so the comparison
    is engine-stable.

    Plan: t16's weight pipeline + one 1-row global max (two-phase
    partial agg), broadcast back — the resample adds NO new shuffle
    over the corpus; accept/reject is map-side."""
    from ..operators.dedup import md5_int32
    from .catalog_r7 import t16_dsir_weight
    lr = t16_dsir_weight(spark, d)
    mx = lr.agg(F.max("log_ratio").alias("m"))
    u = (F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":dsir"))),
                F.lit(1000000)).cast("double")
         / F.lit(1000000.0))
    scored = (lr.crossJoin(F.broadcast(mx))
              .withColumn("p_accept",
                          F.round(F.exp(F.col("log_ratio") - F.col("m")), 6))
              .withColumn("u", u))
    return (scored.filter(F.col("u") < F.col("p_accept"))
            .select("doc_id", "n_tokens", "log_ratio", "p_accept"))


@register("t17_dsir_mix", oracle=f"""
{_resample_cte()}
, acc AS (
  SELECT d.lang FROM p JOIN documents d USING (doc_id)
  WHERE p.u < p.p_accept
), src AS (
  SELECT round(sum((lang = 'en')::INT)::DOUBLE / count(*)::DOUBLE, 6)
           AS source_en_share,
         count(*)::BIGINT AS n_source
  FROM documents
), res AS (
  SELECT round(sum((lang = 'en')::INT)::DOUBLE / count(*)::DOUBLE, 6)
           AS resampled_en_share,
         count(*)::BIGINT AS n_resampled
  FROM acc
)
SELECT source_en_share, resampled_en_share, n_source, n_resampled,
       (resampled_en_share >= source_en_share) AS lift_ok
FROM src CROSS JOIN res
""")
def t17_dsir_mix(spark: SparkSession, d: str) -> DataFrame:
    """Mix-drift report for the DSIR resample: the achieved share of
    the target domain (lang='en') among accepted docs vs the source
    corpus share, plus the lift gate — resampling toward an 'en'
    target LM must not DECREASE the en share.  Two 1-row aggregates
    joined; the whole report is driver-value-checked, and
    tests/test_catalog_r8.py asserts lift_ok is actually true."""
    en = (F.col("lang") == "en").cast("int").cast("long")
    docs = _t(spark, d, "documents")
    src = docs.agg(
        F.round(F.sum(en).cast("double") / F.count("*").cast("double"), 6)
         .alias("source_en_share"),
        F.count("*").alias("n_source"))
    acc = (t17_dsir_resample(spark, d)
           .join(docs.select("doc_id", "lang"), "doc_id"))
    res = acc.agg(
        F.round(F.sum(en).cast("double") / F.count("*").cast("double"), 6)
         .alias("resampled_en_share"),
        F.count("*").alias("n_resampled"))
    return (src.crossJoin(res)
            .withColumn("lift_ok",
                        F.col("resampled_en_share")
                        >= F.col("source_en_share"))
            .select("source_en_share", "resampled_en_share",
                    "n_source", "n_resampled", "lift_ok"))


# ===========================================================================
# CCNet-style LM perplexity gate (Wenzek et al. 2020): corpus-trained
# add-one bigram LM, per-doc perplexity, head/middle/tail tertiles
# ===========================================================================

_Q1 = 0.3333333333333333
_Q2 = 0.6666666666666666


def _ppl_cte() -> str:
    from . import oracle_vec as OV
    return f"""
WITH toks AS (
  SELECT doc_id, {OV.tokens_sql('text')} AS t FROM documents
), bg AS (
  SELECT doc_id, s.prev AS prev, s.cur AS cur
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t)), i -> struct_pack(
             prev := CASE WHEN i = 0 THEN '<s>' ELSE t[i] END,
             cur := t[i + 1]))) AS s
    FROM toks WHERE len(t) > 0)
), c2 AS (
  SELECT prev, cur, count(*)::DOUBLE AS c2 FROM bg GROUP BY prev, cur
), c1 AS (
  SELECT prev, count(*)::DOUBLE AS c1 FROM bg GROUP BY prev
), consts AS (
  SELECT count(DISTINCT cur)::DOUBLE AS v FROM bg
), scored AS (
  SELECT b.doc_id,
         ln((c2.c2 + 1.0::DOUBLE) / (c1.c1 + consts.v)) AS lp
  FROM bg b JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
  CROSS JOIN consts
), per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(-avg(lp), 6) AS log_ppl,
         round(exp(-avg(lp)), 6) AS ppl
  FROM scored GROUP BY doc_id
), cuts AS (
  SELECT round(quantile_cont(log_ppl, {_Q1!r}), 6) AS c_head,
         round(quantile_cont(log_ppl, {_Q2!r}), 6) AS c_mid
  FROM per_doc
), bucketed AS (
  SELECT doc_id, n_bigrams, log_ppl, ppl,
         CASE WHEN log_ppl <= c_head THEN 'head'
              WHEN log_ppl <= c_mid THEN 'middle'
              ELSE 'tail' END AS ppl_bucket
  FROM per_doc CROSS JOIN cuts
)"""


def _ppl_frame(spark: SparkSession, d: str,
               cuts: str = "exact") -> DataFrame:
    """Per-doc bigram-LM perplexity + tertile bucket (Spark side of
    _ppl_cte; every constant and formula shared).

    ``cuts`` is the 100 TB knob the docstrings promised, now real
    (VERDICT r8 #1): "exact" (default — F.percentile, the value-
    oracled form: DuckDB quantile_cont twin) buffers every log_ppl in
    ONE aggregation buffer — a global barrier that dominates the
    funnel's stress ratio at 10x; "approx" swaps in the
    Greenwald-Khanna sketch (percentile_approx, accuracy 10000 —
    bounded state that PARTIAL-AGGREGATES map-side, so the cut
    costs one ordinary two-phase agg at any corpus size).  The
    approx mode is gated a11-style by ta_perplexity_approx
    (catalog_r9): exact cuts value-oracled, approx bucketing must
    agree on >= 99% of documents."""
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
    c2 = bg.groupBy("prev", "cur").agg(
        F.count("*").cast("double").alias("c2"))
    c1 = bg.groupBy("prev").agg(F.count("*").cast("double").alias("c1"))
    consts = bg.agg(F.count_distinct("cur").cast("double").alias("v"))
    lp = F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    scored = (bg.join(c2, ["prev", "cur"])
              .join(F.broadcast(c1), "prev")
              .crossJoin(F.broadcast(consts))
              .select("doc_id", lp.alias("lp")))
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("log_ppl"),
        F.round(F.exp(-F.avg("lp")), 6).alias("ppl"))
    if cuts == "approx":
        cuts_agg = per_doc.agg(
            F.round(F.expr(f"percentile_approx(log_ppl, {_Q1!r}, 10000)"),
                    6).alias("c_head"),
            F.round(F.expr(f"percentile_approx(log_ppl, {_Q2!r}, 10000)"),
                    6).alias("c_mid"))
    else:
        cuts_agg = per_doc.agg(
            F.round(F.percentile("log_ppl", F.lit(_Q1)), 6).alias("c_head"),
            F.round(F.percentile("log_ppl", F.lit(_Q2)), 6).alias("c_mid"))
    cuts = cuts_agg
    return (per_doc.crossJoin(F.broadcast(cuts))
            .select("doc_id", "n_bigrams", "log_ppl", "ppl",
                    F.when(F.col("log_ppl") <= F.col("c_head"), "head")
                     .when(F.col("log_ppl") <= F.col("c_mid"), "middle")
                     .otherwise("tail").alias("ppl_bucket")))


@register("ta_perplexity", oracle=f"""
{_ppl_cte()}
SELECT doc_id, n_bigrams, log_ppl, ppl, ppl_bucket FROM bucketed
""")
def ta_perplexity(spark: SparkSession, d: str) -> DataFrame:
    """CCNet-style perplexity gate (Wenzek et al. 2020, public: CCNet
    buckets Common Crawl by the perplexity of a Wikipedia-trained
    KenLM; here the LM is a corpus-trained add-one BIGRAM model — the
    library-free equivalent, one step up from ta_unigram_logprob):
    per-doc perplexity exp(-mean ln p(cur|prev)) with BOS context for
    the first token, bucketed head/middle/tail at the corpus tertiles
    (CCNet keeps head+middle).

    Plan: bigrams are built ARRAY-SIDE (no window/lag — one transform
    over the token array), the context-count table c1 is
    vocabulary-sized and broadcast explicitly (same argument as the
    DSIR LM tables), the bigram table joins on the composite
    (prev, cur) key — far flatter than a unigram key; at 100 TB AQE
    skew-split covers the residual 'of the' hot keys, or cap the
    vocab to top-K with an <unk> bucket to bound the table to K² and
    broadcast it too.  Tertile cutoffs are one exact-percentile
    1-row aggregate (swap in approx_percentile at 100 TB — identical
    plan shape, documented knob)."""
    return _ppl_frame(spark, d)


def _cc_modern_ppl_oracle() -> str:
    from .catalog_r7 import _cc_modern_oracle
    return f"""
WITH modern AS ({_cc_modern_oracle()}
), ppl AS ({_ppl_cte()}
SELECT doc_id, log_ppl, ppl, ppl_bucket FROM bucketed
)
SELECT m.*, p.ppl, p.ppl_bucket
FROM modern m JOIN ppl p USING (doc_id)
WHERE p.ppl_bucket <> 'tail'
"""


@register("cc_curate_modern_ppl", oracle=_cc_modern_ppl_oracle())
def cc_curate_modern_ppl(spark: SparkSession, d: str) -> DataFrame:
    """The full modern curation recipe WITH the CCNet perplexity gate:
    Gopher rules ∧ C4 page rules ∧ language gate → clean → exact
    near-dup keeper election → drop the perplexity TAIL tertile
    (CCNet §4.3 keeps head+middle).  A separate entry so
    cc_curate_modern keeps its pinned one-scan/one-shuffle shape —
    the perplexity branch is a second corpus pass by nature (it
    trains the LM on the corpus it scores)."""
    from .catalog_r7 import cc_curate_modern
    modern = cc_curate_modern(spark, d)
    ppl = _ppl_frame(spark, d).select(
        "doc_id", "ppl", "ppl_bucket")
    return (modern.join(ppl, "doc_id")
            .filter(F.col("ppl_bucket") != "tail"))


# ===========================================================================
# Span-level dedup: C4's real unit (three-sentence spans) with the
# skew-safe election of dd_line_dedup
# ===========================================================================

def _span_sql(expr: str) -> str:
    """DuckDB list of 3-sentence spans of ``expr`` (trimmed non-empty
    sentences; <3 sentences => one whole-text span; 0 => empty)."""
    from ..functions.text import SENTENCE_SPLIT_RE
    from .oracle_sql import sql_str
    sents = (f"list_filter(list_transform(regexp_split_to_array({expr}, "
             f"{sql_str(SENTENCE_SPLIT_RE)}), s -> trim(s)), s -> s <> '')")
    return f"""(
  CASE WHEN len({sents}) >= 3
       THEN list_transform(range(0, len({sents}) - 2),
              i -> array_to_string(list_slice({sents}, i + 1, i + 3), ' '))
       WHEN len({sents}) > 0
       THEN [array_to_string({sents}, ' ')]
       ELSE []::VARCHAR[] END)"""


def _spans_col():
    """Spark twin of _span_sql over the ``text`` column."""
    from ..functions.text import SENTENCE_SPLIT_RE
    sents = F.filter(
        F.transform(F.split(F.col("text"), SENTENCE_SPLIT_RE),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    n = F.size(sents)
    return (F.when(n >= 3,
                   F.transform(F.sequence(F.lit(0), n - 3),
                               lambda i: F.array_join(
                                   F.slice(sents, i + 1, 3), " ")))
            .when(n > 0, F.array(F.array_join(sents, " ")))
            .otherwise(F.array().cast("array<string>")))


@register("dd_span_dedup", headline=True, oracle=f"""
WITH spans AS (
  SELECT doc_id,
         unnest(list_transform({_span_sql('text')},
                (x, i) -> struct_pack(pos := i - 1, sp := x))) AS s
  FROM documents
), sp AS (
  SELECT doc_id, s.pos AS pos, s.sp AS sp FROM spans
), flagged AS (
  SELECT doc_id, pos, sp,
         (row_number() OVER (PARTITION BY md5(sp)
                             ORDER BY doc_id, pos) = 1) AS keep
  FROM sp
)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       sum(keep::INT)::BIGINT AS n_kept,
       md5(coalesce(string_agg(sp, chr(10) ORDER BY pos)
                    FILTER (WHERE keep), '')) AS dedup_md5
FROM flagged GROUP BY doc_id
""")
def dd_span_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Corpus-wide THREE-SENTENCE-SPAN dedup — C4's actual dedup unit
    (Raffel et al. 2020 §2.2: 'any three-sentence span occurring more
    than once'): sentences split on [.!?]+ (the F4/avg_sentence_words
    splitter), sliding stride-1 spans, every span keeps only its
    FIRST corpus occurrence (ordered by doc_id, position); docs
    shorter than three sentences contribute their whole text as one
    span so short exact-dups still collide (the word_shingles
    convention).

    Scale shape: same skew-safe election as dd_line_dedup — empty
    sentences are dropped ARRAY-SIDE (nothing degenerate enters the
    shuffle), first occurrence via groupBy(md5(span)).agg(
    min(struct(doc_id, pos, span))): partial-aggregable, so a
    corpus-wide boilerplate span costs one combiner cell per map
    task, and carrying the span text through the struct makes the
    election output the kept-span set directly — no join back over
    the corpus; only keepers and doc_id-keyed counts shuffle."""
    docs = _t(spark, d, "documents")
    sp = docs.select(
        "doc_id", F.posexplode(_spans_col()).alias("pos", "sp"))
    counts = sp.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    keepers = (sp.groupBy(F.md5("sp").alias("h"))
               .agg(F.min(F.struct("doc_id", "pos", "sp")).alias("f"))
               .select("f.doc_id", "f.pos", "f.sp"))
    agg = (keepers.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sp"))),
                lambda s: s["sp"]),
            "\n")).alias("dedup_md5")))
    return (counts.join(agg, "doc_id", "left")
            .select("doc_id", "n_spans",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("dedup_md5", F.md5(F.lit("")))
                     .alias("dedup_md5")))


# ===========================================================================
# Sequence packing: the step between curation and the trainer — docs
# are concatenated per shard and cut into fixed-length sequences
# ===========================================================================

_SEQ_LEN = 2048
_N_SHARDS = 8


def _packing_frame(spark: SparkSession, d: str) -> DataFrame:
    """Per-doc packing manifest: deterministic hash shard, running
    token offset within the shard (docs in doc_id order), and the
    first/last training sequence the doc lands in."""
    from ..functions.text import token_estimate
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    base = docs.select(
        "doc_id",
        F.greatest(F.lit(1), token_estimate(F.col("text")))
         .alias("est_tokens"),
        F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":shard"))),
               F.lit(_N_SHARDS)).alias("shard"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    off = (base
           .withColumn("tok_offset",
                       F.sum("est_tokens").over(w) - F.col("est_tokens")))
    return off.select(
        "doc_id", "shard", "est_tokens", "tok_offset",
        F.expr(f"tok_offset div {_SEQ_LEN}").alias("seq_start"),
        F.expr(f"(tok_offset + est_tokens - 1) div {_SEQ_LEN}")
         .alias("seq_end"))


_PACK_CTE = f"""
WITH base AS (
  SELECT doc_id,
         greatest(1, (length(text) // 4))::BIGINT AS est_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR || ':shard'), 1, 8))::BIGINT
           % {_N_SHARDS} AS shard
  FROM documents
), packed AS (
  SELECT doc_id, shard, est_tokens,
         (sum(est_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - est_tokens)::BIGINT AS tok_offset
  FROM base
), manifest AS (
  SELECT doc_id, shard, est_tokens, tok_offset,
         (tok_offset // {_SEQ_LEN})::BIGINT AS seq_start,
         ((tok_offset + est_tokens - 1) // {_SEQ_LEN})::BIGINT AS seq_end
  FROM packed
)"""


@register("t18_seq_packing", oracle=_PACK_CTE + """
SELECT doc_id, shard, est_tokens, tok_offset, seq_start, seq_end
FROM manifest
""")
def t18_seq_packing(spark: SparkSession, d: str) -> DataFrame:
    """Sequence-packing manifest — the step every pretraining pipeline
    runs between curation and the trainer (concatenate docs, cut at
    seq_len boundaries; GPT-3/Gopher convention): deterministic hash
    shards, doc_id order within shard, running token offset, and the
    [seq_start, seq_end] training-sequence range each doc occupies.

    Scale shape: the ONLY shuffle is the shard hash partition — the
    running-offset window is per-shard (shards are the parallel unit,
    uniform by construction: a hash of doc_id), and everything after
    the cumsum is map-side integer division.  est_tokens is the F8
    estimator (rag_engine.py:243) with a 1-token floor."""
    return _packing_frame(spark, d)


@register("t18_packing_stats", oracle=_PACK_CTE + f"""
SELECT shard, count(*)::BIGINT AS n_docs,
       sum(est_tokens)::BIGINT AS total_tokens,
       ((sum(est_tokens) + {_SEQ_LEN - 1}) // {_SEQ_LEN})::BIGINT
         AS n_seqs,
       (((sum(est_tokens) + {_SEQ_LEN - 1}) // {_SEQ_LEN}) * {_SEQ_LEN}
        - sum(est_tokens))::BIGINT AS tail_waste,
       sum((seq_start <> seq_end)::INT)::BIGINT AS n_crossing
FROM manifest GROUP BY shard ORDER BY shard
""")
def t18_packing_stats(spark: SparkSession, d: str) -> DataFrame:
    """Packing efficiency report per shard: sequence count, tail
    padding waste, and how many docs straddle a sequence boundary
    (the attention-mask / document-boundary accounting a trainer
    needs).  Pure BIGINT arithmetic — bit-identical cross-engine."""
    m = _packing_frame(spark, d)
    total = F.sum("est_tokens")
    n_seqs = F.expr(f"(sum(est_tokens) + {_SEQ_LEN - 1}) div {_SEQ_LEN}")
    return (m.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        total.alias("total_tokens"),
        n_seqs.alias("n_seqs"),
        (n_seqs * _SEQ_LEN - total).alias("tail_waste"),
        F.sum((F.col("seq_start") != F.col("seq_end")).cast("int"))
         .alias("n_crossing"))
        .orderBy("shard"))


# ===========================================================================
# Domain-mix rebalancing: deterministic per-source downsampling to a
# target mixture (uniform here), all-integer thresholds
# ===========================================================================

def _mix_cte() -> str:
    return """
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
), per_src AS (
  SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source
), mn AS (
  SELECT min(n_s) AS m FROM per_src
), th AS (
  SELECT source, n_s, ((m * 1000000) // n_s)::BIGINT AS thresh
  FROM per_src CROSS JOIN mn
), kept AS (
  SELECT b.doc_id, b.source
  FROM b JOIN th USING (source) WHERE b.bucket < th.thresh
)"""


@register("t19_domain_mix", oracle=_mix_cte() + """
SELECT doc_id, source FROM kept
""")
def t19_domain_mix(spark: SparkSession, d: str) -> DataFrame:
    """Domain-mix rebalancing manifest: downsample every source to a
    UNIFORM target mixture (the equalize-domains baseline of mixture
    tuning; any weight vector drops into the same threshold formula).
    Feasible volume under uniform weights is min_s(n_s) per source;
    acceptance is a deterministic integer hash threshold —
    bucket < (min_n * 1e6) div n_s — so the manifest is reproducible
    across runs, engines, and partitionings, with NO float anywhere.

    Scale shape: one vocabulary-of-sources-sized count aggregate,
    broadcast back; accept/reject is MAP-SIDE (no per-source rank
    window — a window partitioned by source would funnel a 100 TB
    source's rows into one reducer; the threshold form trades exact
    per-source counts for expected counts, the standard production
    trade, and the report entry shows the achieved mix)."""
    from ..operators.dedup import md5_int32
    docs = _t(spark, d, "documents")
    b = docs.select(
        "doc_id", "source",
        F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":mix"))),
               F.lit(1000000)).alias("bucket"))
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    mn = per_src.agg(F.min("n_s").alias("m"))
    th = (per_src.crossJoin(F.broadcast(mn))
          .select("source", "n_s",
                  F.expr("(m * 1000000) div n_s").alias("thresh")))
    return (b.join(F.broadcast(th), "source")
            .filter(F.col("bucket") < F.col("thresh"))
            .select("doc_id", "source"))


@register("t19_domain_mix_report", oracle=_mix_cte() + """
SELECT t.source, t.n_s, t.thresh,
       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       round(coalesce(k.n_kept, 0)::DOUBLE
             / (SELECT count(*) FROM kept)::DOUBLE, 6)
         AS achieved_share,
       round(1.0::DOUBLE
             / (SELECT count(*) FROM per_src)::DOUBLE, 6)
         AS target_share
FROM th t
LEFT JOIN (SELECT source, count(*)::BIGINT AS n_kept
           FROM kept GROUP BY source) k USING (source)
ORDER BY t.source
""")
def t19_domain_mix_report(spark: SparkSession, d: str) -> DataFrame:
    """Achieved-vs-target mix report for t19_domain_mix: per source,
    the corpus count, the integer acceptance threshold, kept count,
    and achieved vs target share — the drift a mixture-tuning loop
    monitors."""
    kept = t19_domain_mix(spark, d)
    docs = _t(spark, d, "documents")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    mn = per_src.agg(F.min("n_s").alias("m"))
    th = (per_src.crossJoin(F.broadcast(mn))
          .select("source", "n_s",
                  F.expr("(m * 1000000) div n_s").alias("thresh")))
    k = kept.groupBy("source").agg(F.count("*").alias("n_kept"))
    totals = kept.agg(F.count("*").alias("n_total"))
    n_src = per_src.agg(F.count("*").cast("double").alias("n_sources"))
    return (th.join(k, "source", "left")
            .crossJoin(F.broadcast(totals))
            .crossJoin(F.broadcast(n_src))
            .select("source", "n_s", "thresh",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.round(F.coalesce("n_kept", F.lit(0)).cast("double")
                            / F.col("n_total").cast("double"), 6)
                     .alias("achieved_share"),
                    F.round(F.lit(1.0) / F.col("n_sources"), 6)
                     .alias("target_share"))
            .orderBy("source"))


# ===========================================================================
# BPE merge learning: tokenizer training as a value-oracled iterative
# operator (Sennrich et al. 2016)
# ===========================================================================

_BPE_K = 4


def _bpe_chain(full: bool, n_merges: int = _BPE_K) -> str:
    """CTE chain through the merge iterations; with ``full`` the final
    merged representation r{n_merges} is included (the apply oracle
    needs it, the learn oracle stops at the last arg-max).
    ``n_merges`` parameterizes the unroll depth (VERDICT r8 #7 — the
    depth-16 entries in catalog_r9 share this chain)."""
    from . import oracle_vec as OV
    parts = [f"""
WITH toks AS (
  SELECT unnest({OV.tokens_sql('text')}) AS tok FROM documents
), w AS (
  SELECT tok, count(*)::BIGINT AS freq FROM toks GROUP BY tok
), r0 AS MATERIALIZED (
  SELECT tok, freq, string_split(tok, '') AS syms FROM w
)"""]
    for k in range(n_merges):
        parts.append(f""", p{k} AS MATERIALIZED (
  SELECT s.a AS a, s.b AS b, sum(freq)::BIGINT AS cnt
  FROM (SELECT freq,
        unnest(list_transform(range(1, len(syms)),
               i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS s
        FROM r{k} WHERE len(syms) >= 2)
  GROUP BY s.a, s.b
), m{k} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
)""")
        if k < n_merges - 1 or full:
            parts.append(f""", r{k + 1} AS MATERIALIZED (
  SELECT tok, freq,
         string_split(list_reduce(syms, (acc, x) ->
           CASE WHEN (acc = m{k}.a OR ends_with(acc, ' ' || m{k}.a))
                     AND x = m{k}.b
                THEN left(acc, len(acc) - len(m{k}.a)) || m{k}.a || m{k}.b
                ELSE acc || ' ' || x END), ' ') AS syms
  FROM r{k} CROSS JOIN m{k}
)""")
    return "".join(parts)


def _bpe_oracle() -> str:
    parts = [_bpe_chain(full=False)]
    sel = "\nUNION ALL\n".join(
        f"SELECT {k + 1}::BIGINT AS merge_rank, a AS lhs, b AS rhs, "
        f"a || b AS merged, cnt AS pair_count FROM m{k}"
        for k in range(_BPE_K))
    parts.append("\n" + sel + "\nORDER BY merge_rank")
    return "".join(parts)


@register("t20_bpe_merges", oracle=_bpe_oracle())
def t20_bpe_merges(spark: SparkSession, d: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016, public — the
    byte-pair-encoding merge loop behind GPT/Llama vocabularies),
    first {K} merges learned from the corpus: count adjacent symbol
    pairs weighted by word frequency, merge the arg-max pair
    everywhere (greedy left-to-right, the canonical semantics),
    repeat.  The merge application is a string FOLD over the symbol
    array (F.aggregate / DuckDB list_reduce with the identical
    accumulator expression — probed cross-engine on 'aabab' ->
    'a ab ab'), so the learned merge TABLE is bit-identical in both
    engines: an iterative training algorithm under a full value
    oracle, deterministic ties broken (count DESC, pair lexicographic
    — both engines binary collation).

    Plan: pair counting is explode -> two-phase hash aggregate over
    the VOCABULARY table (words x freq, not the corpus — the corpus
    is touched once to build it), each iteration's arg-max is a
    1-row collect (bounded metadata, like the PageRank rank vector),
    and the merge rewrite is a map-side array fold.  At 100 TB the
    vocab table is exactly the DSIR/perplexity LM-table shape."""
    merges, _ = _bpe_learn(spark, d)
    return spark.createDataFrame(
        merges,
        "merge_rank long, lhs string, rhs string, "
        "merged string, pair_count long")


def _bpe_learn(spark: SparkSession, d: str, n_merges: int = _BPE_K,
               curve_at: tuple | None = None):
    """Run the merge loop; returns (merge table rows, the words frame
    with the FULLY-merged symbol representation) — plus, when
    ``curve_at`` is given, a third element [(m, vocab frame at m
    merges), ...] captured DURING the single loop (one pass to the
    deepest checkpoint, not a re-learn per point).

    ``n_merges`` parameterizes the depth (real vocab training runs
    thousands of merges; the catalog_r9 entries run 16 — VERDICT r8
    #7).  The vocab frame is materialized after each merge rewrite:
    per-iteration work stays vocab-table-sized instead of re-folding
    the whole chain from r0 (O(k^2) fold applications and a k-deep
    codegen expression without it) — the honest driver-side bound is
    the 1-row arg-max collect per merge, exactly like the PageRank rank
    vector."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    words = (docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count("*").alias("freq")))
    w = words.withColumn("syms", F.split("tok", ""))
    merges = []
    curve = []
    if curve_at is not None and 0 in curve_at:
        curve.append((0, w))
    for k in range(n_merges):
        syms = F.col("syms")
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(F.element_at(syms, i).alias("a"),
                               F.element_at(syms, i + 1).alias("b")))
        pc = (w.filter(F.size("syms") >= 2)
              .select("freq", F.explode(pairs).alias("p"))
              .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
              .agg(F.sum("freq").alias("cnt")))
        best = pc.orderBy(F.desc("cnt"), "a", "b").first()
        a, b, cnt = best["a"], best["b"], int(best["cnt"])
        merges.append((k + 1, a, b, a + b, cnt))
        init = F.element_at(syms, 1)
        rest = F.slice(syms, 2, F.size(syms) - 1)
        folded = F.aggregate(
            rest, init,
            lambda acc, x:
            F.when(((acc == F.lit(a)) | acc.endswith(" " + a))
                   & (x == F.lit(b)),
                   F.concat(acc.substr(F.lit(1),
                                       F.length(acc) - F.lit(len(a))),
                            F.lit(a + b)))
             .otherwise(F.concat(acc, F.lit(" "), x)))
        w = materialize(w.withColumn("syms", F.split(folded, " ")),
                        "bpe:rewrite")
        if curve_at is not None and (k + 1) in curve_at:
            curve.append((k + 1, w))
    if curve_at is not None:
        return merges, w, curve
    return merges, w


def _bpe_apply_oracle() -> str:
    from . import oracle_vec as OV
    return _bpe_chain(full=True) + f"""
, bpe_len AS (
  SELECT tok, len(syms)::BIGINT AS n_sym FROM r{_BPE_K}
), doc_toks AS (
  SELECT doc_id, unnest({OV.tokens_sql('text')}) AS tok FROM documents
)
SELECT dt.doc_id, count(*)::BIGINT AS n_words,
       sum(b.n_sym)::BIGINT AS n_bpe_tokens,
       round(sum(b.n_sym)::DOUBLE / count(*)::DOUBLE, 6)
         AS symbols_per_word
FROM doc_toks dt JOIN bpe_len b USING (tok)
GROUP BY dt.doc_id
"""


@register("t20_bpe_apply", oracle=_bpe_apply_oracle())
def t20_bpe_apply(spark: SparkSession, d: str) -> DataFrame:
    """Apply the learned BPE merge table back to the corpus: per
    document, whitespace-word count vs symbol count under the
    4-merge vocabulary — the compression accounting (symbols/word
    falls as merges land) that tokenizer training monitors.  The
    per-word symbol length comes from the SAME fully-merged vocabulary
    frame the learner produced (train -> apply, one vocab-sized
    broadcast join; the corpus token stream never re-folds)."""
    from ..operators.dedup import tokens
    _, w = _bpe_learn(spark, d)
    bpe_len = w.select("tok", F.size("syms").cast("long").alias("n_sym"))
    docs = _t(spark, d, "documents")
    dt = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    return (dt.join(F.broadcast(bpe_len), "tok")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_words"),
                 F.sum("n_sym").alias("n_bpe_tokens"),
                 F.round(F.sum("n_sym").cast("double")
                         / F.count("*").cast("double"), 6)
                  .alias("symbols_per_word")))


# ===========================================================================
# Sketch gates: HLL cardinality and quantile sketches vs their exact
# twins — the only viable distinct/quantile tools at 100 TB
# ===========================================================================

@register("a10_hll_cardinality", oracle="""
SELECT source, count(DISTINCT md5(text))::BIGINT AS n_exact,
       TRUE AS within_bound
FROM documents GROUP BY source ORDER BY source
""")
def a10_hll_cardinality(spark: SparkSession, d: str) -> DataFrame:
    """Distinct-content cardinality per source via HyperLogLog++
    (approx_count_distinct, rsd 0.05) GATED against the exact
    count — the recall-gate pattern for sketches: the exact value is
    driver-value-checked, the sketch must land within 3x its stated
    relative error.  At 100 TB the sketch is the only viable form —
    its fixed-size buffers partial-aggregate map-side, where exact
    distinct shuffles every distinct value."""
    docs = _t(spark, d, "documents")
    h = F.md5("text")
    agg = docs.groupBy("source").agg(
        F.count_distinct(h).alias("n_exact"),
        F.approx_count_distinct(h, 0.05).alias("__approx"))
    return (agg.select(
        "source", "n_exact",
        (F.abs(F.col("__approx") - F.col("n_exact"))
         <= 0.15 * F.col("n_exact")).alias("within_bound"))
        .orderBy("source"))


@register("a11_quantile_sketch", oracle="""
SELECT lang,
       quantile_disc(n_chars, 0.5)::BIGINT AS p50_exact,
       TRUE AS within_bound
FROM documents GROUP BY lang ORDER BY lang
""")
def a11_quantile_sketch(spark: SparkSession, d: str) -> DataFrame:
    """Median document length per language via the Greenwald-Khanna
    quantile sketch (approx_percentile, accuracy 1000) gated against
    the exact discrete median (both sides pick an actual data value,
    so the exact twin is engine-stable).  Same scale argument as the
    HLL gate: bounded sketch state partial-aggregates; exact
    percentile buffers every value."""
    docs = _t(spark, d, "documents")
    agg = docs.groupBy("lang").agg(
        F.expr("percentile_approx(n_chars, 0.5, 1000)").alias("__approx"),
        F.sort_array(F.collect_list("n_chars")).alias("__vals"))
    # exact DISCRETE median: the value at ceil(n/2) in sorted order —
    # matches DuckDB quantile_disc's lower-median convention
    disc = F.element_at(F.col("__vals"),
                        ((F.size("__vals") + 1) / 2).cast("int"))
    return (agg.select(
        "lang", disc.cast("long").alias("p50_exact"),
        (F.abs(F.col("__approx").cast("double") - disc.cast("double"))
         <= 0.2 * disc.cast("double") + 1.0).alias("within_bound"))
        .orderBy("lang"))


# ===========================================================================
# Incremental corpus-wide line dedup: the continuous-ingest twin of
# dd_line_dedup (same pattern as st_cc_curate — custom-source stream,
# per-batch merge into a versioned store, stream == batch parity)
# ===========================================================================

def _line_dedup_merge(spark: SparkSession, batch_docs: DataFrame,
                      store: str, epoch_id: int) -> None:
    """Fold one micro-batch into the line-dedup state.  The election
    is a MIN-SEMILATTICE (per line hash, min(struct(doc_id,pos,ln)))
    — order-independent and incrementally mergeable, so tranches may
    arrive in ANY doc order and the drained state still equals the
    batch answer (a later-arriving smaller doc_id retroactively
    steals keeper status at merge time).  Blanks and per-doc line
    counts are append-only (each doc arrives exactly once)."""
    from ..sources.tables import fold_version

    lines = batch_docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "ln"))
    blank = F.regexp_replace("ln", r"^\s+|\s+$", "") == ""
    lines = lines.withColumn("blank", blank)
    fold_version(spark, f"{store}/elect", epoch_id,
                 lines.filter(~F.col("blank"))
                 .groupBy(F.md5("ln").alias("h"))
                 .agg(F.min(F.struct("doc_id", "pos", "ln")).alias("f")),
                 lambda p, i: (p.unionByName(i)
                               .groupBy("h").agg(F.min("f").alias("f"))))
    fold_version(spark, f"{store}/blanks", epoch_id,
                 lines.filter(F.col("blank")).select("doc_id", "pos", "ln"),
                 DataFrame.unionByName)
    fold_version(spark, f"{store}/counts", epoch_id,
                 lines.groupBy("doc_id").agg(F.count("*").alias("n_lines")),
                 DataFrame.unionByName)


def _st_line_dedup_oracle() -> str:
    """Stream == batch: the drained store must reproduce
    dd_line_dedup's exact answer."""
    from .registry import CATALOG
    return CATALOG["dd_line_dedup"].oracle


@register("st_dd_line_dedup", oracle=_st_line_dedup_oracle)
def st_dd_line_dedup(spark: SparkSession, d: str) -> DataFrame:
    """Continuous corpus-wide line dedup — the production shape of
    dd_line_dedup for a crawl that never stops: each micro-batch of
    the paged tranches folds its per-hash min-structs / blanks /
    counts into versioned stores, and the final reassembly over the
    stores alone (the corpus is never re-read) hash-matches batch
    dd_line_dedup's oracle."""
    import shutil
    from ..session import scratch
    from ..sources.tables import read_version
    from ..streaming import pipeline as SP

    docs = _t(spark, d, "documents")
    store = scratch("st_ld_store")
    shutil.rmtree(store, ignore_errors=True)

    def merge(rows: DataFrame, epoch_id: int) -> None:
        batch_docs = rows.select(F.col("page_id").cast("long").alias("doc_id"),
                                 F.col("title").alias("text"))
        _line_dedup_merge(rows.sparkSession, batch_docs, store, epoch_id)

    SP.drain_paged_tranches(spark, "st_ld",
                            SP.parity_tranches(SP.doc_pages(docs)), merge)

    elect = read_version(spark, f"{store}/elect") \
        .select("f.doc_id", "f.pos", "f.ln")
    blanks = read_version(spark, f"{store}/blanks")
    counts = read_version(spark, f"{store}/counts")
    keepers = elect.unionByName(blanks)
    agg = (keepers.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"]),
            "\n")).alias("dedup_md5")))
    return (counts.join(agg, "doc_id", "left")
            .select("doc_id", "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("dedup_md5", F.md5(F.lit("")))
                     .alias("dedup_md5"))
            .orderBy("doc_id"))


# ===========================================================================
# Duplicated n-gram profile: the fine-grained "how much of this doc is
# corpus-duplicated text" metric (Lee et al. 2021)
# ===========================================================================

_DUPG_N = 8


def _dupgram_oracle() -> str:
    from . import oracle_vec as OV
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
)
SELECT g.doc_id, count(*)::BIGINT AS n_grams,
       sum((gc.c > 1)::INT)::BIGINT AS n_dup_grams,
       round(sum((gc.c > 1)::INT)::DOUBLE / count(*)::DOUBLE, 6)
         AS dup_frac
FROM g JOIN gc ON gc.h = md5(g.gram)
GROUP BY g.doc_id
"""


@register("dd_dupgram_profile", oracle=_dupgram_oracle())
def dd_dupgram_profile(spark: SparkSession, d: str) -> DataFrame:
    """Duplicated-n-gram profile (Lee et al. 2021, public —
    'Deduplicating Training Data Makes Language Models Better'): per
    document, the fraction of its word 8-grams (sliding, WITH
    multiplicity) that occur more than once in the WHOLE corpus — the
    fine-grained duplication signal between exact-doc dedup (too
    coarse) and line/span dedup (structural units); docs under 8
    tokens contribute their whole text as one gram so short dups
    still register.

    Scale shape: one corpus-wide gram-count aggregate on md5(gram)
    (8-gram keys are FLAT — the blank-line/stopword skew of unigram
    keys doesn't exist at n=8; partial-aggregated) and one join back
    on the same flat key (AQE-skew-splittable), then a per-doc
    aggregate.  The gram text itself never shuffles twice: the join
    carries only hashes, doc_id and the count."""
    from ..operators.dedup import tokens
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
                 F.sum((F.col("c") > 1).cast("int").cast("long"))
                  .alias("n_dup_grams"),
                 F.round(F.sum((F.col("c") > 1).cast("int"))
                         .cast("double") / F.count("*").cast("double"), 6)
                  .alias("dup_frac")))


# ===========================================================================
# Quality CLASSIFIER (GPT-3 recipe) — Gopher/C4/CCNet-perplexity/DSIR
# are rule- and LM-based; the remaining member of the published
# curation family is the trained quality classifier (Brown et al.
# 2020, "Language Models are Few-Shot Learners", Appendix A —
# public): score documents against a high-quality class and keep by a
# Pareto-thresholded score.  fastText/LR isn't SQL-expressible, so the
# classifier here is multinomial Naive Bayes over the same unigram
# features DSIR uses — closed-form training (two class-conditional
# count tables), which makes BOTH training and inference pure
# DataFrame algebra, value-oracled end to end.  Weak labels come from
# the Gopher gate (positive class), mirroring GPT-3's use of a known
# high-quality corpus as the positive set.
# ===========================================================================

_NB_SCALE = 1_000_000


def _nb_doc_cte() -> str:
    from ..operators.curation_rules import gopher_sql
    from . import oracle_vec as OV
    toks = OV.tokens_sql("text")
    return f"""
WITH g AS (
  SELECT doc_id, gopher_pass AS pos, {toks} AS toks
  FROM (SELECT doc_id, text, {gopher_sql('text')} FROM documents)
), tk AS (
  SELECT doc_id, pos, unnest(toks) AS tok FROM g
), cls AS (
  SELECT tok, sum(pos::INT)::DOUBLE AS c_pos,
         sum((NOT pos)::INT)::DOUBLE AS c_neg
  FROM tk GROUP BY tok
), consts AS (
  SELECT (SELECT sum(c_pos) FROM cls) AS n_pos_tok,
         (SELECT sum(c_neg) FROM cls) AS n_neg_tok,
         (SELECT count(*)::DOUBLE FROM cls) AS v,
         (SELECT sum(pos::INT)::DOUBLE FROM g) AS n_pos_docs,
         (SELECT sum((NOT pos)::INT)::DOUBLE FROM g) AS n_neg_docs
), lr AS (
  SELECT tok,
         CAST(round((ln((c_pos + 1.0::DOUBLE) / (c.n_pos_tok + c.v))
                     - ln((c_neg + 1.0::DOUBLE) / (c.n_neg_tok + c.v)))
                    * {_NB_SCALE}) AS BIGINT) AS lr_s
  FROM cls CROSS JOIN consts c
), pri AS (
  SELECT CAST(round(ln((n_pos_docs + 1.0::DOUBLE)
                       / (n_neg_docs + 1.0::DOUBLE)) * {_NB_SCALE})
              AS BIGINT) AS prior_s
  FROM consts
), nb AS (
  SELECT t.doc_id, t.pos AS gopher_pass,
         count(*)::BIGINT AS n_tokens,
         (p.prior_s + CAST(sum(l.lr_s) AS BIGINT)) AS score_s
  FROM tk t JOIN lr l USING (tok) CROSS JOIN pri p
  GROUP BY t.doc_id, t.pos, p.prior_s
), scored AS (
  SELECT doc_id, gopher_pass, n_tokens,
         round(score_s::DOUBLE / {_NB_SCALE}.0, 6) AS log_odds,
         (score_s > 0) AS nb_pass,
         score_s
  FROM nb
)"""


def _nb_doc_scores(spark: SparkSession, d: str) -> DataFrame:
    """Shared Spark plan: weak-label projection (map-side Gopher gate),
    token explode, class-conditional count tables (vocabulary-sized,
    BROADCAST back like t16's LM tables — the Zipf-hot token stream
    never shuffles on tok), per-doc integer score sum.  Per-token
    log-ratios quantize to round(lr * 1e6) BIGINT before summing, so
    the per-doc reduction is exact integer arithmetic in any order —
    the r8 6-decimal-quantization discipline."""
    from ..operators.curation_rules import gopher_flags
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    # three reductions (class counts, doc prior, score join) read the
    # gated, tokenized frame: one cut instead of three gate + tokenize runs
    base = materialize(docs.select(
        "doc_id",
        gopher_flags(F.col("text"))["gopher_pass"].alias("pos"),
        tokens(F.col("text")).alias("toks")), "t21:tokens")
    return _nb_scores_from(base)


def _nb_scores_from(base: DataFrame) -> DataFrame:
    """NB train + score from a prepared (doc_id, pos, toks) frame —
    factored so the math (add-one smoothing, 1e-6 quantization,
    integer score sums) is fuzzable against a plain-Python reference
    (tests/test_nb_fuzz.py) independent of the Gopher labeler."""
    # r15: explode via the coalesce wrapper — a bare-attribute explode
    # makes InferFiltersFromGenerate add size(toks)>0, which predicate
    # pushdown re-substitutes into the Gopher-gate + tokenize tree and
    # evaluates 2x more per row at each of this plan's scans (see
    # operators/dedup.py::explode_attr).  Row-identical.
    from ..operators.dedup import explode_attr
    tk = base.select("doc_id", "pos",
                     explode_attr(F.col("toks")).alias("tok"))
    pos_i = F.col("pos").cast("int")
    # vocabulary-sized table read by three broadcast builds (consts, lr,
    # pri): one explode + vocabulary shuffle instead of three
    cls = materialize(tk.groupBy("tok").agg(
        F.sum(pos_i).cast("double").alias("c_pos"),
        F.sum(1 - pos_i).cast("double").alias("c_neg")), "t21:class_counts")
    consts = (cls.agg(F.sum("c_pos").alias("n_pos_tok"),
                      F.sum("c_neg").alias("n_neg_tok"),
                      F.count("*").cast("double").alias("v"))
              .crossJoin(base.agg(
                  F.sum(pos_i).cast("double").alias("n_pos_docs"),
                  F.sum(1 - pos_i).cast("double").alias("n_neg_docs"))))
    lr_val = (F.log((F.col("c_pos") + 1.0) / (F.col("n_pos_tok") + F.col("v")))
              - F.log((F.col("c_neg") + 1.0)
                      / (F.col("n_neg_tok") + F.col("v"))))
    lr = (cls.crossJoin(F.broadcast(consts))
          .select("tok", F.round(lr_val * _NB_SCALE).cast("long")
                  .alias("lr_s")))
    pri = consts.select(
        F.round(F.log((F.col("n_pos_docs") + 1.0)
                      / (F.col("n_neg_docs") + 1.0)) * _NB_SCALE)
        .cast("long").alias("prior_s"))
    return (tk.join(F.broadcast(lr), "tok")
            .crossJoin(F.broadcast(pri))
            .groupBy("doc_id", F.col("pos").alias("gopher_pass"),
                     "prior_s")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("lr_s").alias("sum_lr"))
            .select("doc_id", "gopher_pass", "n_tokens",
                    (F.col("prior_s") + F.col("sum_lr")).alias("score_s"))
            .select("doc_id", "gopher_pass", "n_tokens",
                    F.round(F.col("score_s").cast("double") / _NB_SCALE, 6)
                     .alias("log_odds"),
                    (F.col("score_s") > 0).alias("nb_pass"),
                    "score_s"))


@register("t21_nb_quality", headline=True, oracle=_nb_doc_cte() + """
SELECT doc_id, gopher_pass, n_tokens, log_odds, nb_pass FROM scored
""")
def t21_nb_quality(spark: SparkSession, d: str) -> DataFrame:
    """Trained quality classifier, GPT-3 style (Brown et al. 2020
    App. A, public): multinomial Naive Bayes with add-one smoothing
    over unigram features, weak-labeled by the Gopher gate as the
    high-quality class.  Emits the per-doc log-odds and the
    classifier verdict next to the rule-based label it was trained
    on.

    100 TB shape: identical to t16_dsir_weight — the only corpus-level
    state is vocabulary-sized tables (class-conditional counts →
    quantized log-ratio table), broadcast to the token stream; no
    shuffle keys skewed by Zipf; training is a closed-form aggregate,
    not an iterative fit."""
    return _nb_doc_scores(spark, d).drop("score_s")


@register("t21_nb_confusion", oracle=_nb_doc_cte() + """
SELECT gopher_pass, nb_pass, count(*)::BIGINT AS n,
       CAST(sum(n_tokens) AS BIGINT) AS tokens
FROM scored GROUP BY gopher_pass, nb_pass
ORDER BY gopher_pass, nb_pass
""")
def t21_nb_confusion(spark: SparkSession, d: str) -> DataFrame:
    """Classifier-vs-rule agreement matrix: where the trained NB
    verdict and the Gopher weak label agree/disagree, with token mass
    — the drift report a curation team reads before swapping the rule
    gate for the classifier gate (disagreement cells are exactly the
    docs whose fate changes)."""
    return (_nb_doc_scores(spark, d)
            .groupBy("gopher_pass", "nb_pass")
            .agg(F.count("*").alias("n"),
                 F.sum("n_tokens").cast("long").alias("tokens"))
            .orderBy("gopher_pass", "nb_pass"))


@register("t21_nb_filter", oracle=_nb_doc_cte() + f"""
, par AS (
  SELECT doc_id, log_odds,
         round(1.0::DOUBLE / (1.0::DOUBLE + exp(-log_odds)), 6) AS prob,
         round(exp(ln((('0x' || substr(md5(doc_id::VARCHAR || ':nbq'), 1, 8))
                       ::BIGINT % {_NB_SCALE} + 1)::DOUBLE
                      / {_NB_SCALE + 1}.0::DOUBLE)
                   * (-1.0::DOUBLE / 9.0::DOUBLE)) - 1.0::DOUBLE, 6)
           AS pareto_draw
  FROM scored
)
SELECT doc_id, log_odds, prob, pareto_draw
FROM par WHERE prob > round(1.0::DOUBLE - pareto_draw, 6)
""")
def t21_nb_filter(spark: SparkSession, d: str) -> DataFrame:
    """The GPT-3 keep rule verbatim (Brown et al. 2020 App. A:
    'kept if score > 1 - pareto(alpha=9)'): classifier probability
    (sigmoid of the NB log-odds) thresholded against a deterministic
    per-doc Pareto(9) draw — mostly keeping high-scoring docs but
    sampling some low-scoring ones for diversity.  The draw derives
    from md5(doc_id) (t9_hash_sample trick), mapped through the
    inverse-CDF u^(-1/9) - 1 written as exp(ln(u) * -1/9) in BOTH
    engines and quantized to 6 decimals, so keep/drop is an exact
    comparison of identically-rendered values.  Map-side after the
    t21 scoring plan — the filter adds no shuffle."""
    scored = _nb_doc_scores(spark, d)
    from ..operators.dedup import md5_int32
    u = ((F.pmod(md5_int32(F.concat(F.col("doc_id").cast("string"),
                                    F.lit(":nbq"))),
                 F.lit(_NB_SCALE)) + 1)
         .cast("double") / F.lit(float(_NB_SCALE + 1)))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds"))), 6)
    draw = F.round(F.exp(F.log(u) * (F.lit(-1.0) / F.lit(9.0))) - 1.0, 6)
    return (scored
            .withColumn("prob", prob)
            .withColumn("pareto_draw", draw)
            .filter(F.col("prob") > F.round(F.lit(1.0) - F.col("pareto_draw"),
                                            6))
            .select("doc_id", "log_odds", "prob", "pareto_draw"))


# ===========================================================================
# Z-ORDER data layout — multi-dimensional clustering for scan pruning
# (Morton-curve interleaving, public: Morton 1966; the Delta/Iceberg
# OPTIMIZE ZORDER BY primitive).  At 100 TB the win is file skipping:
# a table laid out by z(custkey, order-day) serves BOTH custkey point
# queries and date-range queries from a small fraction of files,
# where a single-dim sort serves only one of them.  Everything below
# is exact integer arithmetic (bit interleaving, integer-normalized
# grid), value-oracled; the bucket stats ARE the min/max footer index
# a writer would persist.
# ===========================================================================

_Z_BITS = 16          # per-dimension grid resolution
_Z_BUCKETS_LOG2 = 5   # 32 buckets ~ files


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave two 16-bit ints (SQL form) — x in even bits."""
    terms = []
    for i in range(_Z_BITS):
        # explicit BIGINT on the shifted bit: DuckDB's << overflows in
        # INT32 once the target position passes 30 (found by the fuzz
        # in tests/test_morton_fuzz.py; column inputs were already
        # BIGINT, but the fragment must be safe for any integer expr)
        terms.append(f"(((({x} >> {i}) & 1)::BIGINT) << {2 * i})")
        terms.append(f"(((({y} >> {i}) & 1)::BIGINT) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _morton_col(x, y):
    """Bit-interleave two 16-bit ints (Column form, same bit layout)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)),
                            2 * i + 1)
    return z


def _zorder_cte() -> str:
    g = 1 << _Z_BITS
    shift = 2 * _Z_BITS - _Z_BUCKETS_LOG2
    dshift = _Z_BITS - _Z_BUCKETS_LOG2
    z = _morton_sql("xs", "ys")
    return f"""
WITH pts AS (
  SELECT o_orderkey, o_custkey::BIGINT AS ck,
         date_diff('day', DATE '1992-01-01', o_orderdate::DATE)::BIGINT
           AS day
  FROM orders
), bounds AS (
  SELECT min(ck) AS ck_lo, max(ck) - min(ck) + 1 AS ck_ext,
         min(day) AS day_lo, max(day) - min(day) + 1 AS day_ext
  FROM pts
), grid AS (
  SELECT o_orderkey, ck, day,
         ((ck - b.ck_lo) * {g}) // b.ck_ext AS xs,
         ((day - b.day_lo) * {g}) // b.day_ext AS ys
  FROM pts CROSS JOIN bounds b
), zed AS (
  SELECT o_orderkey, ck, day,
         ({z} >> {shift}) AS z_bucket,
         (xs >> {dshift}) AS ck_bucket,
         (ys >> {dshift}) AS day_bucket
  FROM grid
)"""


def _zorder_df(spark: SparkSession, d: str) -> DataFrame:
    """Shared Spark plan: bounds are ONE partial-aggregated row,
    broadcast back; grid normalization, Morton interleave, and all
    three bucket assignments are pure map-side integer column
    arithmetic — laying out 100 TB this way is one repartitionByRange
    on z_bucket at write time, no global sort window anywhere."""
    g = 1 << _Z_BITS
    shift = 2 * _Z_BITS - _Z_BUCKETS_LOG2
    dshift = _Z_BITS - _Z_BUCKETS_LOG2
    orders = _t(spark, d, "orders")
    pts = orders.select(
        "o_orderkey", F.col("o_custkey").cast("long").alias("ck"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.to_date(F.lit("1992-01-01"))).cast("long").alias("day"))
    bounds = pts.agg(
        F.min("ck").alias("ck_lo"),
        (F.max("ck") - F.min("ck") + 1).alias("ck_ext"),
        F.min("day").alias("day_lo"),
        (F.max("day") - F.min("day") + 1).alias("day_ext"))
    grid = (pts.crossJoin(F.broadcast(bounds))
            .withColumn("xs", F.floor((F.col("ck") - F.col("ck_lo")) * g
                                      / F.col("ck_ext")).cast("long"))
            .withColumn("ys", F.floor((F.col("day") - F.col("day_lo")) * g
                                      / F.col("day_ext")).cast("long")))
    return grid.select(
        "o_orderkey", "ck", "day",
        F.shiftright(_morton_col(F.col("xs"), F.col("ys")), shift)
         .alias("z_bucket"),
        F.shiftright(F.col("xs"), dshift).alias("ck_bucket"),
        F.shiftright(F.col("ys"), dshift).alias("day_bucket"))


@register("s29_zorder_layout", oracle=_zorder_cte() + """
SELECT z_bucket, count(*)::BIGINT AS n_rows,
       min(ck)::BIGINT AS min_ck, max(ck)::BIGINT AS max_ck,
       min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day
FROM zed GROUP BY z_bucket ORDER BY z_bucket
""")
def s29_zorder_layout(spark: SparkSession, d: str) -> DataFrame:
    """Z-order clustering index for orders on (custkey, order-day):
    per-z-bucket row counts and min/max extents of both dimensions —
    exactly the parquet footer statistics a zordered write persists
    and a reader prunes against.  Both dims stay tight per bucket
    (the Morton property); contrast a date-sorted layout where every
    bucket spans the full custkey range."""
    return (_zorder_df(spark, d)
            .groupBy("z_bucket")
            .agg(F.count("*").alias("n_rows"),
                 F.min("ck").alias("min_ck"), F.max("ck").alias("max_ck"),
                 F.min("day").alias("min_day"),
                 F.max("day").alias("max_day"))
            .orderBy("z_bucket"))


@register("s30_layout_pruning", oracle=_zorder_cte() + f"""
, stats AS (
  SELECT 'zorder' AS layout, z_bucket AS bucket,
         min(ck) AS min_ck, max(ck) AS max_ck,
         min(day) AS min_day, max(day) AS max_day
  FROM zed GROUP BY z_bucket
  UNION ALL
  SELECT 'by_custkey', ck_bucket, min(ck), max(ck), min(day), max(day)
  FROM zed GROUP BY ck_bucket
  UNION ALL
  SELECT 'by_date', day_bucket, min(ck), max(ck), min(day), max(day)
  FROM zed GROUP BY day_bucket
), nb AS (
  SELECT layout, count(*)::BIGINT AS total_buckets
  FROM stats GROUP BY layout
), probes_ck AS (
  SELECT DISTINCT ck AS probe FROM pts WHERE ck % 150 = 7
), probes_day AS (
  SELECT DISTINCT (day // 240) * 240 AS probe FROM pts
), hit_ck AS (
  SELECT s.layout, p.probe, count(*)::BIGINT AS touched
  FROM stats s JOIN probes_ck p
    ON p.probe BETWEEN s.min_ck AND s.max_ck
  GROUP BY s.layout, p.probe
), hit_day AS (
  SELECT s.layout, p.probe, count(*)::BIGINT AS touched
  FROM stats s JOIN probes_day p
    ON p.probe <= s.max_day AND p.probe + 29 >= s.min_day
  GROUP BY s.layout, p.probe
), m AS (
  SELECT layout, 'custkey_point' AS probe_dim,
         CAST(sum(touched) AS BIGINT) AS buckets_touched,
         count(*)::BIGINT AS n_probes
  FROM hit_ck GROUP BY layout
  UNION ALL
  SELECT layout, 'day_window',
         CAST(sum(touched) AS BIGINT), count(*)::BIGINT
  FROM hit_day GROUP BY layout
)
SELECT m.layout, m.probe_dim,
       round(m.buckets_touched::DOUBLE / m.n_probes::DOUBLE, 6)
         AS avg_buckets_touched,
       nb.total_buckets
FROM m JOIN nb USING (layout)
ORDER BY layout, probe_dim
""")
def s30_layout_pruning(spark: SparkSession, d: str) -> DataFrame:
    """The layout decision table: average buckets a query must READ
    under three physical layouts (z-order, custkey-sorted,
    date-sorted) for two probe families (custkey point lookups,
    30-day date windows), evaluated against each layout's own min/max
    bucket index.  The z-order row is the argument for paying the
    interleave at write time: good pruning on BOTH dimensions, where
    each single-dim sort is pathological on the other dimension.
    Probes are deterministic data-derived sets (ck % 150 == 7;
    240-day-aligned window starts).  The bucket-stats side is three
    partial aggregates over the same map-side frame; probe matching
    is a broadcast range join against bucket COUNTS, not data."""
    zed = _zorder_df(spark, d)
    stats = None
    for layout, bcol in (("zorder", "z_bucket"),
                         ("by_custkey", "ck_bucket"),
                         ("by_date", "day_bucket")):
        s = (zed.groupBy(F.col(bcol).alias("bucket"))
             .agg(F.min("ck").alias("min_ck"), F.max("ck").alias("max_ck"),
                  F.min("day").alias("min_day"),
                  F.max("day").alias("max_day"))
             .withColumn("layout", F.lit(layout)))
        stats = s if stats is None else stats.unionByName(s)
    nb = stats.groupBy("layout").agg(F.count("*").alias("total_buckets"))
    p_ck = (zed.filter(F.col("ck") % 150 == 7)
            .select(F.col("ck").alias("probe")).distinct())
    p_day = (zed.select((F.floor(F.col("day") / 240) * 240)
                        .cast("long").alias("probe")).distinct())
    hit_ck = (stats.join(F.broadcast(p_ck),
                         (F.col("probe") >= F.col("min_ck"))
                         & (F.col("probe") <= F.col("max_ck")))
              .groupBy("layout", "probe").agg(F.count("*").alias("touched"))
              .groupBy("layout")
              .agg(F.sum("touched").cast("long").alias("buckets_touched"),
                   F.count("*").alias("n_probes"))
              .withColumn("probe_dim", F.lit("custkey_point")))
    hit_day = (stats.join(F.broadcast(p_day),
                          (F.col("probe") <= F.col("max_day"))
                          & (F.col("probe") + 29 >= F.col("min_day")))
               .groupBy("layout", "probe").agg(F.count("*").alias("touched"))
               .groupBy("layout")
               .agg(F.sum("touched").cast("long").alias("buckets_touched"),
                    F.count("*").alias("n_probes"))
               .withColumn("probe_dim", F.lit("day_window")))
    m = hit_ck.unionByName(hit_day)
    return (m.join(nb, "layout")
            .select("layout", "probe_dim",
                    F.round(F.col("buckets_touched").cast("double")
                            / F.col("n_probes").cast("double"), 6)
                     .alias("avg_buckets_touched"),
                    F.col("total_buckets").cast("long").alias("total_buckets"))
            .orderBy("layout", "probe_dim"))


# ===========================================================================
# Join-key skew diagnostics — the profile that decides salting (a15
# tells you a column's cardinality; this tells you whether its HOT
# keys will funnel a shuffle).  The VERDICT-r7 dd_line_dedup lesson
# as a first-class platform operator: find the md5('')-style keys
# BEFORE they become a 100 TB reducer funnel.
# ===========================================================================

@register("a16_skew_probe", oracle="""
WITH kc AS (
  SELECT user_id, count(*)::BIGINT AS n_rows FROM events GROUP BY user_id
), stats AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
         count(*)::BIGINT AS n_keys,
         max(n_rows) AS max_key_rows
  FROM kc
), top AS (
  SELECT user_id, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, user_id) AS rank
  FROM kc
)
SELECT t.rank, t.user_id, t.n_rows,
       round(t.n_rows::DOUBLE / s.total_rows::DOUBLE, 6) AS share,
       CAST(greatest(1, ceil(t.n_rows::DOUBLE * 32.0::DOUBLE
                             / (s.total_rows::DOUBLE / s.n_keys::DOUBLE)
                             / 32.0::DOUBLE)) AS BIGINT) AS salt_rec,
       round(s.max_key_rows::DOUBLE
             / (s.total_rows::DOUBLE / s.n_keys::DOUBLE), 6)
         AS skew_factor
FROM top t CROSS JOIN stats s
WHERE t.rank <= 10
ORDER BY t.rank
""")
def a16_skew_probe(spark: SparkSession, d: str) -> DataFrame:
    """Shuffle-key skew probe for events.user_id: the top-10 heavy
    hitters with their row share, a per-key salt recommendation
    (ceil(key_rows / mean_key_rows) — how many salted sub-keys bring
    the hot key back to average partition mass at 32-way parallelism),
    and the corpus skew factor (max key / mean key).  This is the
    pre-flight read before any groupBy/join on a data-derived key; a
    skew_factor near 1 means hash partitioning balances, >> 1 means
    salt or AQE-skew-split.

    Scale: one partial-aggregable key-count pass, a 1-row stats
    aggregate broadcast back, and a top-10 — the probe itself never
    funnels (the window orders the KEY-COUNT table, not the data,
    and TakeOrdered bounds it)."""
    ev = _t(spark, d, "events")
    kc = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    stats = kc.agg(F.sum("n_rows").cast("long").alias("total_rows"),
                   F.count("*").alias("n_keys"),
                   F.max("n_rows").alias("max_key_rows"))
    w = Window.orderBy(F.desc("n_rows"), "user_id")
    mean_rows = (F.col("total_rows").cast("double")
                 / F.col("n_keys").cast("double"))
    return (kc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .crossJoin(F.broadcast(stats))
            .select("rank", "user_id", "n_rows",
                    F.round(F.col("n_rows").cast("double")
                            / F.col("total_rows").cast("double"), 6)
                     .alias("share"),
                    F.greatest(F.lit(1), F.ceil(
                        F.col("n_rows").cast("double") * 32.0
                        / mean_rows / 32.0)).cast("long").alias("salt_rec"),
                    F.round(F.col("max_key_rows").cast("double")
                            / mean_rows, 6).alias("skew_factor"))
            .orderBy("rank"))


# ===========================================================================
# BIGINT-exact k-means (g2) — the clustering primitive every ANN/
# semantic-dedup path in this repo leans on (IVF cells, SemDeDup
# clusters) re-derived as exact DataFrame algebra with a FULL value
# oracle, instead of MLlib's black-box fit.  Same fixed-point trick
# as g1_trade_pagerank: quantize the vectors to 1e-6 integer units,
# and every distance, sum, and centroid update is exact BIGINT
# arithmetic — Spark and DuckDB walk bit-identical Lloyd
# trajectories.  CAUTION (shared-semantics note): DuckDB's integer
# `//` TRUNCATES toward zero while Python's floors — the driver-side
# centroid update below uses an explicit truncating div to match.
# ===========================================================================

_KM_K = 4
_KM_D = 8
_KM_ITERS = 3
_KM_SCALE = 1_000_000
_KM_INIT_IDS = (0, 100, 200, 300)


def _km_tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division (DuckDB `//` semantics;
    Python's // floors, which differs on negative sums)."""
    return -((-a) // b) if a < 0 else a // b


def _km_qv_sql() -> str:
    return (f"list_transform(list_slice(embedding, 1, {_KM_D}), "
            f"x -> CAST(floor(x::DOUBLE * {_KM_SCALE} + 0.5) AS BIGINT))")


def _km_oracle(final_select: str) -> str:
    dist = (f"list_sum(list_transform(range(1, {_KM_D + 1}), "
            f"i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))")
    ids = ", ".join(str(i) for i in _KM_INIT_IDS)
    parts = [f"""
q AS (
  SELECT vec_id, {_km_qv_sql()} AS qv FROM embeddings
), c0 AS (
  SELECT CAST(vec_id // 100 AS BIGINT) AS cluster, qv AS cv
  FROM q WHERE vec_id IN ({ids})
)"""]
    for k in range(_KM_ITERS):
        sums = ", ".join(f"CAST(sum(qv[{i + 1}]) AS BIGINT)"
                         for i in range(_KM_D))
        divs = ", ".join(f"m.s[{i + 1}] // m.n" for i in range(_KM_D))
        parts.append(f"""
a{k} AS (
  SELECT vec_id, qv, cluster FROM (
    SELECT q.vec_id, q.qv, c.cluster,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM q CROSS JOIN c{k} c) WHERE rn = 1
), m{k} AS (
  SELECT cluster, count(*)::BIGINT AS n, [{sums}] AS s
  FROM a{k} GROUP BY cluster
), c{k + 1} AS (
  SELECT c.cluster,
         CASE WHEN m.n IS NULL THEN c.cv ELSE [{divs}] END AS cv
  FROM c{k} c LEFT JOIN m{k} m USING (cluster)
)""")
    parts.append(f"""
af AS (
  SELECT vec_id, cluster, CAST(dist_q AS BIGINT) AS dist_q FROM (
    SELECT q.vec_id, c.cluster, {dist} AS dist_q,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, c.cluster) AS rn
    FROM q CROSS JOIN c{_KM_ITERS} c) WHERE rn = 1
)""")
    return "WITH " + ",".join(parts) + final_select


def _km_run(spark: SparkSession, d: str):
    """Lloyd's loop, Spark side: per iteration ONE assignment pass
    (centroids are literals — broadcast by construction, the plan is
    a map-side argmin over an array of (dist, cluster) structs) and
    ONE partial-aggregated per-cluster sum, collected as K rows of
    bounded metadata (exactly MLlib KMeans' per-iteration
    treeAggregate shape).  Returns (final assignment DF, centroids)."""
    from ..functions.vector import to_double_array
    emb = (_t(spark, d, "embeddings")
           .select("vec_id",
                   F.transform(
                       F.slice(to_double_array(F.col("embedding")),
                               1, _KM_D),
                       lambda x: F.floor(x * _KM_SCALE + 0.5).cast("long"))
                   .alias("qv")))
    init = {r["vec_id"] // 100: [int(v) for v in r["qv"]]
            for r in emb.filter(
                F.col("vec_id").isin(list(_KM_INIT_IDS))).collect()}
    cents = [init[c] for c in range(_KM_K)]

    def best_struct(cs):
        arr = F.array(*[
            F.struct(
                sum(((F.element_at(F.col("qv"), i + 1) - F.lit(cv[i]))
                     * (F.element_at(F.col("qv"), i + 1) - F.lit(cv[i])))
                    for i in range(_KM_D)).alias("d"),
                F.lit(c).cast("long").alias("cluster"))
            for c, cv in enumerate(cs)])
        return F.sort_array(arr).getItem(0)

    for _ in range(_KM_ITERS):
        a = emb.withColumn("cluster", best_struct(cents)["cluster"])
        rows = a.groupBy("cluster").agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at(F.col("qv"), i + 1)).alias(f"s{i}")
              for i in range(_KM_D)]).collect()
        newc = list(cents)
        for r in rows:
            newc[int(r["cluster"])] = [
                _km_tdiv(int(r[f"s{i}"]), int(r["n"]))
                for i in range(_KM_D)]
        cents = newc

    b = best_struct(cents)
    af = emb.select("vec_id", b["cluster"].alias("cluster"),
                    b["d"].alias("dist_q"))
    return af, cents


@register("g2_kmeans_clusters", oracle=_km_oracle(f"""
SELECT af.cluster, count(*)::BIGINT AS n_members,
       CAST(sum(af.dist_q) AS BIGINT) AS inertia_q,
       {", ".join(f"c.cv[{i + 1}] AS c{i + 1}" for i in range(_KM_D))}
FROM af JOIN c{_KM_ITERS} c USING (cluster)
GROUP BY af.cluster, {", ".join(f"c.cv[{i + 1}]" for i in range(_KM_D))}
ORDER BY af.cluster
"""))
def g2_kmeans_clusters(spark: SparkSession, d: str) -> DataFrame:
    """K-means (k=4, 3 exact Lloyd iterations) over the first 8 dims
    of the embedding corpus in 1e-6 fixed-point: per-cluster member
    count, exact integer inertia, and the final centroid coordinates
    — bit-identical across engines because assignment distances,
    per-cluster sums, and the truncating-division centroid update are
    all BIGINT ops.  Init = the vectors at vec_id 0/100/200/300
    (deterministic spread seeding); an emptied cluster keeps its
    previous centroid (both sides LEFT JOIN / carry).

    Scale shape: K iterations = K (map-side argmin + partial-agg
    sum) passes with centroid literals broadcast in the plan — the
    per-iteration driver state is k*(d+1) integers, never data."""
    af, cents = _km_run(spark, d)
    cent_rows = spark.createDataFrame(
        [(c, *[int(v) for v in cents[c]]) for c in range(_KM_K)],
        ["cluster"] + [f"c{i + 1}" for i in range(_KM_D)])
    return (af.groupBy("cluster")
            .agg(F.count("*").alias("n_members"),
                 F.sum("dist_q").cast("long").alias("inertia_q"))
            .join(F.broadcast(cent_rows), "cluster")
            .orderBy("cluster"))


@register("g2_kmeans_assign", oracle=_km_oracle("""
SELECT vec_id, cluster, dist_q FROM af ORDER BY vec_id
"""))
def g2_kmeans_assign(spark: SparkSession, d: str) -> DataFrame:
    """Final per-vector hard assignment from the exact k-means loop:
    (vec_id, cluster, exact integer squared distance) — the cell map
    an IVF layout would persist, value-checked row by row."""
    af, _ = _km_run(spark, d)
    return af.orderBy("vec_id")


@register("st_ivf_ingest", oracle=_km_oracle("""
SELECT vec_id, cluster, dist_q FROM af ORDER BY vec_id
"""))
def st_ivf_ingest(spark: SparkSession, d: str) -> DataFrame:
    """Streaming INDEX MAINTENANCE — the ingest half of the IVF story
    for a corpus that never stops growing: cluster layout is trained
    OFFLINE once (the exact k-means fit above, frozen), and each
    micro-batch of the paged vector tranches assigns its arrivals
    map-side against the frozen centroid literals and appends to a
    cluster-partitioned store — exactly how a 100 TB vector index
    absorbs a crawl: no refit, no reshuffle of existing cells, new
    files land inside their cell partition.  The final store must
    reproduce the batch assignment bit-for-bit (same value oracle as
    g2_kmeans_assign); dedup-on-read makes replayed batches
    idempotent because each row is a deterministic function of the
    input vector.  Vectors travel PRE-QUANTIZED (the 1e-6 BIGINT
    grid) so serialization is integer-exact."""
    import shutil
    from ..functions.vector import to_double_array
    from ..session import scratch
    from ..streaming import pipeline as SP

    _, cents = _km_run(spark, d)

    emb = _t(spark, d, "embeddings")
    qv = F.transform(
        F.slice(to_double_array(F.col("embedding")), 1, _KM_D),
        lambda x: F.floor(x * _KM_SCALE + 0.5).cast("long"))
    pages = emb.select(F.col("vec_id").cast("string").alias("page_id"),
                       F.to_json(qv).alias("title"),
                       F.lit("vec").alias("lang"),
                       F.lit(_KM_D).cast("long").alias("n_chars"))
    store = scratch("st_ivf_store")
    shutil.rmtree(store, ignore_errors=True)

    def best_struct(cs):
        arr = F.array(*[
            F.struct(
                sum(((F.element_at(F.col("qv"), i + 1) - F.lit(cv[i]))
                     * (F.element_at(F.col("qv"), i + 1) - F.lit(cv[i])))
                    for i in range(_KM_D)).alias("d"),
                F.lit(c).cast("long").alias("cluster"))
            for c, cv in enumerate(cs)])
        return F.sort_array(arr).getItem(0)

    def assign(rows: DataFrame, epoch_id: int) -> None:
        b = rows.select(F.col("page_id").cast("long").alias("vec_id"),
                        F.from_json(F.col("title"), "array<bigint>")
                        .alias("qv"))
        best = best_struct(cents)
        (b.select("vec_id", best["cluster"].alias("cluster"),
                  best["d"].alias("dist_q"))
         .write.mode("append").partitionBy("cluster").parquet(store))

    SP.drain_paged_tranches(spark, "st_ivf", SP.parity_tranches(pages),
                            assign)
    return (spark.read.parquet(store)
            .select("vec_id", F.col("cluster").cast("long").alias("cluster"),
                    "dist_q")
            .distinct().orderBy("vec_id"))


def _bpe_fertility_oracle() -> str:
    from . import oracle_vec as OV
    return _bpe_chain(full=True) + f"""
, bpe_len AS (
  SELECT tok, len(syms)::BIGINT AS n_sym FROM r{_BPE_K}
), doc_toks AS (
  SELECT doc_id, lang, unnest({OV.tokens_sql('text')}) AS tok
  FROM documents
)
SELECT dt.lang, count(DISTINCT dt.doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_words,
       CAST(sum(b.n_sym) AS BIGINT) AS n_bpe_tokens,
       round(sum(b.n_sym)::DOUBLE / count(*)::DOUBLE, 6) AS fertility
FROM doc_toks dt JOIN bpe_len b USING (tok)
GROUP BY dt.lang ORDER BY dt.lang
"""


@register("t22_bpe_fertility", oracle=_bpe_fertility_oracle())
def t22_bpe_fertility(spark: SparkSession, d: str) -> DataFrame:
    """Tokenizer FERTILITY by language (symbols emitted per
    whitespace word under the learned BPE vocabulary) — the standard
    cross-lingual tokenizer-equity metric (a language with high
    fertility pays more compute per word and fits less text per
    sequence; the number multilingual-corpus reports publish next to
    the mix).  Exact integer sums per language, one division at the
    end; same broadcast vocab join as t20_bpe_apply with lang carried
    map-side through the explode."""
    from ..operators.dedup import tokens
    _, w = _bpe_learn(spark, d)
    bpe_len = w.select("tok", F.size("syms").cast("long").alias("n_sym"))
    docs = _t(spark, d, "documents")
    dt = docs.select("doc_id", "lang",
                     F.explode(tokens(F.col("text"))).alias("tok"))
    return (dt.join(F.broadcast(bpe_len), "tok")
            .groupBy("lang")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count("*").alias("n_words"),
                 F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
                 F.round(F.sum("n_sym").cast("double")
                         / F.count("*").cast("double"), 6)
                  .alias("fertility"))
            .orderBy("lang"))


# ===========================================================================
# Planner-statistics audit (a17) — the third leg of the platform-
# stats trio (a15 cardinality, a16 skew): how good the TEXTBOOK join
# cardinality estimate |R|*|S| / max(ndv_R, ndv_S) actually is on a
# real key, vs the true join size.  This is the number every
# cost-based optimizer (Catalyst CBO included) derives from catalog
# stats; auditing it against truth is how a platform team decides
# whether stats-driven planning can be trusted on a given key.
# ===========================================================================

@register("a17_join_estimate_audit", oracle="""
WITH s AS (
  SELECT (SELECT count(*)::BIGINT FROM events) AS n_e,
         (SELECT count(DISTINCT user_id)::BIGINT FROM events) AS d_e,
         (SELECT count(*)::BIGINT FROM customer) AS n_c,
         (SELECT count(DISTINCT c_custkey)::BIGINT FROM customer) AS d_c
), act AS (
  SELECT count(*)::BIGINT AS actual_rows
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
)
SELECT s.n_e AS left_rows, s.d_e AS left_ndv,
       s.n_c AS right_rows, s.d_c AS right_ndv,
       (s.n_e * s.n_c) // greatest(s.d_e, s.d_c) AS est_rows,
       a.actual_rows,
       round(((s.n_e * s.n_c) // greatest(s.d_e, s.d_c))::DOUBLE
             / a.actual_rows::DOUBLE, 6) AS est_over_actual
FROM s CROSS JOIN act a
""")
def a17_join_estimate_audit(spark: SparkSession, d: str) -> DataFrame:
    """Join-cardinality estimate audit for events.user_id ⋈
    customer.c_custkey: the textbook containment estimate
    |R|·|S| / max(ndv_R, ndv_S) (Selinger 1979 — what a cost-based
    optimizer computes from table stats) next to the TRUE join size,
    with the over/under ratio.  est/actual near 1 means stats-driven
    join ordering is trustworthy on this key; far from 1 (skew,
    correlation, partial containment) means runtime re-planning (AQE)
    has to carry the weight.  All-BIGINT arithmetic (truncating
    division both engines), one final ratio division."""
    ev = _t(spark, d, "events")
    cust = _t(spark, d, "customer")
    s = (ev.agg(F.count("*").alias("n_e"),
                F.countDistinct("user_id").alias("d_e"))
         .crossJoin(cust.agg(
             F.count("*").alias("n_c"),
             F.countDistinct("c_custkey").alias("d_c"))))
    act = (ev.join(cust, ev["user_id"] == cust["c_custkey"])
           .agg(F.count("*").alias("actual_rows")))
    est = F.expr("(n_e * n_c) div greatest(d_e, d_c)")
    return (s.crossJoin(F.broadcast(act))
            .select(F.col("n_e").alias("left_rows"),
                    F.col("d_e").alias("left_ndv"),
                    F.col("n_c").alias("right_rows"),
                    F.col("d_c").alias("right_ndv"),
                    est.alias("est_rows"),
                    "actual_rows",
                    F.round(est.cast("double")
                            / F.col("actual_rows").cast("double"), 6)
                     .alias("est_over_actual")))


# ===========================================================================
# Release funnel (capstone composition) — the per-stage survival
# report a training-data RELEASE publishes (the "data card" funnel:
# raw -> each curation gate -> dedup -> LM gate, with doc and token
# mass at every stage).  Every predicate is the SAME shared fragment
# the individual entries use, so the funnel is the composition
# audit: if any stage's count drifts from its standalone entry, one
# of them is wrong.
# ===========================================================================

def _release_funnel_oracle() -> str:
    from ..operators.curation_rules import c4_sql, gopher_sql
    from . import oracle_sql as O
    from . import oracle_vec as OV
    toks = "CAST(coalesce(sum(length(clean_text) // 4), 0) AS BIGINT)"
    stage = ("SELECT {no} AS stage_no, '{name}' AS stage, "
             "count(*)::BIGINT AS docs, " + toks + " AS est_tokens "
             "FROM {src}{pred}")
    return f"""
WITH g AS (
  SELECT doc_id, {gopher_sql('text')} FROM documents
), c AS (
  SELECT doc_id, {c4_sql('text')} FROM documents
), scored AS (
  SELECT d.doc_id, {O.clean_sql('d.text')} AS clean_text,
         {OV.detect_language_sql('d.text')} AS detected_lang,
         g.gopher_pass, c.page_drop
  FROM documents d
  JOIN g ON g.doc_id = d.doc_id
  JOIN c ON c.doc_id = d.doc_id
), keyed AS (
  SELECT *, md5(lower({O.pystrip_sql('clean_text')})) AS content_hash
  FROM scored
  WHERE gopher_pass AND NOT page_drop AND detected_lang = 'en'
), keepers AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS keeper_id
    FROM keyed) WHERE doc_id = keeper_id
), ppl AS ({_ppl_cte()}
  SELECT doc_id, ppl_bucket FROM bucketed
), final AS (
  SELECT k.* FROM keepers k JOIN ppl p USING (doc_id)
  WHERE p.ppl_bucket <> 'tail'
), stages AS (
  {stage.format(no=0, name='raw', src='scored', pred='')}
  UNION ALL
  {stage.format(no=1, name='gopher', src='scored',
                pred=' WHERE gopher_pass')}
  UNION ALL
  {stage.format(no=2, name='c4_page', src='scored',
                pred=' WHERE gopher_pass AND NOT page_drop')}
  UNION ALL
  {stage.format(no=3, name='lang_en', src='keyed', pred='')}
  UNION ALL
  {stage.format(no=4, name='exact_dedup', src='keepers', pred='')}
  UNION ALL
  {stage.format(no=5, name='perplexity', src='final', pred='')}
), raw AS (
  SELECT docs AS raw_docs FROM stages WHERE stage_no = 0
)
SELECT CAST(s.stage_no AS BIGINT) AS stage_no, s.stage, s.docs,
       s.est_tokens,
       round(s.docs::DOUBLE / r.raw_docs::DOUBLE, 6) AS share_of_raw
FROM stages s CROSS JOIN raw r ORDER BY stage_no
"""


def _release_funnel_frame(spark: SparkSession, d: str,
                          cuts: str = "exact") -> DataFrame:
    """Funnel body shared by the exact entry and the approx twin —
    ``cuts`` selects the perplexity-stage tertile mode (_ppl_frame):
    'exact' is the value-oracled default; 'approx' is the sketch-cut
    production form (STRESS_r09 measures the ratio drop)."""
    from ..functions import text as X
    from ..operators import textstats
    from ..operators.curation_rules import c4_line_stats, gopher_flags

    docs = _t(spark, d, "documents")
    gf = gopher_flags(F.col("text"))
    cf = c4_line_stats(F.col("text"))
    scored = docs.select(
        "doc_id",
        X.clean_text(F.col("text")).alias("clean_text"),
        textstats.detect_language(F.col("text")).alias("detected_lang"),
        gf["gopher_pass"].alias("gopher_pass"),
        cf["page_drop"].alias("page_drop"))
    toks = X.token_estimate(F.col("clean_text"))
    g1 = F.col("gopher_pass")
    g2 = g1 & ~F.col("page_drop")
    g3 = g2 & (F.col("detected_lang") == "en")

    def cnt(cond):
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0))

    def tok(cond):
        return F.coalesce(F.sum(F.when(cond, toks)), F.lit(0)).cast("long")

    one = scored.agg(
        F.count("*").alias("d0"), F.coalesce(F.sum(toks), F.lit(0))
        .cast("long").alias("t0"),
        cnt(g1).alias("d1"), tok(g1).alias("t1"),
        cnt(g2).alias("d2"), tok(g2).alias("t2"),
        cnt(g3).alias("d3"), tok(g3).alias("t3"))

    def st(no, name, dc, tc):
        return F.struct(F.lit(no).cast("long").alias("stage_no"),
                        F.lit(name).alias("stage"),
                        F.col(dc).cast("long").alias("docs"),
                        F.col(tc).cast("long").alias("est_tokens"))

    s03 = one.select(F.explode(F.array(
        st(0, "raw", "d0", "t0"), st(1, "gopher", "d1", "t1"),
        st(2, "c4_page", "d2", "t2"), st(3, "lang_en", "d3", "t3")))
        .alias("s")).select("s.*")

    keyed = (scored.filter(g3)
             .withColumn("content_hash",
                         F.md5(F.lower(X.pystrip(F.col("clean_text"))))))
    w = Window.partitionBy("content_hash")
    keepers = (keyed.withColumn("keeper_id", F.min("doc_id").over(w))
               .filter(F.col("doc_id") == F.col("keeper_id")))

    def agg_stage(df, no, name):
        return (df.agg(F.count("*").alias("docs"),
                       F.coalesce(F.sum(toks), F.lit(0)).cast("long")
                       .alias("est_tokens"))
                .select(F.lit(no).cast("long").alias("stage_no"),
                        F.lit(name).alias("stage"), "docs", "est_tokens"))

    s4 = agg_stage(keepers, 4, "exact_dedup")
    ppl = _ppl_frame(spark, d, cuts=cuts).select("doc_id", "ppl_bucket")
    final = (keepers.join(ppl, "doc_id")
             .filter(F.col("ppl_bucket") != "tail"))
    s5 = agg_stage(final, 5, "perplexity")

    stages = s03.unionByName(s4).unionByName(s5)
    raw = one.select(F.col("d0").alias("raw_docs"))
    return (stages.crossJoin(F.broadcast(raw))
            .select("stage_no", "stage", "docs", "est_tokens",
                    F.round(F.col("docs").cast("double")
                            / F.col("raw_docs").cast("double"), 6)
                     .alias("share_of_raw"))
            .orderBy("stage_no"))


@register("cc_release_funnel", oracle=_release_funnel_oracle())
def cc_release_funnel(spark: SparkSession, d: str) -> DataFrame:
    """Data-card release funnel: doc and token mass surviving each
    stage of the modern curation pipeline — raw -> Gopher rules ->
    C4 page rules -> language gate -> exact-dedup keeper election ->
    CCNet perplexity gate — with each stage's share of raw.  The
    published numbers of a corpus release (C4, Gopher, FineWeb all
    lead with exactly this table), assembled from the SAME shared
    rule fragments as the standalone entries.

    Scale shape: stages 0-3 are ONE conditional-aggregation pass
    (one scan, one 1-row result, exploded into rows — no per-stage
    re-scan); stage 4 adds the single content-hash shuffle the
    modern plan already pays; stage 5 the perplexity join.  The
    share division happens once against a broadcast raw count.  The
    perplexity stage's exact-percentile tertile is the one global
    barrier left — cc_release_funnel_approx (catalog_r9) is the
    sketch-cut twin that removes it."""
    return _release_funnel_frame(spark, d, cuts="exact")


@register("t21_nb_calibration", oracle=_nb_doc_cte() + """
, binned AS (
  SELECT least(9, CAST(floor(
           round(1.0::DOUBLE / (1.0::DOUBLE + exp(-log_odds)), 6)
           * 10) AS BIGINT)) AS bin,
         CAST(round(round(1.0::DOUBLE
                          / (1.0::DOUBLE + exp(-log_odds)), 6)
                    * 1000000) AS BIGINT) AS prob_s,
         gopher_pass
  FROM scored
)
SELECT bin, count(*)::BIGINT AS n_docs,
       round(sum(prob_s)::DOUBLE / (count(*) * 1000000)::DOUBLE, 6)
         AS mean_predicted,
       round(sum(gopher_pass::INT)::DOUBLE / count(*)::DOUBLE, 6)
         AS observed_positive
FROM binned GROUP BY bin ORDER BY bin
""")
def t21_nb_calibration(spark: SparkSession, d: str) -> DataFrame:
    """Calibration (reliability) table for the NB quality classifier:
    predicted-probability deciles vs the observed positive rate of
    the weak label in each bin — the standard check before a score
    threshold goes to production (NB is notoriously overconfident;
    this table is how you SEE it, and what a recalibration step
    would fit against).  Probabilities quantize to 6 decimals before
    binning and integer-sum for the bin mean, so bin membership and
    both rates are engine-exact."""
    scored = _nb_doc_scores(spark, d)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("log_odds"))), 6)
    binned = scored.select(
        F.least(F.lit(9), F.floor(prob * 10).cast("long")).alias("bin"),
        F.round(prob * 1000000).cast("long").alias("prob_s"),
        "gopher_pass")
    return (binned.groupBy("bin")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.sum("prob_s").cast("double")
                         / (F.count("*") * 1000000).cast("double"), 6)
                  .alias("mean_predicted"),
                 F.round(F.sum(F.col("gopher_pass").cast("int"))
                         .cast("double") / F.count("*").cast("double"), 6)
                  .alias("observed_positive"))
            .orderBy("bin"))


# ===========================================================================
# Event-sequence analytics: first-order Markov transition matrix —
# the "what happens after X" table behind next-action prediction and
# funnel design
# ===========================================================================

@register("ev_markov_transitions", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type, next_type, count(*)::BIGINT AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS row_total FROM pairs
  GROUP BY event_type
)
SELECT p.event_type, p.next_type, p.n,
       round(p.n::DOUBLE / t.row_total::DOUBLE, 6) AS p_next
FROM pairs p JOIN tot t USING (event_type)
ORDER BY p.event_type, p.next_type
""")
def ev_markov_transitions(spark: SparkSession, d: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), with the deterministic
    (ts, event_id) ordering every sequence entry in this catalog
    uses.  One user-keyed window (same shuffle ev_sessionize already
    pays — uniform user_id hash), then a transition-pair aggregate
    that is event-type²-sized — broadcast-small forever."""
    ev = _t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    pairs = (seq.filter(F.col("next_type").isNotNull())
             .groupBy("event_type", "next_type")
             .agg(F.count("*").alias("n")))
    tot = pairs.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("row_total"))
    return (pairs.join(F.broadcast(tot), "event_type")
            .select("event_type", "next_type", "n",
                    F.round(F.col("n").cast("double")
                            / F.col("row_total").cast("double"), 6)
                     .alias("p_next"))
            .orderBy("event_type", "next_type"))


# ===========================================================================
# Population-stability drift report (PSI) — the production data-drift
# gate: does today's corpus slice distribute like yesterday's?
# ===========================================================================

@register("dq2_psi_drift", oracle="""
WITH tagged AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'current' END AS cohort,
         lang
  FROM documents
), counts AS (
  SELECT cohort, lang, count(*)::BIGINT AS n FROM tagged
  GROUP BY cohort, lang
), tot AS (
  SELECT cohort, CAST(sum(n) AS BIGINT) AS total FROM counts
  GROUP BY cohort
), share AS (
  SELECT l.lang,
         round(coalesce(b.n, 0)::DOUBLE / bt.total::DOUBLE + 0.0001, 6)
           AS p_base,
         round(coalesce(c.n, 0)::DOUBLE / ct.total::DOUBLE + 0.0001, 6)
           AS p_cur
  FROM (SELECT DISTINCT lang FROM documents) l
  LEFT JOIN counts b ON b.lang = l.lang AND b.cohort = 'base'
  LEFT JOIN counts c ON c.lang = l.lang AND c.cohort = 'current'
  CROSS JOIN (SELECT total FROM tot WHERE cohort = 'base') bt
  CROSS JOIN (SELECT total FROM tot WHERE cohort = 'current') ct
)
SELECT lang, p_base, p_cur,
       round((p_cur - p_base) * ln(p_cur / p_base), 6) AS psi_term
FROM share
ORDER BY lang
""")
def dq2_psi_drift(spark: SparkSession, d: str) -> DataFrame:
    """Population-stability index (PSI) drift report on the language
    mix — the standard production gate for 'does the new crawl slice
    distribute like the reference slice' (PSI < 0.1 stable, > 0.25
    act), demonstrated on a deterministic even/odd doc_id cohort
    split.  Shares are 6-decimal-quantized with the conventional
    epsilon (1e-4) BEFORE the log term so zero-category cohorts stay
    finite and both engines feed ln() identical doubles.

    Scale: two cohort-x-category aggregates (category-sized), 1-row
    totals broadcast — the report never shuffles the corpus."""
    docs = _t(spark, d, "documents")
    tagged = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("base"))
         .otherwise(F.lit("current")).alias("cohort"), "lang")
    counts = tagged.groupBy("cohort", "lang").agg(F.count("*").alias("n"))
    tot = counts.groupBy("cohort").agg(F.sum("n").cast("long").alias("total"))
    langs = docs.select("lang").distinct()
    b = (counts.filter(F.col("cohort") == "base").select("lang", "n")
         .withColumnRenamed("n", "n_b"))
    c = (counts.filter(F.col("cohort") == "current").select("lang", "n")
         .withColumnRenamed("n", "n_c"))
    bt = tot.filter(F.col("cohort") == "base").select(
        F.col("total").alias("t_b"))
    ct = tot.filter(F.col("cohort") == "current").select(
        F.col("total").alias("t_c"))
    share = (langs.join(F.broadcast(b), "lang", "left")
             .join(F.broadcast(c), "lang", "left")
             .crossJoin(F.broadcast(bt)).crossJoin(F.broadcast(ct))
             .select("lang",
                     F.round(F.coalesce(F.col("n_b"), F.lit(0))
                             .cast("double") / F.col("t_b").cast("double")
                             + 0.0001, 6).alias("p_base"),
                     F.round(F.coalesce(F.col("n_c"), F.lit(0))
                             .cast("double") / F.col("t_c").cast("double")
                             + 0.0001, 6).alias("p_cur")))
    return (share.select("lang", "p_base", "p_cur",
                         F.round((F.col("p_cur") - F.col("p_base"))
                                 * F.log(F.col("p_cur") / F.col("p_base")),
                                 6).alias("psi_term"))
            .orderBy("lang"))


# ===========================================================================
# Pareto-frontier (skyline) curation pick — multi-objective selection
# without a weighting knob: the docs no other doc beats on BOTH
# quality (higher better) and corpus duplication (lower better).
# ===========================================================================

def _skyline_oracle() -> str:
    from . import oracle_sql as O
    return f"""
WITH m AS (
  SELECT d.doc_id,
         round(coalesce({O.quality_sql('d.text')}, 0.0::DOUBLE), 6) AS q,
         p.dup_frac
  FROM documents d
  JOIN ({_dupgram_oracle()}) p ON p.doc_id = d.doc_id
), lev AS (
  SELECT q, min(dup_frac) AS min_dup FROM m GROUP BY q
), lev2 AS (
  SELECT q, min_dup,
         min(min_dup) OVER (ORDER BY q DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS m_strict
  FROM lev
)
SELECT m.doc_id, m.q AS quality_score, m.dup_frac
FROM m JOIN lev2 USING (q)
WHERE m.dup_frac = lev2.min_dup
  AND (lev2.m_strict IS NULL OR m.dup_frac < lev2.m_strict)
ORDER BY quality_score DESC, doc_id
"""


@register("w9_skyline_curation", oracle=_skyline_oracle())
def w9_skyline_curation(spark: SparkSession, d: str) -> DataFrame:
    """Skyline (Pareto-frontier) document selection over (quality
    score UP, corpus 8-gram duplication fraction DOWN): a doc
    survives iff no other doc is at least as good on both axes and
    strictly better on one — the multi-objective curation pick that
    needs NO weighting knob (contrast cc_curate's fixed thresholds).

    Exact 2-D skyline WITHOUT the quadratic dominance anti-join: one
    per-score-level min aggregate, a running strict-min window over
    the LEVEL table, and a join back.  The level table is bounded by
    the quantized score domain (6-decimal scores in [0,1] → ≤ 1e6+1
    rows no matter the corpus size), so the global window is over a
    capped table and the join back broadcasts — n·log(levels), not
    n², at 100 TB.  Survival: dup == own-level min AND strictly
    below every higher level's min (ties on both axes co-survive)."""
    from ..functions import text as X
    docs = _t(spark, d, "documents").select("doc_id", "text")
    q = (X.with_quality(docs)
         .select("doc_id",
                 F.round(F.coalesce(F.col("quality_score"), F.lit(0.0)), 6)
                  .alias("q")))
    dup = dd_dupgram_profile(spark, d).select("doc_id", "dup_frac")
    m = q.join(dup, "doc_id")
    lev = m.groupBy("q").agg(F.min("dup_frac").alias("min_dup"))
    w = (Window.orderBy(F.desc("q"))
         .rowsBetween(Window.unboundedPreceding, -1))
    lev2 = lev.withColumn("m_strict", F.min("min_dup").over(w))
    return (m.join(F.broadcast(lev2), "q")
            .filter((F.col("dup_frac") == F.col("min_dup"))
                    & (F.col("m_strict").isNull()
                       | (F.col("dup_frac") < F.col("m_strict"))))
            .select("doc_id", F.col("q").alias("quality_score"),
                    "dup_frac")
            .orderBy(F.desc("quality_score"), "doc_id"))


# ===========================================================================
# Version diff audit (s31) — "what changed since yesterday" over the
# versioned-table layer, plus corpus-concentration analytics (a19)
# ===========================================================================

@register("s31_version_diff", oracle="""
WITH v1 AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 0
), v2 AS (
  SELECT doc_id, lang,
         n_chars + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS n_chars
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.n_chars <> b.n_chars THEN 'changed'
            ELSE 'unchanged' END AS status,
       a.n_chars AS old_n_chars, b.n_chars AS new_n_chars
FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
ORDER BY doc_id
""")
def s31_version_diff(spark: SparkSession, d: str) -> DataFrame:
    """Snapshot DIFF over the versioned-table layer (the Delta
    table_changes / Iceberg changelog read, directory-convention
    form): write two snapshots whose membership and content drift
    deterministically (v2 drops every 5th doc, gains every 3rd,
    bumps n_chars on every 7th), then compute the per-key
    added/removed/changed/unchanged ledger by FULL OUTER JOIN of the
    two time-travel reads.  The Spark side goes THROUGH the store
    (fold_version -> read_version as_of) — proving the lineage
    path; the oracle checks the diff semantics.  At 100 TB the diff
    is one co-partitioned full-outer join on the snapshot key."""
    import shutil
    from ..sources.tables import fold_version, read_version
    from ..session import scratch
    docs = _t(spark, d, "documents")
    path = scratch("s31_diff")
    shutil.rmtree(path, ignore_errors=True)
    fold_version(spark, path, 0, docs.filter(F.col("doc_id") % 3 != 0)
                 .select("doc_id", "lang", "n_chars"))
    fold_version(spark, path, 1, docs.filter(F.col("doc_id") % 5 != 0)
                 .select("doc_id", "lang",
                         (F.col("n_chars")
                          + F.when(F.col("doc_id") % 7 == 0, 1)
                             .otherwise(0)).alias("n_chars")))
    a = read_version(spark, path, as_of=1).alias("a")
    b = read_version(spark, path, as_of=2).alias("b")
    j = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    return (j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
         .when(F.col("b.doc_id").isNull(), "removed")
         .when(F.col("a.n_chars") != F.col("b.n_chars"), "changed")
         .otherwise("unchanged").alias("status"),
        F.col("a.n_chars").alias("old_n_chars"),
        F.col("b.n_chars").alias("new_n_chars"))
        .orderBy("doc_id"))


@register("a19_source_gini", oracle="""
WITH sc AS (
  SELECT source, count(*)::BIGINT AS c FROM documents GROUP BY source
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, source) AS i FROM sc
), agg AS (
  SELECT count(*)::BIGINT AS n, CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(i * c) AS BIGINT) AS wsum
  FROM ranked
)
SELECT n AS n_sources, total AS total_docs,
       round((2 * wsum)::DOUBLE / (n * total)::DOUBLE
             - (n + 1)::DOUBLE / n::DOUBLE, 6) AS gini
FROM agg
""")
def a19_source_gini(spark: SparkSession, d: str) -> DataFrame:
    """Source-concentration Gini coefficient of the corpus — the
    diversity number a data card reports next to the domain mix
    (0 = every source contributes equally, ->1 = one source
    dominates; the signal that triggers t19's rebalancing or
    dd_domain_cap).  Exact integer rank-weighted sums over the
    SOURCE-count table (sources-sized, tiny at any corpus scale —
    the global rank window never touches the corpus), one double
    expression at the end, identical in both engines."""
    docs = _t(spark, d, "documents")
    sc = docs.groupBy("source").agg(F.count("*").alias("c"))
    w = Window.orderBy("c", "source")
    ranked = sc.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(F.count("*").alias("n"),
                     F.sum("c").cast("long").alias("total"),
                     F.sum(F.col("i") * F.col("c")).cast("long")
                     .alias("wsum"))
    return agg.select(
        F.col("n").alias("n_sources"), F.col("total").alias("total_docs"),
        F.round((2 * F.col("wsum")).cast("double")
                / (F.col("n") * F.col("total")).cast("double")
                - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
                6).alias("gini"))


# ===========================================================================
# Multimodal composition: video keyframe election (shot-boundary
# detection shape) — frame sampling -> per-frame decode/feature
# extraction through the Arrow plumbing -> per-video temporal
# difference window -> keyframe manifest.
# ===========================================================================

_MM_KEY_TAU = 1.3   # squared-distance shot boundary (shared verbatim)


def _mm_keyframes_oracle() -> str:
    feats = ", ".join(
        f"('0x' || substr(h, {2 * i + 1}, 2))::BIGINT / 255.0"
        for i in range(8))
    dist = ("list_sum(list_transform(list_zip(features, pf), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))")
    return f"""
WITH base AS (
  SELECT doc_id, text, (n_chars / 100.0) AS dur,
         least(5, greatest(ceil(n_chars / 100.0)::INT, 1)) AS n
  FROM documents
), fr AS (
  SELECT doc_id, text, frame_index,
         round(dur * frame_index / n, 6) AS frame_ts
  FROM base, LATERAL unnest(range(0, n)) AS t(frame_index)
), pay AS (
  SELECT doc_id, frame_index::INT AS frame_index, frame_ts,
         md5(substr(text, 1 + frame_index::INT * 7, 64)
             || ':' || frame_index::VARCHAR) AS h
  FROM fr
), f AS (
  SELECT doc_id, frame_index, frame_ts, [{feats}] AS features FROM pay
), lagd AS (
  SELECT *, lag(features) OVER (PARTITION BY doc_id
                                ORDER BY frame_index) AS pf
  FROM f
)
SELECT doc_id, frame_index, frame_ts,
       coalesce(round({dist}, 6), -1.0::DOUBLE) AS dist_prev,
       (pf IS NULL OR round({dist}, 6) > {_MM_KEY_TAU!r}::DOUBLE)
         AS is_keyframe
FROM lagd
ORDER BY doc_id, frame_index
"""


@register("mm_keyframes", oracle=_mm_keyframes_oracle())
def mm_keyframes(spark: SparkSession, d: str) -> DataFrame:
    """Video keyframe election end to end: sample up to 5 evenly
    spaced frames per item (mm_frame_sample's plan), decode each
    sampled frame through the SAME mapInPandas feature extractor the
    image path uses (per-frame payloads are deterministic byte
    slices, so the whole Arrow pipeline is value-oracled), then keep
    a frame iff it is the first or its squared feature distance to
    the previous frame exceeds the shot-boundary threshold — the
    temporal near-dup collapse that turns raw video into a trainable
    keyframe manifest.

    Scale shape: frame explode is bounded (<=5x), decode is
    Arrow-batched map-side work, and the temporal window is keyed by
    video id — the classic multimodal ingest: no corpus-wide shuffle
    anywhere except the per-video window's uniform key."""
    from ..operators import multimodal
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
           .withColumn("fid", F.col("doc_id") * 100 + F.col("frame_index")))
    bin_df = pay.select(F.col("fid").alias("doc_id"),
                        F.encode(F.col("payload_str"), "utf-8")
                        .alias("content_bytes"))
    feats = (multimodal.decode_features(bin_df)
             .select(F.col("doc_id").alias("fid"), "features"))
    joined = pay.select("doc_id", "frame_index", "frame_ts", "fid") \
        .join(feats, "fid")
    w = Window.partitionBy("doc_id").orderBy("frame_index")
    lagd = joined.withColumn("pf", F.lag("features").over(w))
    dist = F.aggregate(
        F.zip_with(F.col("features"), F.col("pf"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    rd = F.round(dist, 6)
    return (lagd.select(
        "doc_id",
        F.col("frame_index").cast("int").alias("frame_index"),
        "frame_ts",
        F.coalesce(rd, F.lit(-1.0)).alias("dist_prev"),
        (F.col("pf").isNull() | (rd > F.lit(_MM_KEY_TAU)))
        .alias("is_keyframe"))
        .orderBy("doc_id", "frame_index"))


@register("st_late_data_audit", oracle="""
SELECT CAST(1 AS BIGINT) AS dropped_by_watermark,
       CAST(1 AS BIGINT) AS window9_stream,
       CAST(2 AS BIGINT) AS window9_batch,
       true AS late_counted_in_batch,
       false AS window12_finalized
""")
def st_late_data_audit(spark: SparkSession, d: str) -> DataFrame:
    """Watermark LATE-DATA semantics as a driver-visible audit (the
    constant-pinned invariant-gate pattern): a three-tranche file
    stream with a deterministic choreography — on-time 09:30 event,
    watermark-advancing 12:05/12:10 events, then a LATE 09:45 event
    arriving after the 2h watermark closed its window.  The gate pins
    Spark's documented contract: exactly one row dropped by the
    watermark (numRowsDroppedByWatermark), the 09:00 window finalized
    with ONLY the on-time event, the same files in a BATCH plan count
    the late row too (2), and the open 12:00 window is never emitted
    in append mode.  (SPARK-40925: the late-row filter uses the
    PREVIOUS batch's watermark, hence the three-tranche shape —
    mirrored from tests/test_streaming.py where it is CI-pinned.)

    This is the state-bounding contract every watermarked operator's
    100 TB note relies on, promoted from pytest to the driver board."""
    import datetime
    import glob
    import os
    import shutil

    from ..streaming import pipeline as sp
    from ..session import scratch

    root = scratch("st_late_audit")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)

    def ts(h, m):
        return datetime.datetime(2026, 1, 1, h, m)

    def add_file(name, rows, mtime):
        stage = os.path.join(root, f"stage_{name}")
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double") \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = os.path.join(src, f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    add_file("b1", [(ts(9, 30), "click", 1.0), (ts(12, 5), "click", 1.0)],
             mtime=1_600_000_000)
    add_file("b2", [(ts(12, 10), "click", 1.0)], mtime=1_600_000_100)
    add_file("b3", [(ts(9, 45), "click", 1.0), (ts(12, 45), "click", 1.0)],
             mtime=1_600_000_200)

    raw = (spark.readStream
           .schema("ts timestamp, event_type string, value double")
           .option("maxFilesPerTrigger", 1)
           .parquet(src))
    out = sp.hourly_counts(raw.withWatermark("ts", "2 hours"))
    q = (out.writeStream.format("memory").queryName("st_late_audit_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress
                  for s in (p.get("stateOperators") or []))
    emitted = {r["window_start"].hour: r["n_events"]
               for r in spark.table("st_late_audit_mem").collect()}
    batch = {r["window_start"].hour: r["n_events"]
             for r in sp.hourly_counts(
                 spark.read.schema(
                     "ts timestamp, event_type string, value double")
                 .parquet(src)).collect()}
    return spark.createDataFrame(
        [(int(dropped), int(emitted.get(9, 0)), int(batch.get(9, 0)),
          batch.get(9, 0) == emitted.get(9, 0) + 1,
          12 in emitted)],
        "dropped_by_watermark long, window9_stream long, "
        "window9_batch long, late_counted_in_batch boolean, "
        "window12_finalized boolean")


# ===========================================================================
# Scorer-agreement matrix (t23) — Pearson correlation between the
# three quality signals the curation family now carries (heuristic
# scorer, NB classifier, LM perplexity).  The number that tells a
# curation team whether a cheaper gate can replace an expensive one.
# ===========================================================================

def _t23_oracle() -> str:
    from . import oracle_sql as O
    def corr(a: str, b: str) -> str:  # noqa: E306
        return (f"round((n::DOUBLE * s_{a}{b}::DOUBLE"
                f" - s_{a}::DOUBLE * s_{b}::DOUBLE)"
                f" / (sqrt(n::DOUBLE * s_{a}{a}::DOUBLE"
                f" - s_{a}::DOUBLE * s_{a}::DOUBLE)"
                f" * sqrt(n::DOUBLE * s_{b}{b}::DOUBLE"
                f" - s_{b}::DOUBLE * s_{b}::DOUBLE)), 6)")
    sums = ", ".join(
        [f"CAST(sum({a} * {b}) AS BIGINT) AS s_{a}{b}"
         for a, b in (("q", "c"), ("q", "p"), ("c", "p"))]
        + [f"CAST(sum({v}) AS BIGINT) AS s_{v}, "
           f"CAST(sum({v} * {v}) AS BIGINT) AS s_{v}{v}"
           for v in ("q", "c", "p")])
    return f"""
WITH nb AS ({_nb_doc_cte()}
  SELECT doc_id, log_odds FROM scored
), qs AS (
  SELECT doc_id, round({O.quality_sql('text')}, 6) AS quality
  FROM documents
), pp AS ({_ppl_cte()}
  SELECT doc_id, log_ppl FROM bucketed
), vals AS (
  SELECT n.doc_id,
         CAST(round(coalesce(q.quality, 0.0) * 1000) AS BIGINT) AS q,
         CAST(round(n.log_odds * 1000) AS BIGINT) AS c,
         CAST(round(p.log_ppl * 1000) AS BIGINT) AS p
  FROM nb n JOIN qs q USING (doc_id) JOIN pp p USING (doc_id)
), agg AS (
  SELECT count(*)::BIGINT AS n, {sums} FROM vals
)
SELECT * FROM (
  SELECT 'quality_vs_classifier' AS pair, n, {corr("q", "c")} AS corr
  FROM agg
  UNION ALL
  SELECT 'quality_vs_perplexity', n, {corr("q", "p")} FROM agg
  UNION ALL
  SELECT 'classifier_vs_perplexity', n, {corr("c", "p")} FROM agg
) ORDER BY pair
"""


@register("t23_scorer_correlation", oracle=_t23_oracle())
def t23_scorer_correlation(spark: SparkSession, d: str) -> DataFrame:
    """Pearson agreement between the heuristic quality score (T2),
    the NB classifier log-odds (t21), and the bigram-LM log
    perplexity (ta_perplexity) — the scorer-redundancy read
    (correlated gates are substitutable; uncorrelated ones gate
    different failure modes).  Inputs quantize to 1e-3 BIGINTs so
    every sum is exact; the closed-form correlation then runs on
    identically-cast doubles in one fixed-order expression (sums up
    to ~1e17 exceed 2^53, but both engines cast the SAME exact
    integers, so the rounding is shared).  One three-way join on
    doc_id, one 1-row aggregate, three rows out."""
    from ..functions import text as X
    docs = _t(spark, d, "documents")
    nb = _nb_doc_scores(spark, d).select("doc_id", "log_odds")
    qs = (X.with_quality(docs.select("doc_id", "text"))
          .select("doc_id", F.coalesce("quality_score", F.lit(0.0))
                  .alias("quality")))
    pp = _ppl_frame(spark, d).select("doc_id", "log_ppl")
    vals = (nb.join(qs, "doc_id").join(pp, "doc_id")
            .select(F.round(F.col("quality") * 1000).cast("long").alias("q"),
                    F.round(F.col("log_odds") * 1000).cast("long")
                    .alias("c"),
                    F.round(F.col("log_ppl") * 1000).cast("long")
                    .alias("p")))
    aggs = [F.count("*").alias("n")]
    for a, b in (("q", "c"), ("q", "p"), ("c", "p")):
        aggs.append(F.sum(F.col(a) * F.col(b)).cast("long")
                    .alias(f"s_{a}{b}"))
    for v in ("q", "c", "p"):
        aggs.append(F.sum(v).cast("long").alias(f"s_{v}"))
        aggs.append(F.sum(F.col(v) * F.col(v)).cast("long")
                    .alias(f"s_{v}{v}"))
    agg = vals.agg(*aggs)

    def corr(a: str, b: str):
        n = F.col("n").cast("double")
        return F.round(
            (n * F.col(f"s_{a}{b}").cast("double")
             - F.col(f"s_{a}").cast("double")
             * F.col(f"s_{b}").cast("double"))
            / (F.sqrt(n * F.col(f"s_{a}{a}").cast("double")
                      - F.col(f"s_{a}").cast("double")
                      * F.col(f"s_{a}").cast("double"))
               * F.sqrt(n * F.col(f"s_{b}{b}").cast("double")
                        - F.col(f"s_{b}").cast("double")
                        * F.col(f"s_{b}").cast("double"))), 6)

    rows = agg.select(F.explode(F.array(
        F.struct(F.lit("quality_vs_classifier").alias("pair"),
                 F.col("n").alias("n"), corr("q", "c").alias("corr")),
        F.struct(F.lit("quality_vs_perplexity").alias("pair"),
                 F.col("n").alias("n"), corr("q", "p").alias("corr")),
        F.struct(F.lit("classifier_vs_perplexity").alias("pair"),
                 F.col("n").alias("n"), corr("c", "p").alias("corr"))))
        .alias("s")).select("s.*")
    return rows.orderBy("pair")
