"""Catalog extension: multi-strategy fusion, dedup suite, text
analysis, events analytics (SURVEY §2.3-2.6, §2.9-2.10, §7.2 phases
2+5).  Imported by plans.catalog so every entry lands in the same
CATALOG/queries()/oracle_sql() registry.

Conventions repeated from catalog.py: identical column aliases on both
sides, floats rounded in-query, deterministic tiebreaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import to_double_array
from ..operators import chunk_gates, dedup, fusion, textstats
from . import oracle_vec as OV
from .registry import _t, register
from .oracle_vec import QUERY_TERMS, QUERY_VEC
from .retrieval import _overlap_score, _qvec_col, with_cosine_q


# ===========================================================================
# Multi-strategy fusion, per-source stats, confidence (A3, A4, A6, A7)
# ===========================================================================

_A3_ORACLE = f"""
WITH s1 AS (
  SELECT vec_id AS id, {OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} AS score,
         'similarity' AS strategy FROM embeddings
  ORDER BY score DESC, vec_id LIMIT 20
), s2 AS (
  SELECT vec_id AS id, {OV.dot_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} AS score,
         'parent_child' AS strategy FROM embeddings
  ORDER BY score DESC, vec_id LIMIT 20
), s3 AS (
  SELECT doc_id AS id, {OV.overlap_score_sql('text', QUERY_TERMS)} AS score,
         'hybrid' AS strategy FROM documents
  ORDER BY score DESC, doc_id LIMIT 20
), unioned AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
), weighted AS (
  SELECT id, score, strategy,
         CASE strategy WHEN 'similarity' THEN {fusion.STRATEGY_WEIGHTS['similarity']}
                       WHEN 'parent_child' THEN {fusion.STRATEGY_WEIGHTS['parent_child']}
                       WHEN 'hybrid' THEN {fusion.STRATEGY_WEIGHTS['hybrid']}
                       ELSE 0.5 END AS w
  FROM unioned
)
SELECT id, round(sum(score * w) / sum(w), 6) AS fused_score,
       array_to_string(list_sort(list(DISTINCT strategy)), ',') AS strategies_used
FROM weighted GROUP BY id
"""


@register("a3_multi_strategy_fusion", oracle=_A3_ORACLE)
def a3_multi_strategy_fusion(spark: SparkSession, d: str) -> DataFrame:
    """A3: per-id weighted mean across strategies + strategies-used set
    (advanced_search.py:228-265).  The reference's sequential running
    mean == this grouped weighted mean because each strategy
    contributes once per id (asserted in tests/test_fusion.py)."""
    emb = _t(spark, d, "embeddings")
    docs = _t(spark, d, "documents")
    dv = to_double_array(F.col("embedding"))
    s1 = (with_cosine_q(emb)
          .select(F.col("vec_id").alias("id"),
                  F.col("__cos_q").alias("score"),
                  F.lit("similarity").alias("strategy"))
          .orderBy(F.desc("score"), "id").limit(20))
    from ..functions.vector import dot
    s2 = (emb.select(F.col("vec_id").alias("id"),
                     dot(dv, _qvec_col()).alias("score"),
                     F.lit("parent_child").alias("strategy"))
          .orderBy(F.desc("score"), "id").limit(20))
    s3 = (docs.select(F.col("doc_id").alias("id"),
                      _overlap_score(F.col("text")).alias("score"),
                      F.lit("hybrid").alias("strategy"))
          .orderBy(F.desc("score"), "id").limit(20))
    fused = fusion.multi_strategy_fusion(s1.unionByName(s2).unionByName(s3))
    return fused.select(
        "id", F.round("fused_score", 6).alias("fused_score"),
        F.array_join("strategies_used", ",").alias("strategies_used"))


@register("a4_best_doc_per_source", oracle="""
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) WHERE rn = 1
""")
def a4_best_doc_per_source(spark: SparkSession, d: str) -> DataFrame:
    """A4: arg-max row per key (source_attribution.py:148-160)."""
    docs = _t(spark, d, "documents")
    out = fusion.dedup_argmax(docs.select("source", "doc_id", "n_chars"),
                              "source", score_col="n_chars",
                              tiebreak_col="doc_id")
    return out.select("source", "doc_id", "n_chars")


@register("a6_source_stats", oracle=f"""
SELECT source,
       count(*) AS n_docs,
       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_english,
       sum(CASE WHEN len({OV.tokens_sql('text')}) >= 100 THEN 1 ELSE 0 END)::BIGINT AS n_long,
       sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source
""")
def a6_source_stats(spark: SparkSession, d: str) -> DataFrame:
    """A6: per-source conditional counts (source_attribution.py:262-296
    generalized; explode-based strategy counts live in
    operators.attribution.source_stats)."""
    docs = _t(spark, d, "documents")
    return (docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_english"),
        F.sum(F.when(F.size(dedup.tokens(F.col("text"))) >= 100, 1).otherwise(0))
         .alias("n_long"),
        F.sum("n_chars").alias("total_chars")))


@register("a7_confidence_score", oracle=f"""
WITH results AS (
  SELECT d.source AS source_type,
         {OV.overlap_score_sql('d.text', QUERY_TERMS)} AS score
  FROM documents d
  ORDER BY score DESC, d.doc_id LIMIT 10
)
SELECT round(least(1.0,
         0.6 * max(score)
         + 0.2 * least(count(*) / 3.0, 1.0)
         + 0.2 * least(count(DISTINCT source_type) / 2.0, 1.0)), 6) AS confidence
FROM results
""")
def a7_confidence_score(spark: SparkSession, d: str) -> DataFrame:
    """A7: 0.6*max_score + 0.2*min(n/3,1) + 0.2*min(sources/2,1) capped
    at 1 (source_attribution.py:175-205)."""
    docs = _t(spark, d, "documents")
    results = (docs.select(
        F.col("source").alias("source_type"),
        _overlap_score(F.col("text")).alias("score"),
        F.col("doc_id"))
        .orderBy(F.desc("score"), "doc_id").limit(10))
    out = fusion.confidence_score(results)
    return out.select(F.round("confidence", 6).alias("confidence"))


# ===========================================================================
# Dedup suite (BASELINE.json mandate)
# ===========================================================================

@register("dd_exact", oracle=OV.exact_dup_sql())
def dd_exact(spark: SparkSession, d: str) -> DataFrame:
    """Exact dedup: md5-groupBy, min-id keeper (uniform 128-bit shuffle
    key — no skew)."""
    return dedup.exact_duplicates(_t(spark, d, "documents"))


@register("dd_minhash_lsh", headline=True, oracle=OV.minhash_pairs_sql())
def dd_minhash_lsh(spark: SparkSession, d: str) -> DataFrame:
    """MinHash(16)+LSH(4x4) near-dup pairs, exact-Jaccard verified at
    0.8.  Signatures via higher-order functions (no explode); shuffle
    only on band buckets.  The oracle replicates the banding exactly."""
    return dedup.minhash_dedup_pairs(_t(spark, d, "documents"))


@register("dd_ngram_jaccard", oracle=OV.ngram_pairs_sql())
def dd_ngram_jaccard(spark: SparkSession, d: str) -> DataFrame:
    """Exact pairwise word-3-gram Jaccard >= 0.5 — the exact twin of
    dd_minhash_lsh.  Since r14 the plan is the shingle INVERTED INDEX
    (ngram_jaccard_pairs_index), not the nested-loop theta-join;
    since r15 the index carries the HOT-SHINGLE GUARD (VERDICT r14
    #4: identical-set collapse + PPJoin prefix filtering — a
    boilerplate megacluster enters the index once and corpus-wide hot
    shingles drop out of every prefix, so enumeration is bounded even
    on the adversarial skew corpus that max_bucket defends MinHash
    against).  Same result set for threshold > 0 (pinned vs the
    nested form at 3 thresholds in tests/test_catalog_r14.py, and vs
    the unguarded form incl. dup-clique corpora in
    tests/test_catalog_r15.py); the DuckDB oracle stays the
    nested-loop SQL, so the check is algorithm-independent."""
    return dedup.ngram_jaccard_pairs_index(_t(spark, d, "documents"))


@register("dd_simhash_signatures", oracle=OV.simhash_sql())
def dd_simhash_signatures(spark: SparkSession, d: str) -> DataFrame:
    """64-bit SimHash signatures (sim_hi, sim_lo) — map-only pass."""
    return dedup.simhash(_t(spark, d, "documents"))


@register("dd_simhash_pairs", oracle=OV.simhash_pairs_sql())
def dd_simhash_pairs(spark: SparkSession, d: str) -> DataFrame:
    """SimHash near-dup pairs via 16-bit pigeonhole blocks (hamming<=3
    pairs must share one of 4 exact blocks) + exact verify."""
    return dedup.simhash_dedup_pairs(_t(spark, d, "documents"))


@register("dd_embedding_neardup", oracle=OV.embedding_pairs_sql(0.3))
def dd_embedding_neardup(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact pairwise; LSH path behind
    use_lsh=True for >10^5 rows).  Threshold 0.3 fits the synthetic
    corpus' cosine distribution (random 64-d: 0.3 ≈ 2.4σ)."""
    return dedup.embedding_near_dups(_t(spark, d, "embeddings"), threshold=0.3)


# ===========================================================================
# Text analysis (BASELINE.json mandate)
# ===========================================================================

@register("ta_language_id", oracle=f"""
SELECT {OV.detect_language_sql('text')} AS detected_lang, count(*) AS n_docs
FROM documents GROUP BY 1
""")
def ta_language_id(spark: SparkSession, d: str) -> DataFrame:
    """Language-ID (stopword-profile argmax) rolled up to counts."""
    docs = _t(spark, d, "documents")
    return (textstats.with_language(docs)
            .groupBy("detected_lang").agg(F.count("*").alias("n_docs")))


@register("ta_token_counts", oracle=f"""
SELECT doc_id, {OV.bpe_count_sql('text')} AS bpe_tokens
FROM documents
""")
def ta_token_counts(spark: SparkSession, d: str) -> DataFrame:
    """BPE-ish token counting (regex pretokenizer); whitespace count is
    f3_word_count."""
    docs = _t(spark, d, "documents")
    return docs.select("doc_id",
                       textstats.bpe_token_count(F.col("text")).alias("bpe_tokens"))


@register("ta_fingerprint", oracle=OV.fingerprint_sql())
def ta_fingerprint(spark: SparkSession, d: str) -> DataFrame:
    """Document fingerprinting: mod-p sampled char-8-gram hashes,
    scalar projection (size/min/max) for the value-hash compare."""
    out = textstats.fingerprint(_t(spark, d, "documents"))
    return out.select(
        "doc_id", "fingerprint_size",
        F.coalesce(F.element_at("fingerprint", 1), F.lit(-1)).alias("fp_min"),
        F.coalesce(F.element_at("fingerprint", -1), F.lit(-1)).alias("fp_max"))


# ===========================================================================
# Events analytics (§2.10 extensions: sessionization, rolling, last-N)
# ===========================================================================

@register("ev_sessionize", headline=True, oracle="""
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
SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM numbered GROUP BY user_id, session_id
""")
def ev_sessionize(spark: SparkSession, d: str) -> DataFrame:
    """Sessionization with a 30-min inactivity gap — the batch form of
    session_window(ts, '30 minutes') (streaming twin in
    streaming.pipeline).  Windows partition on user_id; the session
    groupBy reuses the same key prefix."""
    ev = _t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # encoding-agnostic epoch seconds: the testdata has shipped ts as
    # both TIMESTAMP(NANOS)->bigint->timestamp and plain timestamp[us]
    # (TIMESTAMP_NTZ); casting through "timestamp" first is legal for
    # either, and the session TZ is UTC so NTZ->TZ is the identity
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    gap = ts_sec - F.lag(ts_sec).over(w)
    return (ev
            .withColumn("new_session",
                        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .withColumn("session_id", F.sum("new_session").over(run))
            .groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


@register("ev_rolling_metrics", oracle="""
SELECT event_id, user_id,
       round(sum(CAST(round(value * 10000) AS BIGINT)) OVER w / 10000.0
             / count(*) OVER w, 6) AS running_avg_value,
       count(*) OVER w AS query_count
FROM events
WINDOW w AS (ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def ev_rolling_metrics(spark: SparkSession, d: str) -> DataFrame:
    """A8: incremental running means over the event log
    (rag_engine.py:415-459).  The averaged value is scaled to an exact
    integer before the prefix sum so Spark and the oracle accumulate
    identically (float window sums differ in the last ulp between
    engines — DuckDB uses segment trees, Spark sequential frames);
    the general float form is operators.attribution.rolling_metrics."""
    ev = _t(spark, d, "events")
    w = (Window.orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = F.round(F.col("value") * 10000).cast("long")
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum(iv).over(w) / F.lit(10000.0) / F.count("*").over(w), 6)
         .alias("running_avg_value"),
        F.count("*").over(w).alias("query_count"))


@register("w6_last_events_per_user", oracle="""
SELECT user_id, event_id, ts FROM (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 10
""")
def w6_last_events_per_user(spark: SparkSession, d: str) -> DataFrame:
    """W6: keep last 10 events per key (conversation-history trim,
    slack_bot.py:144-160 / rag_engine.py:269-284)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (_t(spark, d, "events")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("user_id", "event_id", "ts"))


@register("ev_json_props", oracle="""
SELECT event_type,
       round(avg(json_extract_string(props, '$.k')::BIGINT), 6) AS avg_k,
       strftime(min(ts), '%Y-%m-%d') AS first_day
FROM events GROUP BY event_type
""")
def ev_json_props(spark: SparkSession, d: str) -> DataFrame:
    """F15/F16: JSON decode of the props column + date formatting."""
    ev = _t(spark, d, "events")
    return (ev.groupBy("event_type").agg(
        F.round(F.avg(F.get_json_object("props", "$.k").cast("long")), 6)
         .alias("avg_k"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_day")))


# ===========================================================================
# Parent-child chunking + diversity (rows-only: non-SQL semantics)
# ===========================================================================

@register("m2_parent_child", oracle=chunk_gates.M2_PARENT_CHILD_ORACLE)
def m2_parent_child(spark: SparkSession, d: str) -> DataFrame:
    """M2: parent(2000/400) + child(400/100) hierarchy
    (parent_child_chunker.py:40-136) — driver-visible as a
    constant-pinned invariant gate (the recursive splitter is not SQL,
    so the raw rows ship as m2_parent_child_rows in catalog_r7 plus
    property tests).  Verified in-plan: size bounds both levels, child
    substring-of-parent, child non-ws coverage of its parent, dense
    child_index, no orphans, every non-empty doc chunked — all
    (TRUE, 0 × 7) when the hierarchy is correct."""
    docs = _t(spark, d, "documents")
    return chunk_gates.m2_parent_child_invariants(docs)


def _w5_oracle() -> str:
    """Recursive-CTE replay of the greedy diversity loop: the kept set
    is a bitmask over the <=10 ranked candidates; a precomputed
    violation mask per candidate (pairs with Jaccard > threshold)
    reduces the keep test to one AND per step — no aggregate in the
    recursive term."""
    ov = OV.overlap_score_sql("text", QUERY_TERMS)
    toks = OV.tokens_sql("text")
    return f"""
WITH RECURSIVE cand0 AS (
  SELECT doc_id, {ov} AS score, text
  FROM documents
  ORDER BY score DESC, doc_id LIMIT 10
), cand AS (
  SELECT doc_id, score, list_distinct({toks}) AS toks,
         row_number() OVER (ORDER BY score DESC, text, doc_id) AS rn
  FROM cand0
), pairj AS (
  SELECT a.rn AS rn_a, b.rn AS rn_b,
         CASE WHEN len(a.toks) = 0 AND len(b.toks) = 0 THEN 1.0
              WHEN len(a.toks) = 0 OR len(b.toks) = 0 THEN 0.0
              ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                   / len(list_distinct(a.toks || b.toks)) END AS j
  FROM cand a JOIN cand b ON a.rn < b.rn
), viol AS (
  SELECT rn_b, sum(1::BIGINT << rn_a)::BIGINT AS vmask
  FROM pairj WHERE j > 0.85 GROUP BY rn_b
), walk AS (
  SELECT 0::BIGINT AS rn, 0::BIGINT AS mask
  UNION ALL
  SELECT c.rn,
         w.mask | (CASE WHEN (w.mask & coalesce(v.vmask, 0::BIGINT)) = 0
                        THEN (1::BIGINT << c.rn) ELSE 0::BIGINT END)
  FROM walk w
  JOIN cand c ON c.rn = w.rn + 1
  LEFT JOIN viol v ON v.rn_b = c.rn
)
SELECT 'q1' AS query_id, c.doc_id, round(c.score, 6) AS score
FROM cand c, (SELECT mask FROM walk ORDER BY rn DESC LIMIT 1) m
WHERE ((m.mask >> c.rn) & 1) = 1
"""


@register("w5_greedy_diversity", oracle=_w5_oracle())
def w5_greedy_diversity(spark: SparkSession, d: str) -> DataFrame:
    """W5: greedy Jaccard diversity filter per query over the top-10
    text-overlap results (advanced_search.py:275-311).  applyInPandas
    per query_id; k-bounded groups.  The sequential loop IS
    SQL-replayable because the kept-set state over <=10 candidates
    fits a bitmask accumulator (oracle above); assumes >min_results
    candidates so the filter actually runs (documents >= 50 rows at
    every sf)."""
    docs = _t(spark, d, "documents")
    results = (docs.select(
        F.lit("q1").alias("query_id"),
        F.col("doc_id"),
        _overlap_score(F.col("text")).alias("score"),
        F.col("text").alias("content"))
        .orderBy(F.desc("score"), "doc_id").limit(10))
    out = fusion.greedy_diversity(results, id_col="doc_id")
    return out.select("query_id", "doc_id", F.round("score", 6).alias("score"))
