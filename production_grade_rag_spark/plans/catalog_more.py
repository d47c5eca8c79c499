"""Catalog extension 2: embedding generation (M3), dedup keep/drop
resolution, Notion-style block rendering (S3), title fallback (S5).
Imported by plans.catalog; same registry and parity conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import chunking, dedup, embedding, similarity, textstats
from ..functions.text import URL_RE as _URL_RE_FOR_ORACLE
from ..session import scratch
from . import oracle_sql as O
from . import oracle_vec as OV
from .registry import _t, register
from .oracle_vec import QUERY_VEC
from .oracle_sql import sql_str


# ===========================================================================
# M3: feature-hash embedding (the oracle-checkable embedder backend)
# ===========================================================================

@register("m3_hash_components", headline=True, oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({OV.tokens_sql('text')}) AS tok FROM documents
)
SELECT doc_id,
       ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
       sum(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                THEN 1 ELSE -1 END)::BIGINT AS val
FROM toks GROUP BY doc_id, bucket
""")
def m3_hash_components(spark: SparkSession, d: str) -> DataFrame:
    """M3: deterministic feature-hash embedder, sparse-component view
    (document_processor.py:125-150 replaced by a library-free embedder,
    SURVEY §2.8/§7.4: torch is a config-flagged backend; this is the
    correctness path).  One batched ArrowEvalPython fold per doc +
    explode of the per-doc component set; the oracle recomputes the
    same exact signed-integer bucket sums relationally in DuckDB."""
    docs = _t(spark, d, "documents")
    out = embedding.hash_components_arrow(docs, text_col="text",
                                          id_col="doc_id", dim=64)
    return out.select("doc_id", "bucket", F.col("val").cast("long").alias("val"))


@register("m3_hash_embed", oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({OV.tokens_sql('text')}) AS tok FROM documents
), comps AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
         sum(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END) AS val
  FROM toks GROUP BY doc_id, bucket
), sq AS (
  SELECT doc_id, sum(val * val) AS s FROM comps GROUP BY doc_id
)
SELECT d.doc_id, 'hash-64' AS embedding_model,
       CASE WHEN coalesce(s.s, 0) = 0 THEN 0.0::DOUBLE
            ELSE 1.0::DOUBLE END AS sq_norm
FROM documents d LEFT JOIN sq s USING (doc_id)
""")
def m3_hash_embed(spark: SparkSession, d: str) -> DataFrame:
    """M3 full path: dense 64-d normalized embedding per document, one
    ArrowEvalPython node (embedding.hash_embed_arrow).  Components are
    oracle-checked in m3_hash_components; the assembly + normalization
    is pinned to the pure-Python twin embed_text_py in
    tests/test_embedding.py.  The dense output also
    gets a value oracle on its squared norm: exactly 1.0 after L2
    normalization unless every bucket sum cancels to zero (then the
    zero vector stays zero) — both cases derivable from the component
    sums, no array stringification involved."""
    docs = _t(spark, d, "documents")
    out = embedding.hash_embed_arrow(docs, text_col="text", dim=64)
    return out.select("doc_id", "embedding_model",
                      F.round(F.aggregate(F.col("embedding"), F.lit(0.0),
                                          lambda a, x: a + x * x), 6)
                       .alias("sq_norm"))


@register("m3_model_embed")  # rows-only: model-backed UDF path (M3)
def m3_model_embed(spark: SparkSession, d: str) -> DataFrame:
    """M3 model backend (document_processor.py:125-150): iterator
    pandas UDF with a per-executor lazy encoder singleton, encoding in
    batch-32 slices (rag_config.yaml:26).  Runs the real
    sentence-transformers loader when the library is importable; in
    this container the deterministic fake encoder exercises the
    identical Spark plumbing (same UDF, singleton, and batch shape).
    Backend dispatch + shape/norm invariants are pytest-pinned in
    tests/test_embedding.py."""
    docs = _t(spark, d, "documents").select("doc_id", "text")
    if embedding.model_available():
        out = embedding.model_embed(docs, text_col="text")
    else:
        out = embedding.model_embed(
            docs, text_col="text", model_name="fake-minilm-64",
            encoder_factory=embedding.fake_model_factory(
                "fake-minilm-64", dim=64))
    return out.select(
        "doc_id", "embedding_model",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(F.col("embedding"), F.lit(0.0),
                            lambda a, x: a + x * x), 6).alias("sq_norm"))


# ===========================================================================
# Dedup keep/drop resolution (pairs -> per-id decision)
# ===========================================================================

@register("dd_keepers", oracle=f"""
WITH pairs AS ({OV.ngram_pairs_sql(0.5).strip()})
SELECT d.doc_id,
       coalesce(l.is_dup, FALSE) AS is_near_dup
FROM documents d
LEFT JOIN (SELECT DISTINCT greatest(id_a, id_b) AS doc_id, TRUE AS is_dup
           FROM pairs) l USING (doc_id)
""")
def dd_keepers(spark: SparkSession, d: str) -> DataFrame:
    """Near-dup pairs collapsed to a keep/drop decision per id (min-id
    wins, single pass — SURVEY §7.2 phase 2 'connected-components-lite').
    Uses the exact n-gram pairs so the decision itself is
    oracle-checked end-to-end."""
    docs = _t(spark, d, "documents")
    pairs = dedup.ngram_jaccard_pairs_index(docs)
    return dedup.dedup_keepers(pairs, docs)


_RATIO_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, {OV.tokens_sql('text')} AS tk FROM documents
)
SELECT doc_id,
       round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0))::DOUBLE
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(regexp_extract_all(text, '[0-9]', 0))::DOUBLE
             / greatest(length(text), 1), 6) AS digit_ratio,
       round(len(regexp_extract_all(text, '[A-Z]', 0))::DOUBLE
             / greatest(length(text), 1), 6) AS upper_ratio,
       round(len(list_filter(tk, w -> list_contains({{stop}}, w)))::DOUBLE
             / greatest(len(tk), 1), 6) AS stopword_ratio
FROM toks
"""


def _ratio_oracle() -> str:
    from ..operators.textstats import STOPWORDS
    stop = "[" + ", ".join(sql_str(w) for w in STOPWORDS) + "]"
    return _RATIO_ORACLE.replace("{stop}", stop)


@register("ta_quality_ratios", oracle=_ratio_oracle())
def ta_quality_ratios(spark: SparkSession, d: str) -> DataFrame:
    """Training-data quality signals: punctuation/digit/uppercase char
    ratios + stopword token ratio (textstats.quality_ratios) — the
    mandated length/punct/stopword quality scoring next to the
    reference's T2 five-signal score."""
    from ..operators.textstats import with_quality_ratios
    docs = _t(spark, d, "documents").select("doc_id", "text")
    return with_quality_ratios(docs).drop("text")


@register("ev_sliding_counts", oracle="""
WITH ex AS (
  SELECT event_type, value,
         make_timestamp(((floor(epoch(ts))::BIGINT // 1800 - off) * 1800)
                        * 1000000) AS window_start
  FROM events, (SELECT unnest([0, 1]) AS off)
)
SELECT window_start, event_type, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM ex GROUP BY 1, 2
""")
def ev_sliding_counts(spark: SparkSession, d: str) -> DataFrame:
    """Sliding-window counts: 1-hour windows every 30 minutes (each
    event lands in exactly two windows).  Same plan under Structured
    Streaming; the tumbling twin is ev_hourly_event_counts."""
    ev = _t(spark, d, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                       "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 4).alias("sum_value"))
              .select(F.col("w.start").alias("window_start"), "event_type",
                      "n_events", "sum_value"))


@register("dd_components", oracle=f"""
WITH RECURSIVE pairs AS MATERIALIZED ({OV.ngram_pairs_sql(0.5).strip()}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
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
def dd_components(spark: SparkSession, d: str) -> DataFrame:
    """Exact near-dup clusters: connected components by star
    contraction over the n-gram pair graph (the exact upgrade of
    dd_keepers' single-pass min-id).  The DuckDB oracle computes the
    transitive closure recursively — equality proves the labeling
    exact."""
    docs = _t(spark, d, "documents")
    pairs = dedup.ngram_jaccard_pairs_index(docs)
    return dedup.connected_components(pairs, docs)


# ===========================================================================
# S3 / S5: semi-structured block rendering + title fallback
# ===========================================================================

_HEADING_RE = r"^#{1,6}\s+"
_BULLET_RE = r"^\s*[-*+]\s+"
_H1_TITLE_RE = r"(?m)^#\s+(.+)$"
_H1_TITLE_SQL = sql_str(_H1_TITLE_RE)


@register("s3_blocks_markdown", oracle=f"""
WITH lines AS (
  SELECT doc_id, string_split(text, e'\\n') AS ls FROM documents
)
SELECT doc_id,
       array_to_string(list_transform(ls, ln ->
         CASE WHEN regexp_matches(ln, {sql_str(_HEADING_RE)})
              THEN '**' || regexp_replace(ln, {sql_str(_HEADING_RE)}, '') || '**'
              WHEN regexp_matches(ln, {sql_str(_BULLET_RE)})
              THEN '- ' || regexp_replace(ln, {sql_str(_BULLET_RE)}, '')
              ELSE ln END), e'\\n') AS rendered
FROM lines
""")
def s3_blocks_markdown(spark: SparkSession, d: str) -> DataFrame:
    """S3: block->markdown decode (notion_collector.py:207-300).  Each
    line becomes a typed block encoded as a JSON doc (to_json), decoded
    back (get_json_object = F16) and rendered per block type
    (heading -> bold, bullet -> normalized list item, paragraph ->
    passthrough), then page-assembled with newlines
    (notion_collector.py:302-325).  The JSON round-trip IS the Spark
    plan; the oracle renders the lines directly — output equality
    verifies the decode path."""
    docs = _t(spark, d, "documents")
    blocks = F.transform(
        F.split(F.col("text"), "\n"),
        lambda ln: F.to_json(F.struct(
            F.when(ln.rlike(_HEADING_RE), F.lit("heading"))
             .when(ln.rlike(_BULLET_RE), F.lit("bulleted_list_item"))
             .otherwise(F.lit("paragraph")).alias("type"),
            ln.alias("text"))))
    rendered = F.transform(
        blocks,
        lambda b: F.when(
            F.get_json_object(b, "$.type") == "heading",
            F.concat(F.lit("**"),
                     F.regexp_replace(F.get_json_object(b, "$.text"),
                                      _HEADING_RE, ""),
                     F.lit("**")))
        .when(
            F.get_json_object(b, "$.type") == "bulleted_list_item",
            F.concat(F.lit("- "),
                     F.regexp_replace(F.get_json_object(b, "$.text"),
                                      _BULLET_RE, "")))
        .otherwise(F.get_json_object(b, "$.text")))
    return docs.select("doc_id", F.array_join(rendered, "\n").alias("rendered"))


@register("ev_user_rolling", oracle="""
SELECT event_id, user_id,
       round(sum(CAST(round(value * 10000) AS BIGINT)) OVER w / 10000.0
             / count(*) OVER w, 6) AS running_avg_value,
       count(*) OVER w AS user_query_count
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def ev_user_rolling(spark: SparkSession, d: str) -> DataFrame:
    """A8 per-key form: running means PER USER — the scale-correct
    variant of ev_rolling_metrics (whose single global ordering is the
    oracle-twin of the reference's one-process counters; partitioning
    by user shards the window state across executors)."""
    from pyspark.sql import Window
    ev = _t(spark, d, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = F.round(F.col("value") * 10000).cast("long")
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum(iv).over(w) / F.lit(10000.0) / F.count("*").over(w), 6)
         .alias("running_avg_value"),
        F.count("*").over(w).alias("user_query_count"))


_MD_LINK_RE = r"\[([^\]]+)\]\(([^)]+)\)"


@register("f12_slack_format", oracle=f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '\\*\\*([^*]+)\\*\\*', '*\\1*', 'g'),
           {sql_str(_MD_LINK_RE)}, '<\\2|\\1>', 'g'),
         '(?m)^#{{1,6}}\\s+(.+)$', '*\\1*', 'g') AS slack_text
FROM documents
""")
def f12_slack_format(spark: SparkSession, d: str) -> DataFrame:
    """F12: markdown -> Slack mrkdwn rewrite chain (slack_bot.py:
    174-188): **bold** -> *bold*, [t](url) -> <url|t>, headings ->
    bold lines.  Pure regexp_replace chain, codegen'd."""
    docs = _t(spark, d, "documents")
    out = F.regexp_replace(F.col("text"), r"\*\*([^*]+)\*\*", r"*$1*")
    out = F.regexp_replace(out, _MD_LINK_RE, r"<$2|$1>")
    out = F.regexp_replace(out, r"(?m)^#{1,6}\s+(.+)$", r"*$1*")
    return docs.select("doc_id", out.alias("slack_text"))


@register("m4_context_grouping", oracle=f"""
WITH ranked AS (
  SELECT d.source, d.text,
         {OV.cosine_sql('e.embedding', OV.vec_lit_sql(QUERY_VEC))} AS score,
         d.doc_id
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  ORDER BY score DESC, d.doc_id LIMIT 10
), grouped AS (
  SELECT CASE WHEN source IN ('src0', 'src1') THEN 'notion'
              WHEN source IN ('src2', 'src3') THEN 'web'
              ELSE 'other' END AS source_group,
         count(*) AS n_results,
         string_agg(substr(text, 1, 80), e'\\n---\\n' ORDER BY score DESC, doc_id)
           AS context
  FROM ranked GROUP BY 1
)
SELECT source_group, n_results, context FROM grouped
""")
def m4_context_grouping(spark: SparkSession, d: str) -> DataFrame:
    """M4 in-scope slice: context assembly for generation — partition
    ranked results into source groups (notion/web/other) and
    concatenate their texts separator-joined in rank order
    (rag_engine.py:296-347).  The LLM call itself is out of scope
    (BASELINE.md); this is the data shaping that feeds it."""
    from .retrieval import with_cosine_q
    docs = _t(spark, d, "documents")
    emb = _t(spark, d, "embeddings")
    ranked = (with_cosine_q(docs.join(emb, docs.doc_id == emb.vec_id))
              .select("source", "text", "doc_id",
                      F.col("__cos_q").alias("score"))
              .orderBy(F.desc("score"), "doc_id").limit(10))
    grp = (F.when(F.col("source").isin("src0", "src1"), "notion")
            .when(F.col("source").isin("src2", "src3"), "web")
            .otherwise("other"))
    return (ranked
            .withColumn("source_group", grp)
            .groupBy("source_group")
            .agg(F.count("*").alias("n_results"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct(
                             (-F.col("score")).alias("k1"),
                             F.col("doc_id").alias("k2"),
                             F.substring("text", 1, 80).alias("t")))),
                         lambda s: s["t"]),
                     "\n---\n").alias("context")))


@register("s7_ordered_chunk_scan", oracle=f"""
WITH chunks AS ({O.chunk_fixed_sql().strip()})
SELECT chunk_id, doc_id, chunk_index, word_count
FROM chunks WHERE doc_id = 7 ORDER BY chunk_index
""")
def s7_ordered_chunk_scan(spark: SparkSession, d: str) -> DataFrame:
    """S7: one document's chunks in chunk_index order
    (document_repository.py:405-431) over the fixed-stride chunk set."""
    from ..sources import ordered_chunk_scan
    chunks = chunking.chunk_fixed(_t(spark, d, "documents"))
    return (ordered_chunk_scan(chunks, 7)
            .select("chunk_id", "doc_id", "chunk_index", "word_count"))


_M2F_ORACLE = O.PARENT_CHILD_FIXED_CTE + """
SELECT parent_id AS chunk_id, doc_id, p_global AS chunk_index,
       'parent' AS chunk_type, parent_id, child_count,
       NULL::INT AS child_index, length(p_content)::INT AS content_len
FROM p3
UNION ALL
SELECT parent_id || '_child_' || c_idx AS chunk_id, doc_id,
       p_global + 1 + c_idx::INT AS chunk_index,
       'child' AS chunk_type, parent_id, NULL::INT AS child_count,
       c_idx::INT AS child_index,
       length(substr(p_content, c_idx::INT * 300 + 1, 400))::INT AS content_len
FROM p3, LATERAL unnest(range(0, child_count)) AS t(c_idx)
"""


@register("m2_parent_child_fixed", oracle=_M2F_ORACLE)
def m2_parent_child_fixed(spark: SparkSession, d: str) -> DataFrame:
    """M2 fixed-stride variant: full parent/child hierarchy — ids,
    interleaved global chunk_index, child counts — oracle-checked end
    to end (the recursive-splitter variant m2_parent_child is its
    rows-only twin; both share schema and id scheme)."""
    docs = _t(spark, d, "documents")
    out = chunking.chunk_parent_child_fixed(docs)
    return out.select("chunk_id", "doc_id", "chunk_index", "chunk_type",
                      "parent_id", "child_count", "child_index",
                      F.length("content").cast("int").alias("content_len"))


# ===========================================================================
# T7 exact greedy budget + multimodal plumbing
# ===========================================================================

_T7_GREEDY_ORACLE = """
WITH RECURSIVE ranked AS (
  SELECT (doc_id % 4)::VARCHAR AS query_id, doc_id,
         coalesce(length(text), 0)::BIGINT AS n_len,
         coalesce(length(text), 0)::BIGINT // 4 AS est,
         row_number() OVER (PARTITION BY doc_id % 4
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
), walk AS (
  SELECT query_id, 0::BIGINT AS rn, 0::BIGINT AS total,
         NULL::BIGINT AS doc_id, FALSE AS kept,
         0::BIGINT AS est_tokens, 0::INT AS kept_chars
  FROM (SELECT DISTINCT query_id FROM ranked)
  UNION ALL
  SELECT r.query_id, r.rn,
         CASE WHEN w.total + r.est > 300 THEN w.total
              ELSE w.total + least(r.est, 100) END,
         r.doc_id,
         w.total + r.est <= 300,
         least(r.est, 100)::BIGINT,
         (CASE WHEN r.est > 100 THEN 403 ELSE r.n_len END)::INT
  FROM walk w JOIN ranked r ON r.query_id = w.query_id AND r.rn = w.rn + 1
)
SELECT query_id, doc_id, est_tokens, kept_chars FROM walk WHERE kept
"""


@register("t7_greedy_budget", oracle=_T7_GREEDY_ORACLE)
def t7_greedy_budget(spark: SparkSession, d: str) -> DataFrame:
    """T7 exact: the reference's greedy skip-and-continue budget loop
    (rag_engine.py:230-258) per query via applyInPandas over k-bounded
    groups.  tests/test_budget.py pins it against the pure-Python twin;
    the window-form twin is oracle-checked as t7_token_budget_prefix.
    The loop is SQL-replayable: a recursive CTE walks each query's
    ranked rows carrying the running total (skip keeps the total,
    keep adds the truncated estimate), so the kept set gets a value
    oracle.  Budget 300 tokens / 100 per result; truncation to 400
    chars + '...' shows up as kept_chars = 403."""
    from ..operators import budget
    docs = _t(spark, d, "documents")
    results = docs.select(
        (F.col("doc_id") % 4).cast("string").alias("query_id"),
        F.col("doc_id"),
        (F.col("n_chars").cast("double")).alias("score"),
        F.col("text").alias("content"))
    out = budget.greedy_token_budget(results, max_total_tokens=300,
                                     max_result_tokens=100)
    return out.select("query_id", "doc_id", "est_tokens",
                      F.length("content").alias("kept_chars"))


_MM_ORACLE = f"""
WITH h AS (
  SELECT doc_id, length(text)::INT AS n_bytes,
         md5(text) AS hex FROM documents
)
SELECT doc_id, n_bytes,
       (1 + ('0x' || substr(hex, 1, 4))::BIGINT % 2048)::INT AS width,
       (1 + ('0x' || substr(hex, 5, 4))::BIGINT % 2048)::INT AS height,
       round(('0x' || substr(hex, 1, 2))::BIGINT / 255.0, 6) AS f0,
       round(('0x' || substr(hex, 3, 2))::BIGINT / 255.0, 6) AS f1,
       round(('0x' || substr(hex, 15, 2))::BIGINT / 255.0, 6) AS f7
FROM h
"""


@register("mm_decode_features", oracle=_MM_ORACLE)
def mm_decode_features(spark: SparkSession, d: str) -> DataFrame:
    """Multimodal decode plumbing: binary payload column -> mapInPandas
    feature extraction (Arrow-batched, no shuffle).  The decoder is the
    deterministic fake (md5-derived), so the ENTIRE UDF path — binary
    encoding, batch iteration, schema — is oracle-checked; a real
    decoder drops into the same iterator (multimodal.decode_features).
    ASCII testdata makes utf-8 bytes == DuckDB's md5(text) input."""
    from ..operators import multimodal
    docs = _t(spark, d, "documents")
    media = multimodal.attach_binary(docs)
    feats = multimodal.decode_features(media)
    return feats.select(
        "doc_id", "n_bytes", "width", "height",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 2), 6).alias("f1"),
        F.round(F.element_at("features", 8), 6).alias("f7"))


@register("mm_frame_sample", oracle="""
WITH base AS (
  SELECT doc_id, (n_chars / 100.0) AS dur,
         least(5, greatest(ceil(n_chars / 100.0)::INT, 1)) AS n
  FROM documents
)
SELECT doc_id, frame_index::INT AS frame_index,
       round(dur * frame_index / n, 6) AS frame_ts
FROM base, LATERAL unnest(range(0, n)) AS t(frame_index)
""")
def mm_frame_sample(spark: SparkSession, d: str) -> DataFrame:
    """Video frame-sampling plan: up to 5 evenly spaced timestamps per
    item, pure column arithmetic (each sampled frame then feeds
    decode_features).  Duration is a deterministic stand-in
    (n_chars/100 seconds)."""
    from ..operators import multimodal
    docs = _t(spark, d, "documents").select(
        "doc_id", (F.col("n_chars") / 100.0).alias("duration_s"))
    return multimodal.frame_sample(docs)


@register("s5_title_fallback", oracle=f"""
SELECT doc_id,
       coalesce(
         nullif(regexp_extract(text, {_H1_TITLE_SQL}, 1), ''),
         source || '-' || doc_id::VARCHAR) AS title
FROM documents
""")
def s5_title_fallback(spark: SparkSession, d: str) -> DataFrame:
    """S5: title fallback chain (web_crawler.py:72-184): first '# '
    heading, else a deterministic source-derived default (the
    reference's metadata-title and URL tiers have no testdata columns;
    the timestamped default is replaced by a deterministic one —
    SURVEY §7.4 risk 6)."""
    docs = _t(spark, d, "documents")
    heading = F.nullif(F.regexp_extract(F.col("text"), _H1_TITLE_RE, 1),
                       F.lit(""))
    fallback = F.concat_ws("-", F.col("source"), F.col("doc_id"))
    return docs.select("doc_id", F.coalesce(heading, fallback).alias("title"))


# ===========================================================================
# Custom stateful streaming operator (applyInPandasWithState)
# ===========================================================================

@register("st_user_running_state", oracle="""
SELECT user_id,
       count(*) AS event_count,
       sum(CAST(floor(value * 10000) AS BIGINT)) / 10000.0 AS value_sum
FROM events
GROUP BY user_id
""")
def st_user_running_state(spark: SparkSession, d: str) -> DataFrame:
    """A8 as a custom stateful streaming operator: per-user running
    (count, value-sum) via applyInPandasWithState over the watermarked
    event stream; drained with availableNow, then the last emission per
    user (max event_count) is the final state — which must equal the
    plain batch groupBy, the SQL oracle here.  Integer-scaled
    accumulation makes the float sum batch-order independent."""
    from pyspark.sql import Window
    from ..streaming import pipeline as SP
    stream = SP.read_event_stream(spark, d)
    updates = SP.run_available_now(SP.user_running_state(stream),
                                   "st_user_running_state",
                                   output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_count"))
    return (updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_count", "value_sum"))


@register("ev_skew_salted_agg", oracle="""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       sum(CAST(floor(value * 10000) AS BIGINT)) / 10000.0 AS sum_value
FROM events
GROUP BY event_type
""")
def ev_skew_salted_agg(spark: SparkSession, d: str) -> DataFrame:
    """Salting demo for skewed group keys: event_type has very few
    distinct values, so a naive groupBy lands each key on ONE reducer.
    Two-phase plan: partial agg on (event_type, salt=pmod(hash,16))
    spreads each hot key over 16 reducers, then a final agg on
    event_type combines the 16 tiny partials.  For count/sum Spark's
    own map-side combine already does this — the pattern matters for
    aggregates WITHOUT partial merge (collect_list, exact distinct,
    pandas UDAFs); distinct users here is exact via the same two-phase
    shape (partial distinct inside each salt shard, merged as a set
    union — expressed with a pre-distinct on (type, salt, user)).
    Integer-scaled value sum keeps float parity salt-order independent."""
    ev = _t(spark, d, "events")
    salted = ev.withColumn("__salt", F.pmod(F.hash("user_id"), F.lit(16)))
    partial = (salted
               .groupBy("event_type", "__salt")
               .agg(F.count("*").alias("__n"),
                    F.collect_set("user_id").alias("__users"),
                    F.sum(F.floor(F.col("value") * 10000).cast("long"))
                    .alias("__v")))
    return (partial
            .groupBy("event_type")
            .agg(F.sum("__n").alias("n_events"),
                 F.size(F.array_distinct(
                     F.flatten(F.collect_list("__users")))).cast("long")
                 .alias("n_users"),
                 (F.sum("__v") / 10000.0).alias("sum_value")))


# ===========================================================================
# Standalone T4/T5/T6 (explicit §2.2 keys; also exercised inside
# m1_chunk_fixed and r4_knn_filtered pipelines)
# ===========================================================================

@register("t4_min_length", oracle=f"""
SELECT doc_id, length({O.pystrip_sql('text')}) AS content_len
FROM documents
WHERE length({O.pystrip_sql('text')}) >= 50
""")
def t4_min_length(spark: SparkSession, d: str) -> DataFrame:
    """T4 standalone: min-length gate on stripped content
    (document_processor.py:103-104; the chunk pipeline applies the
    same gate inside m1_chunk_fixed)."""
    from ..functions.text import pystrip
    docs = _t(spark, d, "documents")
    return (docs.select("doc_id",
                        F.length(pystrip(F.col("text"))).alias("content_len"))
            .filter(F.col("content_len") >= 50))


def _t5_oracle() -> str:
    score = OV.cosine_sql("embedding", OV.vec_lit_sql(QUERY_VEC))
    return f"""
SELECT vec_id, round({score}, 6) AS score
FROM embeddings
WHERE {score} >= 0.1
"""


@register("t5_score_threshold", oracle=_t5_oracle())
def t5_score_threshold(spark: SparkSession, d: str) -> DataFrame:
    """T5 standalone: min-score filter on similarity scores with NO
    top-k (vector_search.py:249-253 / advanced_search.py:224 — the
    threshold is its own operator; r4_knn_filtered composes it with
    the limit)."""
    from .retrieval import with_cosine_q
    emb = _t(spark, d, "embeddings")
    # r15: the raw score previously appeared TWICE in the projection
    # (rounded + filter column) and so computed twice per row; the
    # factored frame computes it once
    return (with_cosine_q(emb)
            .select("vec_id", F.round("__cos_q", 6).alias("score"),
                    F.col("__cos_q").alias("__raw"))
            .filter(F.col("__raw") >= 0.1).drop("__raw"))


@register("t6_field_projection", oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE source = 'src3'
""")
def t6_field_projection(spark: SparkSession, d: str) -> DataFrame:
    """T6 standalone: field projection + predicate, the $project/$match
    pair (vector_search.py:83-93).  Catalyst pushes BOTH to the parquet
    scan (PushedFilters + ReadSchema pruning — asserted in
    tests/test_sources.py for the same shape)."""
    docs = _t(spark, d, "documents")
    return (docs.filter(F.col("source") == "src3")
            .select("doc_id", "lang", "source"))


# ===========================================================================
# S1/S2: JSON page-dump source (notion_collector.py:56-144)
# ===========================================================================

@register("s1_json_page_scan", oracle="""
SELECT doc_id AS page_id, source AS title, n_chars
FROM documents WHERE doc_id % 7 = 0
""")
def s1_json_page_scan(spark: SparkSession, d: str) -> DataFrame:
    """S1: Notion page-dump scan (notion_collector.py:56-104).  The
    REST /search accumulation becomes a JSON-lines dump read back with
    PERMISSIVE + _corrupt_record: two deliberately malformed lines are
    appended to the dump and land in the corrupt channel instead of
    failing the scan (web_crawler.py:72-184 error tolerance), so the
    parsed output equals the documents-derived oracle exactly."""
    from ..sources import json_dump as J
    docs = (_t(spark, d, "documents").filter(F.col("doc_id") % 7 == 0)
            .select(F.col("doc_id").alias("page_id"),
                    F.col("source").alias("title"), "n_chars"))
    path = scratch("s1_json_dump")
    J.write_json_dump(docs, path,
                      corrupt_lines=['{"page_id": broken', 'not json'])
    df = J.read_json_dump(
        spark, path, schema="page_id BIGINT, title STRING, n_chars BIGINT")
    good, _bad = J.split_corrupt(df)
    return good.select("page_id", "title", "n_chars")


@register("s2_json_db_scan", oracle="""
SELECT doc_id AS entry_id, source AS db_title, lang, n_chars
FROM documents WHERE doc_id % 5 = 0
""")
def s2_json_db_scan(spark: SparkSession, d: str) -> DataFrame:
    """S2: Notion database-dump scan (notion_collector.py:105-144).
    Database entries carry a nested ``properties`` object; the dump
    serializes {"entry_id", "properties": {"title", "lang"},
    "n_chars"} and the scan projects the nested fields back out with
    dot paths — the semi-structured half of the source pair.  One
    corrupt line exercises the PERMISSIVE channel."""
    from ..sources import json_dump as J
    docs = (_t(spark, d, "documents").filter(F.col("doc_id") % 5 == 0)
            .select(F.col("doc_id").alias("entry_id"),
                    F.struct(F.col("source").alias("title"),
                             F.col("lang").alias("lang")).alias("properties"),
                    "n_chars"))
    path = scratch("s2_json_dump")
    J.write_json_dump(docs, path, corrupt_lines=['{"entry_id": 1, "properties": }'])
    df = J.read_json_dump(
        spark, path,
        schema="entry_id BIGINT, "
               "properties STRUCT<title: STRING, lang: STRING>, "
               "n_chars BIGINT")
    good, _bad = J.split_corrupt(df)
    return good.select("entry_id",
                       F.col("properties.title").alias("db_title"),
                       F.col("properties.lang").alias("lang"),
                       "n_chars")


@register("st_dedup_stream", oracle="""
SELECT DISTINCT md5(coalesce(text, '')) AS content_hash FROM documents
""")
def st_dedup_stream(spark: SparkSession, d: str) -> DataFrame:
    """Streaming exact dedup (ingest-time twin of dd_exact): file-source
    document stream -> md5(text) -> dropDuplicates on the hash, drained
    with availableNow.  The surviving doc per hash is arrival-order
    dependent, so the entry projects the deterministic part — the
    distinct hash set, which must equal the batch DISTINCT."""
    from ..streaming import pipeline as SP
    stream = SP.dedup_stream(SP.read_document_stream(spark, d))
    out = SP.run_available_now(stream.select("content_hash"),
                               "st_dedup_stream", output_mode="append")
    return out.select("content_hash").distinct()


@register("mm_audio_windows", oracle="""
WITH base AS (
  SELECT doc_id, (n_chars * 100)::BIGINT AS n_samples FROM documents
), w AS (
  SELECT doc_id, n_samples,
         1 + greatest(0, (n_samples - 16000 + 7999) // 8000) AS n_win
  FROM base
)
SELECT doc_id, i::INT AS window_index,
       (i * 8000)::BIGINT AS start_sample,
       least(i * 8000 + 16000, n_samples)::BIGINT AS end_sample
FROM w, LATERAL unnest(range(0, n_win)) AS t(i)
""")
def mm_audio_windows(spark: SparkSession, d: str) -> DataFrame:
    """Audio windowing plan: 1 s windows with 0.5 s hop at 16 kHz over
    the payload's sample count (deterministic stand-in: n_chars * 100
    samples).  Exact integer window math; the per-window byte ranges
    feed decode_features in a real pipeline."""
    from ..operators import multimodal
    docs = _t(spark, d, "documents").select(
        "doc_id", (F.col("n_chars") * 100).cast("long").alias("n_samples"))
    return multimodal.audio_windows(docs)


@register("ev_salted_join", oracle="""
WITH dim AS (
  SELECT user_id, count(*)::BIGINT AS user_events
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, d.user_events
FROM events e JOIN dim d USING (user_id)
""")
def ev_salted_join(spark: SparkSession, d: str) -> DataFrame:
    """Skewed fact-dim join without broadcast: the fact side is salted
    over 8 shuffle partitions per key and the (unbroadcastable-at-
    scale) dimension is replicated per salt — identical result to the
    plain join, which is exactly what the oracle replays.  Agg-side
    twin: ev_skew_salted_agg."""
    from ..operators.skew import salted_join
    events = _t(spark, d, "events")
    dim = events.groupBy("user_id").agg(
        F.count("*").alias("user_events"))
    fact = events.select("event_id", "user_id")
    return salted_join(fact, dim, "user_id", n_salts=8)


@register("ta_length_quantiles", oracle="""
SELECT lang, count(*)::BIGINT AS n_docs,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY lang
""")
def ta_length_quantiles(spark: SparkSession, d: str) -> DataFrame:
    """Text-analysis extension: per-language document length
    distribution via EXACT interpolated percentiles (Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear
    interpolation definition, verified bit-equal).  At 100 TB swap for
    ``percentile_approx`` — t-digest sketches merge map-side and skip
    the per-group sort the exact form needs; exact kept here for the
    value oracle."""
    docs = _t(spark, d, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("round(percentile(n_chars, 0.5), 6)").alias("p50"),
        F.expr("round(percentile(n_chars, 0.9), 6)").alias("p90"),
        F.expr("round(percentile(n_chars, 0.99), 6)").alias("p99"))


@register("m1_recursive_gate", oracle="""
SELECT TRUE AS has_chunks, 0::BIGINT AS n_offset_viol,
       0::BIGINT AS n_size_viol, 0::BIGINT AS n_dup_index
""")
def m1_recursive_gate(spark: SparkSession, d: str) -> DataFrame:
    """Driver-visible invariant gate for the recursive splitter (the
    rows-only m1_chunk_recursive twin): every chunk's recorded
    [start_char, end_char) offset must reproduce its content from the
    cleaned document text (strip applied, as the splitter does), spans
    must respect chunk_size, and (doc, chunk_index) must be unique.
    The splitter itself is not SQL-expressible (that's why the twin is
    rows-only); these invariants are — so a boundary-logic regression
    now flips a value hash, not just the fuzz tests
    (tests/test_chunking_fuzz.py)."""
    from ..functions.text import PY_STRIP_RE, clean_text
    docs = _t(spark, d, "documents").select(
        "doc_id", clean_text(F.col("text")).alias("__clean"))
    ch = chunking.chunk_recursive(_t(spark, d, "documents"))
    j = ch.join(docs, "doc_id")
    span = F.expr("substring(__clean, start_char + 1, end_char - start_char)")
    offset_ok = F.regexp_replace(span, PY_STRIP_RE, "") == F.col("content")
    size_ok = (F.col("end_char") - F.col("start_char")) <= F.lit(1000)
    dup = (ch.groupBy("doc_id", "chunk_index").count()
           .filter(F.col("count") > 1).count())
    agg = j.agg(
        F.count("*").alias("__n"),
        F.sum((~offset_ok).cast("long")).alias("n_offset_viol"),
        F.sum((~size_ok).cast("long")).alias("n_size_viol"))
    return agg.select(
        (F.col("__n") > 0).alias("has_chunks"),
        "n_offset_viol", "n_size_viol",
        F.lit(int(dup)).cast("long").alias("n_dup_index"))


@register("m2_recursive_gate", oracle="""
SELECT TRUE AS has_chunks, 0::BIGINT AS n_orphans,
       0::BIGINT AS n_count_viol, 0::BIGINT AS n_substr_viol,
       0::BIGINT AS n_index_viol
""")
def m2_recursive_gate(spark: SparkSession, d: str) -> DataFrame:
    """Driver-visible invariant gate for the recursive parent/child
    hierarchy (rows-only twins m2_parent_child /
    r2_parent_context_recursive / r3_parent_child_map_recursive):
    every child's parent exists, parents' child_count matches the
    actual children, child content is a substring of its parent's
    content, and the global interleaved chunk_index holds
    (child.index == parent.index + 1 + child_index)."""
    ch = chunking.chunk_parent_child(_t(spark, d, "documents"))
    parents = ch.filter(F.col("chunk_type") == "parent").select(
        F.col("parent_id").alias("pid"),
        F.col("content").alias("p_content"),
        F.col("chunk_index").alias("p_index"),
        F.col("child_count").alias("p_child_count"))
    kids = ch.filter(F.col("chunk_type") == "child")
    jk = kids.join(parents, kids.parent_id == parents.pid, "left")
    per_parent = (kids.groupBy("parent_id")
                  .agg(F.count("*").alias("n_kids"))
                  .join(parents, F.col("parent_id") == parents.pid, "full")
                  .filter(F.coalesce("n_kids", F.lit(0))
                          != F.coalesce("p_child_count", F.lit(-1))))
    agg = jk.agg(
        F.count("*").alias("__n"),
        F.sum(F.col("pid").isNull().cast("long")).alias("n_orphans"),
        F.sum((F.instr(F.col("p_content"), F.col("content")) == 0)
              .cast("long")).alias("n_substr_viol"),
        F.sum((F.col("chunk_index")
               != F.col("p_index") + 1 + F.col("child_index"))
              .cast("long")).alias("n_index_viol"))
    n_count_viol = per_parent.count()
    return agg.select(
        (F.col("__n") > 0).alias("has_chunks"), "n_orphans",
        F.lit(int(n_count_viol)).cast("long").alias("n_count_viol"),
        "n_substr_viol", "n_index_viol")


# ===========================================================================
# Training-data pipeline extensions 2: repetition, domain caps, redaction
# ===========================================================================

@register("ta_repetition_stats", oracle=f"""
WITH lines AS (
  SELECT doc_id, l AS line, count(*) AS cnt
  FROM documents, LATERAL unnest(string_split(text, chr(10))) AS t(l)
  WHERE length(l) > 0 GROUP BY doc_id, l
), lstats AS (
  SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct,
         sum(length(line) * cnt) AS chars,
         sum(CASE WHEN cnt > 1 THEN length(line) * cnt ELSE 0 END) AS dup_chars
  FROM lines GROUP BY doc_id
), toks AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest({OV.tokens_sql('text')}) AS tok FROM documents)
  GROUP BY doc_id, tok
), tstats AS (
  SELECT doc_id, sum(cnt) AS n_toks, max(cnt) AS top_cnt
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, coalesce(l.n_lines, 0)::BIGINT AS n_lines,
       round(1.0 - coalesce(l.n_distinct, 0)
             / greatest(l.n_lines, 1), 6) AS dup_line_frac,
       round(coalesce(l.dup_chars, 0)
             / greatest(l.chars, 1), 6) AS dup_line_char_frac,
       round(coalesce(t.top_cnt, 0)
             / greatest(t.n_toks, 1), 6) AS top_word_frac
FROM documents d LEFT JOIN lstats l USING (doc_id)
LEFT JOIN tstats t USING (doc_id)
""")
def ta_repetition_stats(spark: SparkSession, d: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-line
    fraction by count and by character mass, most-frequent-token
    share) — the published MassiveText repetition filters as two
    narrow explode+agg pipelines."""
    return textstats.repetition_stats(_t(spark, d, "documents"))


@register("dd_domain_cap", oracle=f"""
WITH scored AS (
  SELECT doc_id, source, {O.quality_sql('text')} AS q FROM documents
), ranked AS (
  SELECT doc_id, source, round(q, 6) AS quality_score,
         row_number() OVER (PARTITION BY source
                            ORDER BY round(q, 6) DESC, doc_id) AS rank
  FROM scored
)
SELECT doc_id, source, quality_score, rank::INT AS rank
FROM ranked WHERE rank <= 5
""")
def dd_domain_cap(spark: SparkSession, d: str) -> DataFrame:
    """C4-style per-domain contribution cap: top-5 documents per
    source by T2 quality (one window shuffle on the source key) — the
    standard pre-training guard against one domain flooding the
    corpus."""
    from ..functions import text as X
    docs = X.with_quality(_t(spark, d, "documents"))
    out = textstats.source_cap(docs, cap=5)
    return out.select("doc_id", "source", "quality_score",
                      F.col("rank").cast("int").alias("rank"))


@register("ta_redact", oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, {sql_str(textstats.EMAIL_RE)}))::INT
         AS n_emails,
       len(regexp_extract_all(text, {sql_str(_URL_RE_FOR_ORACLE)}, 1))::INT
         AS n_urls,
       length(regexp_replace(regexp_replace(text,
           {sql_str(textstats.EMAIL_RE)}, '[EMAIL]', 'g'),
           {sql_str(_URL_RE_FOR_ORACLE)}, '[URL]', 'g'))::INT
         AS redacted_len
FROM documents
""")
def ta_redact(spark: SparkSession, d: str) -> DataFrame:
    """PII/URL scrub pass: count and mask emails and URLs per document
    (map-only, codegen-fused) — the standard pre-training redaction
    step, value-oracled end to end including the rewritten lengths."""
    return textstats.redact(_t(spark, d, "documents"))


@register("a5_approx_gate", oracle="""
SELECT TRUE AS users_within_5pct, TRUE AS p50_within_5pct,
       TRUE AS p99_within_5pct
""")
def a5_approx_gate(spark: SparkSession, d: str) -> DataFrame:
    """Error gate for the sketch-based aggregation forms the 100 TB
    notes promise (approx_count_distinct / percentile_approx replacing
    their exact twins): HLL distinct users and t-digest value
    percentiles over events must land within 5% of exact, computed
    in-plan so the driver would catch a sketch-parameter regression."""
    ev = _t(spark, d, "events")
    agg = ev.agg(
        F.countDistinct("user_id").alias("__u"),
        F.approx_count_distinct("user_id").alias("__ua"),
        F.expr("percentile(value, 0.5)").alias("__p50"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("__p50a"),
        F.expr("percentile(value, 0.99)").alias("__p99"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("__p99a"))

    def within(a, b):
        return (F.abs(F.col(a) - F.col(b))
                / F.greatest(F.abs(F.col(a)), F.lit(1e-12))) <= 0.05

    return agg.select(
        within("__u", "__ua").alias("users_within_5pct"),
        within("__p50", "__p50a").alias("p50_within_5pct"),
        within("__p99", "__p99a").alias("p99_within_5pct"))


@register("ev_asof_join", oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id
  FROM events WHERE event_type IN ('click', 'purchase')
), filled AS (
  SELECT *,
         last_value(click_ts IGNORE NULLS) OVER w AS asof_click_ts,
         last_value(click_id IGNORE NULLS) OVER w AS asof_click_id
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       round(value, 4) AS purchase_value,
       asof_click_id, asof_click_ts,
       CASE WHEN asof_click_ts IS NOT NULL THEN
         date_diff('second', asof_click_ts, ts)::BIGINT END AS lag_seconds
FROM filled WHERE event_type = 'purchase'
""")
def ev_asof_join(spark: SparkSession, d: str) -> DataFrame:
    """As-of join — an operator Spark has no native form of: attach to
    every purchase the most recent PRECEDING click by the same user
    (time-series attribution; kdb aj / DuckDB ASOF JOIN semantics,
    backward direction).  Implemented as the union-window plan: tag
    both streams, one window partitioned on user_id ordered by (ts,
    event_id), last_value(ignorenulls) carries the latest click
    forward.  ONE shuffle on user_id total — no per-row probe, no
    range crossJoin; at 100 TB this is the canonical sort-merge as-of
    shape and skew only follows hot users (salt like operators.skew).
    The oracle replays the same window (ASOF JOIN itself would also
    work in DuckDB — the window replay keeps tie semantics explicit)."""
    from pyspark.sql import Window
    ev = _t(spark, d, "events").filter(
        F.col("event_type").isin("click", "purchase"))
    tagged = (ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts")))
        .withColumn(
        "click_id", F.when(F.col("event_type") == "click",
                           F.col("event_id"))))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = (tagged
              .withColumn("asof_click_ts",
                          F.last("click_ts", ignorenulls=True).over(w))
              .withColumn("asof_click_id",
                          F.last("click_id", ignorenulls=True).over(w)))
    lag = (F.col("ts").cast("timestamp").cast("long")
           - F.col("asof_click_ts").cast("timestamp").cast("long"))
    return (filled.filter(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"), "user_id",
                    F.col("ts").alias("purchase_ts"),
                    F.round("value", 4).alias("purchase_value"),
                    "asof_click_id", "asof_click_ts",
                    F.when(F.col("asof_click_ts").isNotNull(), lag)
                     .alias("lag_seconds")))


@register("t9_hash_sample", oracle="""
SELECT doc_id, source
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':sample'), 1, 8))::BIGINT
      % 100 < 10
""")
def t9_hash_sample(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic hash sampling (the pipeline staple `sample()`
    can't give you: reproducible across runs, engines, and partition
    layouts — the same ~10% of doc_ids every time, so train/eval
    splits are stable).  md5(id || salt) % 100 < rate, shared verbatim
    with the oracle; map-only, codegen-fused."""
    docs = _t(spark, d, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                          F.lit(":sample"))), 1, 8),
               16, 10).cast("long"), F.lit(100))
    return docs.filter(bucket < 10).select("doc_id", "source")


@register("ev_funnel", oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
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
), per_session AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM numbered GROUP BY user_id, session_id
), staged AS (
  SELECT p.user_id, p.session_id, p.first_view,
         min(CASE WHEN n.event_type = 'click'
                   AND n.ts >= p.first_view THEN n.ts END) AS first_click
  FROM per_session p
  JOIN numbered n USING (user_id, session_id)
  GROUP BY p.user_id, p.session_id, p.first_view
), staged2 AS (
  SELECT s.user_id, s.session_id, s.first_view, s.first_click,
         min(CASE WHEN n.event_type = 'purchase'
                   AND n.ts >= s.first_click THEN n.ts END) AS first_purchase
  FROM staged s
  JOIN numbered n USING (user_id, session_id)
  GROUP BY s.user_id, s.session_id, s.first_view, s.first_click
)
SELECT count(*)::BIGINT AS n_sessions,
       sum((first_view IS NOT NULL)::INT)::BIGINT AS n_view,
       sum((first_click IS NOT NULL)::INT)::BIGINT AS n_view_click,
       sum((first_purchase IS NOT NULL)::INT)::BIGINT AS n_view_click_purchase
FROM staged2
""")
def ev_funnel(spark: SparkSession, d: str) -> DataFrame:
    """Session funnel (view -> click -> purchase, in order, within a
    30-min session): the classic event-analytics composite over the
    same lag+prefix-sum sessionization as ev_sessionize.  Stages are
    order-constrained conditional MIN aggregations — first view, first
    click at-or-after it, first purchase at-or-after that — so the
    whole funnel is two grouped aggs on the (user, session) key after
    ONE window shuffle on user_id.  At 100 TB stage state is bounded
    by sessions, not events."""
    from pyspark.sql import Window
    ev = _t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    gap = ts_sec - F.lag(ts_sec).over(w)
    numbered = (ev
                .withColumn("new_session",
                            F.when(gap.isNull() | (gap > 1800), 1)
                             .otherwise(0))
                .withColumn("session_id", F.sum("new_session").over(run)))
    # stage times as CHAINED session-window mins (no joins): the
    # (user_id, session_id) windows reuse the user_id exchange —
    # HashPartitioning(user_id) satisfies the clustered distribution of
    # the superset key — so the whole funnel is ONE shuffle plus the
    # final tiny agg; nothing fact-scaled is ever broadcast.
    ws = Window.partitionBy("user_id", "session_id")
    wr = Window.partitionBy("user_id", "session_id") \
               .orderBy("ts", "event_id")
    staged = (numbered
              .withColumn("first_view",
                          F.min(F.when(F.col("event_type") == "view",
                                       F.col("ts"))).over(ws))
              .withColumn("first_click",
                          F.min(F.when((F.col("event_type") == "click")
                                       & (F.col("ts")
                                          >= F.col("first_view")),
                                       F.col("ts"))).over(ws))
              .withColumn("first_purchase",
                          F.min(F.when((F.col("event_type") == "purchase")
                                       & (F.col("ts")
                                          >= F.col("first_click")),
                                       F.col("ts"))).over(ws))
              .withColumn("__rn", F.row_number().over(wr))
              .filter(F.col("__rn") == 1))
    return staged.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("first_view").isNotNull().cast("long")).alias("n_view"),
        F.sum(F.col("first_click").isNotNull().cast("long"))
         .alias("n_view_click"),
        F.sum(F.col("first_purchase").isNotNull().cast("long"))
         .alias("n_view_click_purchase"))


_MM_QUERY_VEC8 = [0.9, 0.1, 0.5, 0.3, 0.7, 0.2, 0.8, 0.4]


def _mm_knn_oracle() -> str:
    feats = ", ".join(
        f"('0x' || substr(md5(text), {2 * i + 1}, 2))::BIGINT / 255.0"
        for i in range(8))
    qlit = OV.vec_lit_sql(_MM_QUERY_VEC8)
    cos = OV.cosine_sql("f.features", qlit)
    return f"""
WITH f AS (SELECT doc_id, [{feats}] AS features FROM documents)
SELECT doc_id, round({cos}, 6) AS score
FROM f ORDER BY {cos} DESC, doc_id LIMIT 10
"""


@register("mm_feature_knn", oracle=_mm_knn_oracle())
def mm_feature_knn(spark: SparkSession, d: str) -> DataFrame:
    """Multimodal decode -> ANN, end to end: binary payloads through
    the mapInPandas feature extractor, then exact cosine top-k over
    the extracted feature vectors — the image-similarity query a
    multimodal corpus runs, value-oracled the whole way because the
    fake decoder is md5-deterministic.  A real decoder slots into the
    same iterator and the search half is unchanged (same plan as
    r4_knn_topk: literal query column + TakeOrderedAndProject)."""
    from ..operators import multimodal
    docs = _t(spark, d, "documents")
    media = multimodal.attach_binary(docs)
    feats = multimodal.decode_features(media)
    out = similarity.knn_topk(feats, _MM_QUERY_VEC8, k=10,
                              vec_col="features", id_col="doc_id")
    return out.select("doc_id", F.round("score", 6).alias("score"))


@register("pk_sequence_pack", oracle="""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS bucket,
         greatest(length(text) // 4, 1)::BIGINT AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, bucket, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens)::BIGINT AS start_token
  FROM toks
)
SELECT doc_id, bucket, n_tokens, start_token,
       (start_token // 2048)::BIGINT AS first_seq,
       ((start_token + n_tokens - 1) // 2048)::BIGINT AS last_seq
FROM packed
""")
def pk_sequence_pack(spark: SparkSession, d: str) -> DataFrame:
    """GPT-style sequence packing (the final step of every pre-training
    data pipeline): concatenate the token stream per shard bucket and
    cut it into fixed 2048-token training sequences, documents
    crossing boundaries as they do in practice.  Each document gets
    its stream offset and the [first_seq, last_seq] span it occupies.

    Plan: token estimate (F8) -> md5 shard bucket -> ONE prefix-sum
    window per bucket.  Buckets are the parallelism unit (at 100 TB:
    date/shard partitions), so packing is embarrassingly parallel
    across shards and deterministic within them — the same property
    the hash sample (t9) gives train/eval splits."""
    docs = _t(spark, d, "documents")
    from pyspark.sql import Window
    n_tokens = F.greatest(F.floor(F.length("text") / 4), F.lit(1)) \
        .cast("long")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long"), F.lit(8))
    w = (Window.partitionBy("bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = docs.select("doc_id", bucket.alias("bucket"),
                       n_tokens.alias("n_tokens"))
    packed = base.withColumn(
        "start_token", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return packed.select(
        "doc_id", "bucket", "n_tokens", "start_token",
        F.floor(F.col("start_token") / 2048).cast("long").alias("first_seq"),
        F.floor((F.col("start_token") + F.col("n_tokens") - 1) / 2048)
         .cast("long").alias("last_seq"))


@register("ta_unigram_logprob", oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({OV.tokens_sql('text')}) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*)::DOUBLE AS freq FROM toks GROUP BY tok
), total AS (
  SELECT sum(freq) AS n FROM vocab
)
SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       round(avg(ln(v.freq / total.n)), 6) AS avg_logprob
FROM toks t JOIN vocab v USING (tok), total
GROUP BY t.doc_id
""")
def ta_unigram_logprob(spark: SparkSession, d: str) -> DataFrame:
    """Corpus-unigram log-probability per document — the classic
    LM-based quality signal (CCNet/Gopher use a KenLM 5-gram; the
    unigram form is its library-free floor): rare-token-heavy
    documents (gibberish, encoding damage) score low, stopword-heavy
    boilerplate scores high.  Plan: explode tokens -> vocab count
    (one shuffle on token) -> broadcast the 1-row total -> join freqs
    back (vocab-bounded shuffle) -> per-doc avg.  At 100 TB the vocab
    table is the only corpus-level state and it's vocabulary-sized,
    not corpus-sized."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    toks = docs.select("doc_id",
                       F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").cast("double")
                                    .alias("freq"))
    total = vocab.agg(F.sum("freq").alias("n"))
    return (toks.join(vocab, "tok")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.avg(F.log(F.col("freq") / F.col("n"))), 6)
                  .alias("avg_logprob")))


@register("ta_ngram_repetition", oracle=f"""
WITH toks AS (
  SELECT doc_id, {OV.tokens_sql('text')} AS t FROM documents
), grams AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i + 1, i + 2), ' ') AS bg,
         array_to_string(list_slice(t, i + 1, i + 3), ' ') AS tg,
         (i + 3 <= len(t)) AS has_tg
  FROM toks, LATERAL unnest(range(0, greatest(len(t) - 1, 0))) AS u(i)
), bstats AS (
  SELECT doc_id, sum(cnt) AS n_bg, max(cnt) AS top_bg
  FROM (SELECT doc_id, bg, count(*) AS cnt FROM grams GROUP BY doc_id, bg)
  GROUP BY doc_id
), tstats AS (
  SELECT doc_id, sum(cnt) AS n_tg, count(*) AS d_tg
  FROM (SELECT doc_id, tg, count(*) AS cnt FROM grams
        WHERE has_tg GROUP BY doc_id, tg)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(b.n_bg, 0)::BIGINT AS n_bigrams,
       round(coalesce(b.top_bg, 0) / greatest(b.n_bg, 1), 6)
         AS top_bigram_frac,
       round(CASE WHEN t.n_tg >= 1 THEN 1.0 - t.d_tg / t.n_tg
                  ELSE 0.0 END, 6) AS dup_trigram_frac
FROM documents d LEFT JOIN bstats b USING (doc_id)
LEFT JOIN tstats t USING (doc_id)
""")
def ta_ngram_repetition(spark: SparkSession, d: str) -> DataFrame:
    """Gopher's n-gram repetition filters, word form: the share of the
    single most frequent bigram and the duplicate-trigram fraction —
    catches loops and templated spam that single-token stats miss.
    One explode of (position -> bigram/trigram) then two grouped aggs
    on doc_id; same narrow map-side-combined shape as
    ta_repetition_stats."""
    from ..operators.dedup import tokens
    docs = _t(spark, d, "documents")
    t = tokens(F.col("text"))
    base = docs.select("doc_id", t.alias("__t"))
    # guard: Spark's sequence(0, -1) is DESCENDING [0, -1], so sub-2-
    # token docs must get an empty index array, not a negative index
    idx = F.when(F.size("__t") >= 2,
                 F.sequence(F.lit(0), F.size("__t") - 2)) \
           .otherwise(F.array().cast("array<int>"))
    grams = (base
             .withColumn("__i", F.explode(idx))
             .select("doc_id",
                     F.array_join(F.slice("__t", F.col("__i") + 1, 2), " ")
                      .alias("bg"),
                     F.array_join(F.slice("__t", F.col("__i") + 1, 3), " ")
                      .alias("tg"),
                     (F.col("__i") + 3 <= F.size("__t")).alias("has_tg")))
    bstats = (grams.groupBy("doc_id", "bg").agg(F.count("*").alias("cnt"))
              .groupBy("doc_id")
              .agg(F.sum("cnt").alias("n_bg"), F.max("cnt").alias("top_bg")))
    tstats = (grams.filter("has_tg")
              .groupBy("doc_id", "tg").agg(F.count("*").alias("cnt"))
              .groupBy("doc_id")
              .agg(F.sum("cnt").alias("n_tg"), F.count("*").alias("d_tg")))
    return (docs.select("doc_id")
            .join(bstats, "doc_id", "left").join(tstats, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bg", F.lit(0)).alias("n_bigrams"),
                F.round(F.coalesce("top_bg", F.lit(0))
                        / F.greatest(F.col("n_bg"), F.lit(1)), 6)
                 .alias("top_bigram_frac"),
                F.round(F.when(F.col("n_tg") >= 1,
                               F.lit(1.0) - F.col("d_tg") / F.col("n_tg"))
                         .otherwise(F.lit(0.0)), 6)
                 .alias("dup_trigram_frac")))
