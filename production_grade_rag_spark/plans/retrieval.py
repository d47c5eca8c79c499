"""Retrieval and ANN: every ``r*_``, ``eng_``, ``ir*_`` and ``flagship_``
catalog entry and its helpers; other domains import the shared ones
(``with_cosine_q``, ``_overlap_score``, ``_recall_summary``) from here.

The reference's retrieval is one pipeline: a ``$vectorSearch`` branch
and a ``$search`` branch, max-dedup by id, weighted fusion, top-k
(vector_search.py:98-204).  This module holds that pipeline and what
grows out of it: exact and approximate vector search with in-plan
recall gates, hybrid search under each text analyzer, the
SparkRagEngine search surface, training-pair mining, and the IR
evaluation harness.  Same registry and parity conventions as
plans/catalog.py, whose manifest sets the registration order.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..engine import SparkRagEngine
from ..functions.text import english_analyze_py, stem_py
from ..functions.vector import cosine, dot, to_double_array
from ..operators import attribution as attr
from ..operators import chunk_gates, chunking, dedup, fusion, pq, similarity, textscore
from ..operators.embedding import embed_text_py
from ..session import scratch
from . import flagship as FL
from . import oracle_sql as O
from . import oracle_vec as OV
from .registry import _t, register
from .oracle_sql import sql_str
from .oracle_vec import QUERY_TERMS, QUERY_VEC


# ===========================================================================
# Shared scoring helpers and the recall-gate pieces
# ===========================================================================

def _qvec_col():
    return F.array(*[F.lit(float(x)) for x in QUERY_VEC])


def _qvec_norm() -> float:
    """||QUERY_VEC|| with the same left-to-right IEEE double fold as
    functions.vector.norm (aggregate over zip_with, acc starts 0.0) and
    the same correctly-rounded sqrt, so the literal is bit-identical to
    what the in-plan norm(_qvec_col()) computed per row."""
    acc = 0.0
    for x in QUERY_VEC:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def with_cosine_q(df: DataFrame, emb_col: str = "embedding",
                  out: str = "__cos_q") -> DataFrame:
    """``out`` = cosine(embedding, QUERY_VEC) with the per-row work
    factored (r15, guide §1.2 step 2): the double-cast of the embedding
    is materialized ONCE as a real projection (the inline form
    re-evaluated it three times — in the dot product and twice inside
    the row norm), and the query norm — constant per row but NOT
    constant-folded by Catalyst because HOF folds are CodegenFallback —
    is a Python-precomputed literal.  dot/(sqrt(selfdot)*qnorm) is the
    same double ops in the same order as cosine(); pinned bit-identical
    on every corpus row by tests/test_retrieval.py."""
    e = F.col("__e")
    return (df.withColumn("__e", to_double_array(F.col(emb_col)))
              .withColumn("__d", dot(e, _qvec_col()))
              .withColumn("__s", dot(e, e))
              .withColumn(out, F.col("__d")
                          / (F.sqrt("__s") * F.lit(_qvec_norm())))
              .drop("__e", "__d", "__s"))


def _overlap_score(col):
    """Text-branch relevance: |distinct tokens ∩ query terms| / |query|."""
    toks = F.array_distinct(dedup.tokens(col))
    q = F.array(*[F.lit(t) for t in QUERY_TERMS])
    return F.size(F.array_intersect(toks, q)).cast("double") / len(QUERY_TERMS)


def _recall_summary(exact: DataFrame, approx: DataFrame,
                    keys: list[str], floor: float) -> DataFrame:
    """One-row recall gate: full-outer join exact vs approx result
    keys, recall = |∩|/|exact|, emit floor_met (the approximate side's
    only driver-checkable property — the recall VALUE is data- and
    implementation-dependent, the floor is the contract).  The exact
    side's cardinality is emitted too: it IS deterministic, so the
    oracle value-checks it."""
    e = exact.select(*keys).withColumn("__e", F.lit(1))
    a = approx.select(*keys).withColumn("__a", F.lit(1))
    j = e.join(a, keys, "full")
    agg = j.agg(F.sum("__e").alias("__n_exact"),
                F.sum(F.col("__e") * F.col("__a")).alias("__n_hit"))
    cols = [F.col("__n_exact").cast("long").alias("n_exact"),
            (F.coalesce(F.col("__n_hit"), F.lit(0))
             / F.col("__n_exact") >= floor).alias("floor_met")]
    return agg.select(*cols)


def _recall_oracle(n_exact: int) -> str:
    """Oracle of a recall gate whose exact side returns ``n_exact`` rows."""
    return f"""
SELECT {n_exact}::BIGINT AS n_exact, TRUE AS floor_met
"""


_RECALL_AT_10 = _recall_oracle(10)


def _engine_recall(spark: SparkSession, d: str, cfg: EngineConfig,
                   floor: float) -> DataFrame:
    """Engine-level recall gate: the same SparkRagEngine.search call
    (top-10 for QUERY_VEC over the embeddings table) under ``cfg`` vs
    the exact backend."""
    emb = _t(spark, d, "embeddings")
    exact = SparkRagEngine(spark).search(
        emb, query_vector=QUERY_VEC, limit=10, id_col="vec_id")
    approx = SparkRagEngine(spark, cfg).search(
        emb, query_vector=QUERY_VEC, limit=10, id_col="vec_id")
    return _recall_summary(exact, approx, ["vec_id"], floor=floor)


# ===========================================================================
# Exact vector search (R4/R5/R6) on the embeddings table
# ===========================================================================

@register("r4_knn_topk", headline=True, oracle=f"""
SELECT vec_id, label, round({OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))}, 6) AS score
FROM embeddings
ORDER BY {OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} DESC, vec_id
LIMIT 20
""")
def r4_knn_topk(spark: SparkSession, d: str) -> DataFrame:
    """R4: exact top-k cosine for one query vector (vector_search.py:
    37-95).  Broadcast-literal query, JVM-side score, orderBy+limit
    compiles to TakeOrderedAndProject — no corpus shuffle."""
    emb = _t(spark, d, "embeddings")
    out = similarity.knn_topk(emb, QUERY_VEC, k=20)
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


@register("r4_knn_filtered", oracle=f"""
SELECT vec_id, round({OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))}, 6) AS score
FROM embeddings
WHERE {OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} >= 0.1
ORDER BY {OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} DESC, vec_id
LIMIT 50
""")
def r4_knn_filtered(spark: SparkSession, d: str) -> DataFrame:
    """R4+T5+T6: filtered search — score, min_score filter, project,
    top-k (vector_search.py:207-275: match AFTER score, before limit)."""
    emb = _t(spark, d, "embeddings")
    out = similarity.knn_topk(emb, QUERY_VEC, k=50, min_score=0.1)
    return out.select("vec_id", F.round("score", 6).alias("score"))


@register("r5_self_similar", oracle=f"""
SELECT b.vec_id, round({OV.cosine_sql('b.embedding', 'a.embedding')}, 6) AS score
FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
WHERE a.vec_id = 0
ORDER BY {OV.cosine_sql('b.embedding', 'a.embedding')} DESC, b.vec_id
LIMIT 10
""")
def r5_self_similar(spark: SparkSession, d: str) -> DataFrame:
    """R5: rows similar to an existing row, self excluded
    (vector_search.py:488-533)."""
    emb = _t(spark, d, "embeddings")
    out = similarity.self_similar(emb, 0, k=10)
    return out.select("vec_id", F.round("score", 6).alias("score"))


@register("r6_label_proxy_similarity", oracle=f"""
WITH proxy AS (
  SELECT label, arg_min(embedding, vec_id) AS embedding
  FROM embeddings GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       round({OV.cosine_sql('a.embedding', 'b.embedding')}, 6) AS score
FROM proxy a JOIN proxy b ON a.label < b.label
""")
def r6_label_proxy_similarity(spark: SparkSession, d: str) -> DataFrame:
    """R6+W3: proxy each group by its FIRST member's vector (min_by ==
    'first chunk embedding', vector_store.py:306-342), then pairwise
    group-to-group similarity."""
    emb = _t(spark, d, "embeddings")
    proxy = emb.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("embedding"))
    a = proxy.select(F.col("label").alias("label_a"),
                     to_double_array(F.col("embedding")).alias("__va"))
    b = proxy.select(F.col("label").alias("label_b"),
                     to_double_array(F.col("embedding")).alias("__vb"))
    return (a.join(b, F.col("label_a") < F.col("label_b"))
             .select("label_a", "label_b",
                     F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("score")))


_KNN_JOIN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id AS result_id,
         {OV.cosine_sql('c.embedding', 'q.embedding')} AS score
  FROM embeddings c CROSS JOIN q
), ranked AS (
  SELECT query_id, result_id, round(score, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, result_id) AS rank
  FROM scored
)
SELECT query_id, result_id, score, rank FROM ranked WHERE rank <= 5
"""


@register("r4_knn_join_batch", oracle=_KNN_JOIN_ORACLE)
def r4_knn_join_batch(spark: SparkSession, d: str) -> DataFrame:
    """R4 batched (vector_search.py:37-95 for a query SET): broadcast
    the small query side against the corpus, per-query top-k via
    row_number — one shuffle on query_id only, corpus never shuffles."""
    emb = _t(spark, d, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.knn_join(queries, emb, k=5, q_id="vec_id")
    return out.select("query_id", "result_id",
                      F.round("score", 6).alias("score"), "rank")


_EUC_SQL = ("sqrt(list_sum(list_transform(list_zip(embedding, {q}), "
            "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))))")


def _euc_oracle() -> str:
    e = _EUC_SQL.format(q=OV.vec_lit_sql(QUERY_VEC))
    return f"""
SELECT vec_id, round({e}, 6) AS distance
FROM embeddings
ORDER BY {e}, vec_id
LIMIT 10
"""


@register("r4_knn_euclidean", oracle=_euc_oracle())
def r4_knn_euclidean(spark: SparkSession, d: str) -> DataFrame:
    """R4 with the euclidean metric (index_manager.py:57-60 metric
    choices cosine/euclidean/dotProduct — cosine is r4_knn_topk, dot is
    inside a3): nearest-by-distance top-k."""
    emb = _t(spark, d, "embeddings")
    out = similarity.knn_topk(emb, QUERY_VEC, k=10, metric="euclidean")
    return out.select("vec_id", F.round(-F.col("score"), 6).alias("distance"))


# ===========================================================================
# Hybrid retrieval (R7): vector branch + text branch, max-dedup by id,
# fusion, top-k (vector_search.py:98-204)
# ===========================================================================

def _hybrid_oracle(cte: str | None, score: str) -> str:
    """DuckDB twin of ``_hybrid``: vector top-40 and text top-40, max
    per score by id, 0.7/0.3 fusion, top-20.  ``score`` is the text
    relevance per document; it reads ``documents`` directly
    (``cte`` None), or the ``tf, stats`` CTEs that ``cte`` defines."""
    head, sep, src = (("WITH ", "\n         ", "documents") if cte is None
                      else (f"WITH {cte},\n", " ", "tf, stats"))
    return f"""
{head}vec AS (
  SELECT vec_id AS id, {OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} AS vector_score,
         NULL::DOUBLE AS text_score
  FROM embeddings
  ORDER BY vector_score DESC, vec_id LIMIT 40
), txt AS (
  SELECT doc_id AS id, NULL::DOUBLE AS vector_score,{sep}{score} AS text_score
  FROM {src}
  ORDER BY text_score DESC, doc_id LIMIT 40
), unioned AS (
  SELECT * FROM vec UNION ALL SELECT * FROM txt
), merged AS (
  SELECT id, max(vector_score) AS vector_score, max(text_score) AS text_score
  FROM unioned GROUP BY id
)
SELECT id, round(coalesce(vector_score, 0), 6) AS vector_score,
       round(coalesce(text_score, 0), 6) AS text_score,
       round({fusion.VECTOR_WEIGHT} * coalesce(vector_score, 0)
             + {fusion.TEXT_WEIGHT} * coalesce(text_score, 0), 6) AS score
FROM merged
ORDER BY {fusion.VECTOR_WEIGHT} * coalesce(vector_score, 0)
         + {fusion.TEXT_WEIGHT} * coalesce(text_score, 0) DESC, id
LIMIT 20
"""


def _hybrid(spark: SparkSession, d: str, txt: DataFrame) -> DataFrame:
    """The R7 pipeline every weighted hybrid entry shares: vector
    branch (cosine top-40) and text branch (``txt``: doc_id,
    text_score; top-40), max per score by id, weighted fusion,
    global top-20.  The embeddings row id doubles as the document id
    (testdata convention)."""
    vec = (with_cosine_q(_t(spark, d, "embeddings"))
           .select(F.col("vec_id").alias("id"),
                   F.col("__cos_q").alias("vector_score"))
           .orderBy(F.desc("vector_score"), "id").limit(40))
    txt = (txt.select(F.col("doc_id").alias("id"), "text_score")
           .orderBy(F.desc("text_score"), "id").limit(40))
    fused = fusion.weighted_fusion(fusion.hybrid_union(vec, txt))
    return (fused
            .select("id",
                    F.round(F.coalesce("vector_score", F.lit(0.0)), 6).alias("vector_score"),
                    F.round(F.coalesce("text_score", F.lit(0.0)), 6).alias("text_score"),
                    F.round("score", 6).alias("score"),
                    F.col("score").alias("__raw"))
            .orderBy(F.desc("__raw"), "id").limit(20).drop("__raw"))


def _tfidf_sql(terms: list[str]) -> tuple[str, str]:
    """(CTE prefix, score expression) for the smoothed TF-IDF twin of
    operators.textscore.tfidf_score — same fold order so doubles match
    bit-for-bit."""
    toks = OV.tokens_sql("text")
    dfs = ", ".join(
        f"sum((len(list_filter(toks, x -> x = {sql_str(t)})) > 0)::INT) AS df_{i}"
        for i, t in enumerate(terms))
    cte = (f"tf AS (SELECT doc_id, {toks} AS toks FROM documents), "
           f"stats AS (SELECT count(*) AS n_docs, {dfs} FROM tf)")
    score = "0.0" + "".join(
        f" + len(list_filter(toks, x -> x = {sql_str(t)}))::DOUBLE"
        f" * (ln((1.0 + n_docs) / (1.0 + df_{i})) + 1.0)"
        for i, t in enumerate(terms))
    return cte, score


_STEM_TERMS = [stem_py(t) for t in QUERY_TERMS]
_EN_TERMS = english_analyze_py(" ".join(QUERY_TERMS))


@register("r7_hybrid_bm25", oracle=_hybrid_oracle(*OV.bm25_sql(QUERY_TERMS)))
def r7_hybrid_bm25(spark: SparkSession, d: str) -> DataFrame:
    """R7 with the Okapi-BM25 text branch — the faithful twin of the
    reference's Lucene-$search side (vector_search.py:141-160; k1=1.2,
    b=0.75): saturation and length norm included, corpus stats one
    broadcast row.  Same fusion pipeline as r7_hybrid_fusion — only
    the text relevance changes."""
    docs = _t(spark, d, "documents")
    return _hybrid(spark, d, textscore.bm25_score(docs, QUERY_TERMS,
                                                  text_col="text"))


@register("r7_hybrid_bm25_std",
          oracle=_hybrid_oracle(*OV.bm25_sql(
              QUERY_TERMS, toks=OV.std_tokens_sql("text"))))
def r7_hybrid_bm25_std(spark: SparkSession, d: str) -> DataFrame:
    """R7 BM25 with the Lucene-standard analyzer twin — the analyzer
    the reference's $search text index actually declares
    (index_manager.py:117-152): punctuation-stripped word tokens, so
    "vector," and "Vector" both match query term "vector" (the
    whitespace twin r7_hybrid_bm25 misses them).  Document-frequency,
    length norm, and term counts all shift with the tokenization; the
    fusion pipeline is unchanged."""
    docs = _t(spark, d, "documents")
    return _hybrid(spark, d, textscore.bm25_score(
        docs, QUERY_TERMS, text_col="text", analyzer="standard"))


@register("r7_hybrid_tfidf", oracle=_hybrid_oracle(*_tfidf_sql(QUERY_TERMS)))
def r7_hybrid_tfidf(spark: SparkSession, d: str) -> DataFrame:
    """R7 with the TF-IDF text branch (SURVEY §7.2 phase 4): the
    reference's $search side is Lucene BM25 (vector_search.py:141-160);
    smoothed TF-IDF is the documented stand-in (operators/textscore.py
    header records the deviation).  Same fusion pipeline as
    r7_hybrid_fusion — only the text relevance changes."""
    docs = _t(spark, d, "documents")
    return _hybrid(spark, d, textscore.tfidf_score(docs, QUERY_TERMS,
                                                   text_col="text"))


@register("r7_hybrid_fusion", headline=True,
          oracle=_hybrid_oracle(None, OV.overlap_score_sql("text", QUERY_TERMS)))
def r7_hybrid_fusion(spark: SparkSession, d: str) -> DataFrame:
    """R7+A1+A2+U2+W1: hybrid search — vector branch (2k) ∪ text branch
    (2k), group-dedup by id with max per score, weighted fusion
    0.7/0.3, global top-k (vector_search.py:98-204).  The embeddings
    row id doubles as the document id (testdata convention)."""
    docs = _t(spark, d, "documents")
    return _hybrid(spark, d, docs.select(
        "doc_id", _overlap_score(F.col("text")).alias("text_score")))


@register("r7_hybrid_bm25_stem",
          oracle=_hybrid_oracle(*OV.bm25_sql(
              _STEM_TERMS, toks=OV.stemmed_tokens_sql("text"))))
def r7_hybrid_bm25_stem(spark: SparkSession, d: str) -> DataFrame:
    """R7 BM25 under the Porter-lite stemmed analyzer — closes the
    remaining Lucene-analyzer gap vs the reference's $search index
    (index_manager.py:117-152): "filtering"/"filtered"/"filters" in a
    document all match query term "filter".  Query terms go through
    the SAME stem chain as the index side (Atlas applies the analyzer
    to both); document-frequency, length norm, and term counts all
    shift with the stemming; fusion pipeline unchanged.  STEM_RULES
    are shared verbatim with the DuckDB oracle — analyzer parity is
    value-hashed, not asserted."""
    docs = _t(spark, d, "documents")
    return _hybrid(spark, d, textscore.bm25_score(
        docs, _STEM_TERMS, text_col="text", analyzer="stemmed"))


@register("r7_hybrid_bm25_en",
          oracle=_hybrid_oracle(*OV.bm25_sql(
              _EN_TERMS, toks=OV.english_tokens_sql("text"))))
def r7_hybrid_bm25_en(spark: SparkSession, d: str) -> DataFrame:
    """R7 BM25 under the full lucene.english-shaped analyzer chain —
    StandardTokenizer -> lowercase -> Lucene English stop set ->
    Porter-lite stem — completing the analyzer family next to the
    whitespace/standard/stemmed twins (reference $search index,
    index_manager.py:117-152).  Stop-word removal changes document
    LENGTHS, so BM25's length norm shifts too, not just the term
    counts; the oracle value-hashes the whole chain."""
    docs = _t(spark, d, "documents")
    return _hybrid(spark, d, textscore.bm25_score(
        docs, _EN_TERMS, text_col="text", analyzer="english"))


def _rrf_oracle() -> str:
    cos = OV.cosine_sql("embedding", OV.vec_lit_sql(QUERY_VEC))
    ovlp = OV.overlap_score_sql("text", QUERY_TERMS)
    return f"""
WITH vec AS (
  SELECT id, rnk FROM (
    SELECT vec_id AS id,
           row_number() OVER (ORDER BY {cos} DESC, vec_id) AS rnk
    FROM embeddings) WHERE rnk <= 40
), txt AS (
  SELECT id, rnk FROM (
    SELECT doc_id AS id,
           row_number() OVER (ORDER BY {ovlp} DESC, doc_id) AS rnk
    FROM documents) WHERE rnk <= 40
), unioned AS (
  SELECT id, rnk FROM vec UNION ALL SELECT id, rnk FROM txt
), fused AS (
  SELECT id, round(sum(1.0 / (60 + rnk)), 6) AS rrf_score,
         count(*) AS n_branches
  FROM unioned GROUP BY id
)
SELECT id, rrf_score, CAST(n_branches AS INT) AS n_branches
FROM fused ORDER BY rrf_score DESC, id LIMIT 20
"""


@register("r7_hybrid_rrf", oracle=_rrf_oracle())
def r7_hybrid_rrf(spark: SparkSession, d: str) -> DataFrame:
    """Hybrid fusion by RECIPROCAL RANK (RRF, k=60) — the fusion Atlas
    $rankFusion and Elastic standardize on, next to the reference's
    weighted-score fusion (r7_hybrid_fusion): each branch contributes
    1/(60+rank), so fusion is SCALE-FREE — no score-normalization
    problem between cosine in [-1,1] and unbounded overlap counts,
    the exact mismatch A2's 0.7/0.3 weights paper over.  Ranks carry
    id tiebreaks, making the fusion integer-deterministic; the only
    float is the final reciprocal sum, rounded on both sides.  Same
    two branch scans and k-bounded shuffles as r7_hybrid_fusion."""
    emb = _t(spark, d, "embeddings")
    docs = _t(spark, d, "documents")
    wv = Window.orderBy(F.desc("__cos_q"), F.col("vec_id"))
    vec = (with_cosine_q(emb)
           .select(F.col("vec_id").alias("id"),
                   F.row_number().over(wv).alias("rnk"))
           .filter(F.col("rnk") <= 40))
    wt = Window.orderBy(F.desc(_overlap_score(F.col("text"))),
                        F.col("doc_id"))
    txt = (docs.select(F.col("doc_id").alias("id"),
                       F.row_number().over(wt).alias("rnk"))
           .filter(F.col("rnk") <= 40))
    unioned = vec.unionByName(txt)
    return (unioned.groupBy("id")
            .agg(F.round(F.sum(1.0 / (60 + F.col("rnk"))), 6)
                 .alias("rrf_score"),
                 F.count("*").cast("int").alias("n_branches"))
            .orderBy(F.desc("rrf_score"), "id").limit(20))


# ===========================================================================
# Attribution and parent context (R1-R3)
# ===========================================================================

@register("r1_attribution_join", headline=True, oracle=f"""
WITH results AS (
  SELECT vec_id AS doc_id, {OV.cosine_sql('embedding', OV.vec_lit_sql(QUERY_VEC))} AS score
  FROM embeddings ORDER BY score DESC, vec_id LIMIT 20
)
SELECT r.doc_id, round(r.score, 6) AS score, d.source, d.lang
FROM results r LEFT JOIN documents d USING (doc_id)
ORDER BY r.score DESC, r.doc_id
""")
def r1_attribution_join(spark: SparkSession, d: str) -> DataFrame:
    """R1: attach document attribution to each result via broadcast
    left equi-join — the reference's dict cache + per-miss find_one
    (source_attribution.py:23-129) as a real join."""
    emb = _t(spark, d, "embeddings")
    docs = _t(spark, d, "documents")
    results = (with_cosine_q(emb)
               .select(F.col("vec_id").alias("doc_id"),
                       F.col("__cos_q").alias("score"))
               .orderBy(F.desc("score"), "doc_id").limit(20))
    out = attr.attribution_join(results, docs)
    return (out.select("doc_id", F.round("score", 6).alias("score"),
                       "source", "lang")
               .orderBy(F.desc("score"), "doc_id"))


@register("r2_parent_context", oracle=O.PARENT_CHILD_FIXED_CTE + """
SELECT parent_id || '_child_' || c_idx AS chunk_id, doc_id, parent_id,
       length(p_content)::INT AS parent_len
FROM p3, LATERAL unnest(range(0, child_count)) AS t(c_idx)
""")
def r2_parent_context(spark: SparkSession, d: str) -> DataFrame:
    """R2: child -> parent text via self equi-join on the fixed-stride
    hierarchy (replaces the reference's parent_content
    denormalization, parent_child_chunker.py:118-151).  Oracle replays
    the hierarchy CTE and emits each child with its parent's length.
    The recursive-splitter twin is r2_parent_context_recursive."""
    docs = _t(spark, d, "documents")
    chunks = chunking.chunk_parent_child_fixed(docs)
    return chunking.parent_context(chunks).select(
        "chunk_id", "doc_id", "parent_id",
        F.length("parent_content").cast("int").alias("parent_len"))


@register("r3_parent_child_map", oracle=O.PARENT_CHILD_FIXED_CTE + """
SELECT parent_id, count(*)::BIGINT AS child_count,
       string_agg(parent_id || '_child_' || c_idx, ','
                  ORDER BY parent_id || '_child_' || c_idx) AS child_ids
FROM p3, LATERAL unnest(range(0, child_count)) AS t(c_idx)
GROUP BY parent_id
""")
def r3_parent_child_map(spark: SparkSession, d: str) -> DataFrame:
    """R3: child ids grouped under parents on the fixed-stride
    hierarchy (parent_child_chunker.py:165-186); child_ids joined in
    lexicographic order on both sides.  The recursive-splitter twin is
    r3_parent_child_map_recursive."""
    docs = _t(spark, d, "documents")
    chunks = chunking.chunk_parent_child_fixed(docs)
    return (chunking.parent_child_map(chunks)
            .select("parent_id", "child_count",
                    F.array_join("child_ids", ",").alias("child_ids")))


@register("r2_parent_context_recursive",
          oracle=chunk_gates.R2_PARENT_CONTEXT_ORACLE)
def r2_parent_context_recursive(spark: SparkSession, d: str) -> DataFrame:
    """R2 parent-context join over the recursive hierarchy
    (parent_child_chunker.py:118-151) — driver-visible as a
    constant-pinned invariant gate: the join is total (one row per
    child), null-free, attaches exactly the parent chunk's content,
    and that content contains the child.  The raw joined rows ship as
    r2_parent_context_rows; the fixed-stride value-oracled twin is
    r2_parent_context."""
    docs = _t(spark, d, "documents")
    return chunk_gates.r2_parent_context_invariants(docs)


@register("r3_parent_child_map_recursive")   # rows-only: recursive splitter
def r3_parent_child_map_recursive(spark: SparkSession, d: str) -> DataFrame:
    """R3 over the recursive-splitter hierarchy (rows-only); the
    oracle-checked form is r3_parent_child_map
    (parent_child_chunker.py:165-186)."""
    docs = _t(spark, d, "documents")
    chunks = chunking.chunk_parent_child(docs)
    return (chunking.parent_child_map(chunks)
            .select("parent_id", "child_count",
                    F.array_join("child_ids", ",").alias("child_ids")))


@register("r2_parent_context_rows")    # rows-only: splitter is not SQL
def r2_parent_context_rows(spark: SparkSession, d: str) -> DataFrame:
    """R2 raw rows over the recursive hierarchy
    (parent_child_chunker.py:118-151); join invariants driver-checked
    by the r2_parent_context_recursive gate."""
    docs = _t(spark, d, "documents")
    chunks = chunking.chunk_parent_child(docs)
    return chunking.parent_context(chunks).select(
        "chunk_id", "doc_id", "parent_id",
        F.length("parent_content").alias("parent_len"))


# ===========================================================================
# Engine API surface and the flagship pipeline
# ===========================================================================

_ENG_COS = OV.cosine_sql("embedding", OV.vec_lit_sql(QUERY_VEC))


@register("eng_semantic_postfilter", oracle=f"""
WITH topk AS (
  SELECT vec_id, label, {_ENG_COS} AS score
  FROM embeddings
  ORDER BY score DESC, vec_id LIMIT 10
)
SELECT vec_id, label, round(score, 6) AS score
FROM topk WHERE label = 3
""")
def eng_semantic_postfilter(spark: SparkSession, d: str) -> DataFrame:
    """Engine search(search_type='semantic') filter placement: the
    $match runs AFTER $vectorSearch's limit (vector_search.py:61-95),
    so equality filters subset the UNFILTERED top-k — here 3 of the
    top-10 carry label 3, and exactly those come back."""
    eng = SparkRagEngine(spark)
    emb = _t(spark, d, "embeddings")
    out = eng.search(emb, query_vector=QUERY_VEC, search_type="semantic",
                     limit=10, filters={"label": 3}, id_col="vec_id")
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


@register("eng_filtered_pool", oracle=f"""
WITH pool AS (
  SELECT vec_id, label, {_ENG_COS} AS score
  FROM embeddings
  ORDER BY score DESC, vec_id LIMIT 10
)
SELECT vec_id, label, round(score, 6) AS score
FROM pool WHERE score >= 0.2 AND label = 0
ORDER BY score DESC, vec_id LIMIT 5
""")
def eng_filtered_pool(spark: SparkSession, d: str) -> DataFrame:
    """Engine search(search_type='filtered') candidate pooling: the
    filtered strategy retrieves limit*2 candidates, then applies the
    score threshold and equality filters, then the final limit
    (vector_search.py:234-275) — label-0 rows OUTSIDE the top-10 pool
    never surface even though fewer than 5 rows survive."""
    eng = SparkRagEngine(spark)
    emb = _t(spark, d, "embeddings")
    out = eng.search(emb, query_vector=QUERY_VEC, search_type="filtered",
                     limit=5, min_score=0.2, filters={"label": 0},
                     id_col="vec_id")
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


def _eng_hybrid_oracle() -> str:
    cte, score = OV.bm25_sql(QUERY_TERMS)
    cos = OV.cosine_sql("e.embedding", OV.vec_lit_sql(QUERY_VEC))
    return f"""
WITH {cte},
vec AS (
  SELECT d.doc_id AS id, {cos} AS vector_score, NULL::DOUBLE AS text_score
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  ORDER BY vector_score DESC, id LIMIT 20
), txt AS (
  SELECT doc_id AS id, NULL::DOUBLE AS vector_score, {score} AS text_score
  FROM tf, stats
  ORDER BY text_score DESC, id LIMIT 20
), unioned AS (
  SELECT * FROM vec UNION ALL SELECT * FROM txt
), merged AS (
  SELECT id, max(vector_score) AS vector_score, max(text_score) AS text_score
  FROM unioned GROUP BY id
), fused AS (
  SELECT id, vector_score, text_score,
         {fusion.VECTOR_WEIGHT} * coalesce(vector_score, 0)
         + {fusion.TEXT_WEIGHT} * coalesce(text_score, 0) AS score
  FROM merged
)
SELECT f.id AS doc_id,
       round(coalesce(f.vector_score, 0), 6) AS vector_score,
       round(coalesce(f.text_score, 0), 6) AS text_score,
       round(f.score, 6) AS score
FROM fused f JOIN documents d ON d.doc_id = f.id
WHERE d.lang = 'en'
ORDER BY f.score DESC, f.id LIMIT 10
"""


@register("eng_hybrid_bm25", oracle=_eng_hybrid_oracle())
def eng_hybrid_bm25(spark: SparkSession, d: str) -> DataFrame:
    """Engine search(search_type='hybrid') end-to-end with the BM25
    text branch: candidate pools of 2k per branch are UNFILTERED,
    max-dedup + 0.7/0.3 fusion, then the $match filter runs on the
    FUSED set before the final top-k (vector_search.py:98-205) — the
    engine-level twin of r7_hybrid_bm25 that additionally pins the
    post-fusion filter placement and the __f_-prefixed attribute
    join."""
    eng = SparkRagEngine(spark)
    docs = _t(spark, d, "documents")
    emb = _t(spark, d, "embeddings")
    index = (docs.join(emb, docs.doc_id == emb.vec_id)
             .select("doc_id", F.col("text").alias("content"),
                     "embedding", "lang"))
    out = eng.search(index, query_text=" ".join(QUERY_TERMS),
                     query_vector=QUERY_VEC, search_type="hybrid",
                     limit=10, filters={"lang": "en"}, id_col="doc_id")
    return out.select(
        "doc_id",
        F.round(F.coalesce("vector_score", F.lit(0.0)), 6).alias("vector_score"),
        F.round(F.coalesce("text_score", F.lit(0.0)), 6).alias("text_score"),
        F.round("score", 6).alias("score"))


def _eng_multi_oracle() -> str:
    """Recursive-CTE replay of multi_strategy_search with the
    similarity strategy: retrieval depth 15 -> threshold -> caller
    limit 10 -> weighted-mean fusion ((s*w)/w, same double ops) ->
    greedy diversity as a bitmask walk (the _w5_oracle pattern) ->
    final top-k."""
    qtext = " ".join(QUERY_TERMS)
    qv = embed_text_py(qtext, 64, True)   # engine.embed_query twin
    cos = OV.cosine_sql("e.embedding", OV.vec_lit_sql(qv))
    toks = OV.tokens_sql("text")
    w = fusion.STRATEGY_WEIGHTS["similarity"]
    fused = f"(score * {w!r}::DOUBLE) / {w!r}::DOUBLE"
    return f"""
WITH RECURSIVE knn AS (
  SELECT d.doc_id, {cos} AS score, d.text
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
  ORDER BY score DESC, d.doc_id LIMIT 15
), branch AS (
  SELECT doc_id, score, text FROM knn WHERE score >= 0.0::DOUBLE
  ORDER BY score DESC, doc_id LIMIT 10
), cand AS (
  SELECT doc_id, {fused} AS score, text,
         list_distinct({toks}) AS toks,
         row_number() OVER (ORDER BY {fused} DESC, text, doc_id) AS rn
  FROM branch
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
SELECT c.doc_id, round(c.score, 6) AS score,
       'similarity' AS strategies_used
FROM cand c, (SELECT mask FROM walk ORDER BY rn DESC LIMIT 1) m
WHERE ((m.mask >> c.rn) & 1) = 1
ORDER BY c.score DESC, c.doc_id LIMIT 10
"""


@register("eng_multi_similarity", oracle=_eng_multi_oracle())
def eng_multi_similarity(spark: SparkSession, d: str) -> DataFrame:
    """§2.9 orchestrator end-to-end under a value oracle: engine
    multi_strategy_search (advanced_search.py:68-206) with the
    similarity strategy — per-strategy retrieval depth (max_results
    15) BEFORE thresholding, caller truncation, weighted-mean fusion
    (A3), greedy Jaccard diversity (W5), final top-k.  The query
    vector goes through engine.embed_query (hash twin inlined in the
    oracle), so the whole driver->plan->fusion->diversity chain is
    hash-checked, not just its operator pieces."""
    eng = SparkRagEngine(spark, EngineConfig(similarity_threshold=0.0))
    docs = _t(spark, d, "documents")
    emb = _t(spark, d, "embeddings")
    index = (docs.join(emb, docs.doc_id == emb.vec_id)
             .select("doc_id", F.col("text").alias("content"), "embedding"))
    out = eng.multi_strategy_search(index, " ".join(QUERY_TERMS),
                                    limit=10, strategies=["similarity"],
                                    id_col="doc_id")
    return out.select("doc_id", F.round("score", 6).alias("score"),
                      F.array_join("strategies_used", ",")
                       .alias("strategies_used"))


def _eng_multi_pc_oracle() -> str:
    """Recursive-CTE replay of multi_strategy_search with the
    parent_child strategy over a parent/child hash-embedded index:
    fixed-stride hierarchy (O.PARENT_CHILD_FIXED_CTE) -> per-chunk
    feature-hash components -> cosine against the hash query vector (sparse form:
    dot(val, q)/||val||; the query vector is unit-norm so the second
    norm is the identity at round-6) -> the branch's dual
    threshold/limit ladder (2m=16 -> >=0 -> 8 -> >=0 -> 10) ->
    weighted-mean fusion -> greedy-diversity bitmask walk -> top-k ->
    parent-content length attached to child rows only."""
    qtext = " ".join(QUERY_TERMS)
    qv = embed_text_py(qtext, 64, True)   # engine.embed_query twin
    qlit = OV.vec_lit_sql(qv)
    toks = OV.tokens_sql("content")
    w = fusion.STRATEGY_WEIGHTS["parent_child"]
    fused = f"(score * {w!r}::DOUBLE) / {w!r}::DOUBLE"
    cte = O.PARENT_CHILD_FIXED_CTE.replace("WITH ", "WITH RECURSIVE ",
                                           1).rstrip()
    return cte + f""",
chunks AS (
  SELECT parent_id AS chunk_id, parent_id, 'parent' AS chunk_type,
         p_content AS content
  FROM p3
  UNION ALL
  SELECT parent_id || '_child_' || c_idx AS chunk_id, parent_id,
         'child' AS chunk_type,
         substr(p_content, c_idx::INT * 300 + 1, 400) AS content
  FROM p3, LATERAL unnest(range(0, child_count)) AS t(c_idx)
), ctoks AS (
  SELECT chunk_id, unnest({toks}) AS tok FROM chunks
), comps AS (
  SELECT chunk_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
         sum(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END)::DOUBLE AS val
  FROM ctoks GROUP BY chunk_id, bucket
), scored AS (
  SELECT chunk_id,
         sum(val * list_extract({qlit}, bucket::INT + 1))
           / sqrt(sum(val * val)) AS score
  FROM comps GROUP BY chunk_id
), knn AS (
  SELECT s.chunk_id, s.score, c.content, c.parent_id, c.chunk_type
  FROM scored s JOIN chunks c USING (chunk_id)
  ORDER BY s.score DESC, s.chunk_id LIMIT 16
), branch AS (
  SELECT * FROM (
    SELECT * FROM knn WHERE score >= 0.0::DOUBLE
    ORDER BY score DESC, chunk_id LIMIT 8)
  WHERE score >= 0.0::DOUBLE
  ORDER BY score DESC, chunk_id LIMIT 10
), cand AS (
  SELECT chunk_id, {fused} AS score, content, parent_id, chunk_type,
         list_distinct({toks}) AS ctk,
         row_number() OVER (ORDER BY {fused} DESC, content, chunk_id) AS rn
  FROM branch
), pairj AS (
  SELECT a.rn AS rn_a, b.rn AS rn_b,
         CASE WHEN len(a.ctk) = 0 AND len(b.ctk) = 0 THEN 1.0
              WHEN len(a.ctk) = 0 OR len(b.ctk) = 0 THEN 0.0
              ELSE len(list_intersect(a.ctk, b.ctk))::DOUBLE
                   / len(list_distinct(a.ctk || b.ctk)) END AS j
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
SELECT c.chunk_id, round(c.score, 6) AS score,
       'parent_child' AS strategies_used,
       CASE WHEN c.chunk_type = 'child'
            THEN length(p.p_content) END::INT AS parent_len
FROM cand c
LEFT JOIN p3 p ON c.chunk_type = 'child' AND p.parent_id = c.parent_id,
     (SELECT mask FROM walk ORDER BY rn DESC LIMIT 1) m
WHERE ((m.mask >> c.rn) & 1) = 1
ORDER BY c.score DESC, c.chunk_id LIMIT 10
"""


@register("eng_multi_parent_child", oracle=_eng_multi_pc_oracle())
def eng_multi_parent_child(spark: SparkSession, d: str) -> DataFrame:
    """§2.9 parent_child strategy end-to-end under a value oracle:
    build_parent_child_index (M2 fixed-stride hierarchy, every chunk
    hash-embedded) -> multi_strategy_search with the parent_child
    branch's dual threshold ladder (advanced_search.py:338-361,
    vector_search.py:234-275) -> fusion -> diversity -> parent content
    recovered by the search-time join (_attach_parent_content; the
    reference denormalizes it into child metadata instead,
    parent_child_chunker.py:118-151).  Thresholds are 0.0 (hash-cosine
    scores sit far below the reference's 0.75/0.65 MiniLM bands) and
    quality_threshold 0.0 keeps the whole corpus, so the oracle replays
    the hierarchy without a quality CTE."""
    eng = SparkRagEngine(spark, EngineConfig(
        quality_threshold=0.0,
        parent_child_search_threshold=0.0,
        parent_child_threshold=0.0))
    docs = _t(spark, d, "documents")
    index = eng.build_parent_child_index(docs)
    out = eng.multi_strategy_search(index, " ".join(QUERY_TERMS),
                                    limit=10, strategies=["parent_child"])
    return out.select("chunk_id", F.round("score", 6).alias("score"),
                      F.array_join("strategies_used", ",")
                       .alias("strategies_used"),
                      F.length("parent_content").cast("int")
                       .alias("parent_len"))


def _flagship_top10(spark: SparkSession, d: str, dim: int) -> DataFrame:
    out = FL.flagship_search(spark, d, k=10, dim=dim)
    return out.select("chunk_id", "doc_id", "content", "score",
                      "source_type", "doc_lang",
                      F.round("quality_score", 6).alias("quality_score"))


@register("flagship_valuecheck", oracle=FL.flagship_oracle_sql())
def flagship_valuecheck(spark: SparkSession, d: str) -> DataFrame:
    """The FLAGSHIP pipeline value-checked end to end: the same
    clean -> quality gate -> chunk -> hash-embed -> cosine top-k ->
    attribution DAG behind entry(), compared against a full DuckDB
    replication (chunking, per-chunk hash-embed components, cosine
    from raw integer components, attribution + quality recompute).
    Every stage was already oracled in isolation (t2/m1/m3/r4/r1);
    this pins their COMPOSITION — join keys, filter placement, score
    normalization — as one value-hashed result."""
    return _flagship_top10(spark, d, dim=64)


@register("flagship_dim384", headline=True,
          oracle=FL.flagship_oracle_sql(dim=384))
def flagship_dim384(spark: SparkSession, d: str) -> DataFrame:
    """Flagship pipeline at the reference's production embedding width
    (384-dim all-MiniLM, settings.py:40) — the bench-honesty variant
    the round-3 verdict asked for: clean -> chunk -> hash-embed at
    dim=384 -> knn -> attribution, same DAG as entry()'s dim-64 run,
    6x the embedding assembly and cosine width.  Since round 6 it is
    also VALUE-checked end to end by the shared flagship oracle
    (plans/flagship.flagship_oracle_sql at dim=384), so the bench
    entry and the correctness entry are the same plan."""
    return _flagship_top10(spark, d, dim=384)


# ===========================================================================
# Approximate search (IVF, LSH, SQ, PQ, IVFPQ, OPQ) and its in-plan
# recall gates
# ===========================================================================

@register("r4_ivf_topk")   # rows-only: IVF is approximate by design
def r4_ivf_topk(spark: SparkSession, d: str) -> DataFrame:
    """R4 approximate: IVF top-k (16 cells, probe 4) — the ANN scale
    path next to the exact r4_knn_topk and the LSH pair join.  Recall
    vs exact is asserted in tests/test_similarity.py; the driver
    records a rows-only check because ANN misses are semantic."""
    emb = _t(spark, d, "embeddings")
    out = similarity.ivf_topk(emb, QUERY_VEC, k=10)
    return out.select("vec_id", F.round("score", 6).alias("score"))


@register("r4_ivf_recall", oracle=_RECALL_AT_10)
def r4_ivf_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for r4_ivf_topk (16 cells, probe 4) vs the exact
    r4_knn_topk, computed IN-PLAN: the driver now sees ANN quality,
    not just row counts.  Floor 0.5 matches the pytest pin
    (tests/test_similarity.py:16-24).  The exact side's top-k
    cardinality is value-checked; floor_met flips the hash red if a
    regression (bad centroids, broken probe pruning) drops recall."""
    emb = _t(spark, d, "embeddings")
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = similarity.ivf_topk(emb, QUERY_VEC, k=10)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.5)


@register("r4_ivf_store")   # rows-only: ANN + KMeans assignment
def r4_ivf_store(spark: SparkSession, d: str) -> DataFrame:
    """R4 scale path end-to-end: build the cell-partitioned IVF store
    (ivf_build_store writes data/cell=N/ + a centroids table), then
    probe it (ivf_search_store) — the probe predicate prunes whole
    partition directories, asserted in tests/test_similarity.py.
    Approximate by design -> rows-only; recall floor is pytest-pinned."""
    emb = _t(spark, d, "embeddings")
    path = scratch("ivf_store")
    similarity.ivf_build_store(emb, path, n_lists=8)
    out = similarity.ivf_search_store(spark, path, QUERY_VEC,
                                      k=10, n_probe=4)
    return out.select("vec_id", F.round("score", 6).alias("score"))


@register("r4_ivf_store_recall", oracle=_RECALL_AT_10)
def r4_ivf_store_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the partitioned IVF store (8 cells, probe 4,
    directory-pruned scan) vs exact top-k — the disk-layout twin of
    r4_ivf_recall; floor 0.5 per tests/test_similarity.py:106-107."""
    emb = _t(spark, d, "embeddings")
    path = scratch("ivf_store_recall")
    similarity.ivf_build_store(emb, path, n_lists=8)
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = similarity.ivf_search_store(spark, path, QUERY_VEC,
                                         k=10, n_probe=4)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.5)


@register("r4_ivf_rebuild_loop", oracle="""
SELECT TRUE AS rebuilt, FALSE AS rebuilt_again,
       (SELECT count(*) * 2 FROM embeddings)::BIGINT AS n_rows
""")
def r4_ivf_rebuild_loop(spark: SparkSession, d: str) -> DataFrame:
    """The drift->rebuild closed loop, driver-visible: build the IVF
    store, append a drifted batch (every corpus vector scaled 3x — an
    unnormalized/new-model ingest; mean-sq-dist jumps far past the
    1.5x rebuild ratio), and assert via the value oracle that
    ivf_maybe_rebuild fires exactly once: True on the drifted store,
    False immediately after (baseline reset), with every row retained
    through the refit.  The recall-recovery half of the loop is pinned
    in tests/test_similarity.py (needs a directional query; the
    decision+retention half here is deterministic and SQL-checkable)."""
    emb = _t(spark, d, "embeddings")
    path = scratch("ivf_rebuild_loop")
    similarity.ivf_build_store(emb, path, n_lists=8)
    drifted = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(F.col("embedding"),
                    lambda x: x * F.lit(3.0)).alias("embedding"),
        "label")
    similarity.ivf_append_store(drifted, path)
    rebuilt = similarity.ivf_maybe_rebuild(spark, path)
    again = similarity.ivf_maybe_rebuild(spark, path)
    n = spark.read.parquet(f"{path}/data").count()
    return spark.createDataFrame(
        [(bool(rebuilt), bool(again), int(n))],
        "rebuilt boolean, rebuilt_again boolean, n_rows long")


@register("r4_ivf_join")   # rows-only: approximate by design
def r4_ivf_join(spark: SparkSession, d: str) -> DataFrame:
    """Batch ANN join: every query meets the corpus on an equi-join on
    IVF cell (similarity.ivf_knn_join) instead of knn_join's
    crossJoin — each query scores n_probe/n_lists of the corpus, the
    scalable form of r4_knn_join_batch.  Measured pair recall at this
    operating point (16 lists, probe 4): 0.80-0.84 across sf0.01/0.1;
    gated by r4_ivf_join_recall."""
    emb = _t(spark, d, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_knn_join(queries, emb, k=5,
                                  n_lists=16, n_probe=4, q_id="vec_id")
    return out.select("query_id", "result_id",
                      F.round("score", 6).alias("score"), "rank")


@register("r4_ivf_join_recall", oracle=_recall_oracle(25))
def r4_ivf_join_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the batch ANN join vs the exact knn_join over
    the same 5-query set, on (query, result) PAIRS — floor 0.5, well
    under the measured 0.80-0.84, so only a real regression (broken
    cell assignment, probe ranking, or join key) trips it."""
    emb = _t(spark, d, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.knn_join(queries, emb, k=5, q_id="vec_id")
    approx = similarity.ivf_knn_join(queries, emb, k=5,
                                     n_lists=16, n_probe=4,
                                     q_id="vec_id")
    return _recall_summary(exact, approx, ["query_id", "result_id"],
                           floor=0.5)


@register("r5_lsh_pairs")   # rows-only: LSH candidate recall is approximate
def r5_lsh_pairs(spark: SparkSession, d: str) -> DataFrame:
    """R5 at scale: BucketedRandomProjectionLSH near-dup pairs (cosine
    threshold mapped exactly to a euclidean radius on the unit sphere).
    Exact twin dd_embedding_neardup is the oracle-checked baseline;
    recall is asserted in tests/test_similarity.py."""
    emb = _t(spark, d, "embeddings")
    out = similarity.lsh_similar_pairs(emb, threshold=0.3)
    return out.select("id_a", "id_b", "score")


@register("r5_lsh_recall", oracle=f"""
WITH exact AS ({OV.embedding_pairs_sql(0.3).strip()})
SELECT count(*)::BIGINT AS n_exact, TRUE AS floor_met FROM exact
""")
def r5_lsh_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the LSH pair join vs the exact O(n^2) pairwise
    baseline at cosine>=0.3: the exact pair COUNT is value-checked by
    the oracle (deterministic), the LSH side must recover >=0.8 of
    those pairs (the pytest pin, tests/test_similarity.py:44-53).
    Guards the cosine<->euclidean radius mapping and the normalization
    step — either breaking silently would tank recall."""
    emb = _t(spark, d, "embeddings")
    exact = similarity.pairwise_similar(emb, threshold=0.3)
    approx = similarity.lsh_similar_pairs(emb, threshold=0.3)
    return _recall_summary(exact, approx, ["id_a", "id_b"], floor=0.8)


@register("r4_sq_recall", oracle=_RECALL_AT_10)
def r4_sq_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for 8-bit scalar-quantized search with 4x exact
    rescoring vs exact top-k.  SQ is the third ANN scale path next to
    IVF and LSH: the quantized table is 4-8x narrower than the float
    corpus (what a 100 TB scan actually reads), and full-width vectors
    are touched only for the k*rescore candidate rows.  8-bit cells
    with rescoring should recover essentially everything — floor 0.9,
    above the IVF/LSH gates."""
    emb = _t(spark, d, "embeddings")
    los, his = similarity.sq_bounds(emb)
    enc = similarity.sq_encode(emb, los, his).drop("embedding")
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = similarity.sq_topk(enc, emb, QUERY_VEC, los, his,
                                k=10, rescore=4)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.9)


@register("r4_pq_topk")   # rows-only: PQ is approximate by design
def r4_pq_topk(spark: SparkSession, d: str) -> DataFrame:
    """R4 approximate, compressed-index form: PQ (8 subspaces x 32
    codewords over the 64-dim corpus) with ADC candidate scoring over
    the narrow code table and exact cosine rescoring of k*16
    candidates.  Deterministic end to end (hash-ordered training
    sample, seeded k-means, id tiebreaks); recall vs the exact
    r4_knn_topk is asserted in tests/test_pq.py and gated in-plan by
    r4_pq_recall — the driver records a rows-only check here because
    ANN misses are semantic, like r4_ivf_topk."""
    emb = _t(spark, d, "embeddings")
    books = pq.pq_train(emb, k_codes=32)
    encoded = pq.pq_encode(emb, books).select("vec_id", "pq_codes")
    return pq.pq_topk(encoded, emb, QUERY_VEC, books, k=10, rescore=16)


@register("r4_pq_recall", oracle=_RECALL_AT_10)
def r4_pq_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for r4_pq_topk (8x16 codebooks, ADC + 8x exact
    rescore) vs exact top-k, computed in-plan so the driver sees PQ
    quality, not just row counts — the compressed-index sibling of
    r4_ivf_recall / r4_sq_recall.  Floor 0.5 matches the pytest pin
    (tests/test_pq.py::test_pq_recall_and_exact_scores); measured
    recall at this operating point (32 codewords, 16x rescore) is 0.9
    on the sf0.01 corpus, so the gate has real margin."""
    emb = _t(spark, d, "embeddings")
    books = pq.pq_train(emb, k_codes=32)
    encoded = pq.pq_encode(emb, books).select("vec_id", "pq_codes")
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = pq.pq_topk(encoded, emb, QUERY_VEC, books, k=10, rescore=16)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.5)


@register("r4_ivfpq_store")   # rows-only: approximate by design
def r4_ivfpq_store(spark: SparkSession, d: str) -> DataFrame:
    """IVF x PQ composed ANN over a cell-partitioned store: probes
    prune partition directories, residual PQ codes make the candidate
    scan column-narrow, full vectors are read only for the rescored
    candidates.  The production-shaped endpoint of the ANN family
    (exact < SQ < IVF | PQ < IVFPQ); recall gated by
    r4_ivfpq_recall and tests/test_pq.py."""
    emb = _t(spark, d, "embeddings")
    path = scratch("ivfpq_store")
    pq.ivfpq_build_store(emb, path, n_lists=8, m=8, k_codes=32)
    return pq.ivfpq_search_store(spark, path, QUERY_VEC, k=10,
                                 n_probe=4)


@register("r4_ivfpq_recall", oracle=_RECALL_AT_10)
def r4_ivfpq_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the composed IVFPQ store vs exact top-k,
    in-plan like the other ANN gates.  Floor 0.5 (IVF probing is the
    binding miss source — same floor as r4_ivf_recall; PQ's residual
    coding + 16x exact rescore loses little on top)."""
    emb = _t(spark, d, "embeddings")
    path = scratch("ivfpq_recall")
    pq.ivfpq_build_store(emb, path, n_lists=8, m=8, k_codes=32)
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = pq.ivfpq_search_store(spark, path, QUERY_VEC, k=10,
                                   n_probe=4)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.5)


@register("r4_ivfpq_opq_recall", oracle=_RECALL_AT_10)
def r4_ivfpq_opq_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the OPQ-ROTATED composed IVFPQ store (VERDICT
    r13 #4, Ge et al. 2013): build with rotate=True (residuals
    encoded in the learned orthogonal frame, rotation persisted
    beside the codebooks, query lut rotated at search), search at the
    same (8 lists, probe 4) operating point as r4_ivfpq_recall, gate
    recall vs exact top-k at the same 0.5 floor (probing is the
    binding miss source on this corpus; MEASURED 0.9 at sf0.01 —
    equal to the unrotated gate, as expected where the per-dim-
    independent geometry leaves no covariance for the rotation to
    reclaim; the 2.1x ADC-error win on correlated-spectrum geometry
    is ledgered in STRESS_r14).  Proves the rotation path end to end:
    train, persist, encode, rotated-lut search, exact rescore."""
    emb = _t(spark, d, "embeddings")
    path = scratch("ivfpq_opq_recall")
    pq.ivfpq_build_store(emb, path, n_lists=8, m=8, k_codes=32,
                         rotate=True)
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = pq.ivfpq_search_store(spark, path, QUERY_VEC, k=10,
                                   n_probe=4)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.5)


@register("r4_opq_gain", oracle="""
SELECT 8::BIGINT AS m, 32::BIGINT AS k_codes,
       TRUE AS errs_positive, TRUE AS opq_not_worse,
       FALSE AS rotation_pays
""")
def r4_opq_gain(spark: SparkSession, d: str) -> DataFrame:
    """The OPQ DECISION card (VERDICT r14 #5): pq.opq_gain_report on
    the embeddings table — sample quantization error under plain PQ
    vs under the learned rotation on the SAME bounded deterministic
    sample both trainers use, so an operator sees whether rotation
    pays for THEIR corpus BEFORE paying a store rebuild (the
    measured-geometry-drives-defaults pattern applied to PQ; raw
    err_plain/err_opq/err_ratio are the card's other columns, read
    via opq_gain_report directly — they are corpus-scale-dependent,
    so this entry oracles the scale-invariant decision columns).

    The honest verdict on THIS corpus family is on the oracle:
    ``rotation_pays`` = FALSE — hash embeddings are per-dim
    independent, there is no cross-dimension covariance for the
    rotation to reclaim (measured 1.02-1.22x vs the 1.5x pays bar;
    STRESS_r14 measured 1.99x on the correlated-spectrum tier, where
    the TRUE branch is pytest-pinned on the synthesize_correlated
    shape — tests/test_catalog_r15.py)."""

    emb = _t(spark, d, "embeddings")
    return pq.opq_gain_report(emb).select(
        "m", "k_codes",
        ((F.col("err_plain") > 0) & (F.col("err_opq") > 0))
        .alias("errs_positive"),
        "opq_not_worse", "rotation_pays")


_IVFPQ32_BUILT: set[str] = set()


def _ivfpq_store32(spark: SparkSession, d: str) -> str:
    """Shared 32-list/m8/k32 IVFPQ store over the sf's embeddings —
    built once per (process, sf): three entries (r4_ivfpq_rerank, its
    recall gate, eng_ivfpq_recall) search the same offline index, as
    they would in production, instead of each re-running KMeans + PQ
    training."""
    path = scratch("ivfpq32_" + d.strip("/").replace("/", "_"))
    if d not in _IVFPQ32_BUILT:
        emb = _t(spark, d, "embeddings")
        pq.ivfpq_build_store(emb, path, n_lists=32, m=8, k_codes=32)
        _IVFPQ32_BUILT.add(d)
    return path


def _ivfpq_rerank_pair(spark: SparkSession, d: str):
    """Build (exact top-10, two-stage IVFPQ top-10) at the production
    operating point: 32 lists, probe 16 (half the directory pruned),
    numCandidates=640 shortlist, exact cosine rerank on those 640 rows
    only.  Measured recall@10 = 1.0 at sf0.01/sf0.1-equivalents; the
    gate floor is 0.9."""
    emb = _t(spark, d, "embeddings")
    path = _ivfpq_store32(spark, d)
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = pq.ivfpq_search_store(spark, path, QUERY_VEC, k=10,
                                   n_probe=16, n_candidates=640)
    return exact, approx


@register("r4_ivfpq_rerank")   # rows-only: approximate by design
def r4_ivfpq_rerank(spark: SparkSession, d: str) -> DataFrame:
    """Two-stage compressed ANN: ADC-score the probed cells reading
    only the narrow code column, shortlist numCandidates=640 rows,
    join back the full vectors for exact cosine on those rows alone,
    re-sort.  The production retrieval form of r4_ivfpq_store (which
    gates the compressed index itself at a thriftier operating
    point); recall gated >= 0.9 by r4_ivfpq_rerank_recall."""
    _, approx = _ivfpq_rerank_pair(spark, d)
    return approx


@register("r4_ivfpq_rerank_recall", oracle=_RECALL_AT_10)
def r4_ivfpq_rerank_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the two-stage IVFPQ path, floor 0.9 — the
    production bar the r6 verdict asked for (plain IVFPQ at thrifty
    probes gates at 0.5).  In-plan like every other ANN gate."""
    exact, approx = _ivfpq_rerank_pair(spark, d)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.9)


@register("r4_ivfpq_adaptive_recall", oracle=_RECALL_AT_10)
def r4_ivfpq_adaptive_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for ADAPTIVE multi-probe IVFPQ (VERDICT r7 #2):
    probe cells nearest-first until the cumulative query-to-centroid
    mass share passes 0.9 (inverse-squared-distance weights,
    similarity.adaptive_probe_cells), scaling the exact-rerank
    shortlist with the probe count so ADC error doesn't become the
    new binding loss.  Floor 0.9 vs the exact backend on the shared
    32-list store; at the 10x stress tier this lifts recall@10 from
    the fixed-p16 ceiling 0.8 to 1.0 (STRESS_r08, probe counts
    recorded per mass target)."""
    emb = _t(spark, d, "embeddings")
    path = _ivfpq_store32(spark, d)
    exact = similarity.knn_topk(emb, QUERY_VEC, k=10)
    approx = pq.ivfpq_search_store(spark, path, QUERY_VEC, k=10,
                                   n_probe=8, n_candidates=640,
                                   mass_target=0.9)
    return _recall_summary(exact, approx, ["vec_id"], floor=0.9)


# ===========================================================================
# Engine-level ANN gates: the same search call per backend vs exact
# ===========================================================================

@register("eng_ann_recall", oracle=_RECALL_AT_10)
def eng_ann_recall(spark: SparkSession, d: str) -> DataFrame:
    """Engine-LEVEL ANN gate: the same SparkRagEngine.search call with
    config.ann_backend='ivf' must keep recall >= 0.5 vs the exact
    backend — proving the backend dispatch (engine._vector_topk)
    drives the production path end to end, not just the operator in
    isolation.  Companion of tests/test_engine.py's dispatch test,
    made driver-visible."""
    return _engine_recall(spark, d, EngineConfig(
        ann_backend="ivf", ann_n_lists=8, ann_n_probe=4), floor=0.5)


@register("eng_ann_derived_recall", oracle=_RECALL_AT_10)
def eng_ann_derived_recall(spark: SparkSession, d: str) -> DataFrame:
    """Engine-level gate for the DERIVED ANN operating point:
    EngineConfig(ann_backend='ivf', ann_n_lists=None,
    ann_n_probe=None) makes the facade derive both knobs from the
    indexed corpus at dispatch — ~sqrt(n) lists, probe fraction from
    the MEASURED anisotropy (the knn_graph derivation the graph-store
    builds already certify) — and the same search call must keep
    recall >= 0.5 vs the exact backend (eng_ann_recall's floor at its
    explicit (8, 4) point; on this corpus the derivation resolves to
    (16, 8), measured recall 1.0 at sf0.01).  Proves a user can say
    'ivf, figure out the knobs' and get a certified default."""
    return _engine_recall(spark, d, EngineConfig(
        ann_backend="ivf", ann_n_lists=None, ann_n_probe=None), floor=0.5)


@register("eng_ivfpq_recall", oracle=_RECALL_AT_10)
def eng_ivfpq_recall(spark: SparkSession, d: str) -> DataFrame:
    """Engine-LEVEL two-stage gate: SparkRagEngine.search with
    ann_backend='ivfpq' (prebuilt compressed store + numCandidates
    rerank) must keep recall >= 0.9 vs the exact backend — proving the
    production index-at-ingest shape drives the SAME search API end to
    end, columns included (the k winners re-join the live index)."""
    return _engine_recall(spark, d, EngineConfig(
        ann_backend="ivfpq", ann_store_path=_ivfpq_store32(spark, d),
        ann_n_probe=16, ann_n_candidates=640), floor=0.9)


@register("eng_ivfpq_adaptive_recall", oracle=_RECALL_AT_10)
def eng_ivfpq_adaptive_recall(spark: SparkSession, d: str) -> DataFrame:
    """Engine-level recall gate for the NEW DEFAULT operating point:
    SparkRagEngine.search with ann_backend='ivfpq' and everything
    else at EngineConfig defaults — which now means adaptive
    multi-probe (ann_mass_target=0.8, floor ann_n_probe=4) with the
    shortlist scaled by the achieved probe count — must keep
    recall@10 >= 0.9 vs the exact backend.  This is the gate the r8
    verdict asked to pin the default flip with: the stress tiers
    showed fixed p16 at 0.695 multi-query recall vs adaptive t0.8 at
    0.97, so 0.8-mass probing is the right default for a store whose
    query stream contains ambiguous (between-cell) queries; the
    eng_ivfpq_recall entry keeps gating the explicit fixed-knob
    configuration (its floor=16 makes adaptive a superset there)."""
    return _engine_recall(spark, d, EngineConfig(
        ann_backend="ivfpq", ann_store_path=_ivfpq_store32(spark, d)),
        floor=0.9)


@register("eng_lsh_recall", oracle=_RECALL_AT_10)
def eng_lsh_recall(spark: SparkSession, d: str) -> DataFrame:
    """Engine-level gate for ann_backend='lsh' (MLlib
    BucketedRandomProjectionLSH, Datar et al. 2004 — random
    projection buckets, public): SparkRagEngine.search with the LSH
    backend must keep recall >= 0.6 vs the exact backend at the
    default knobs (8 tables, bucket length 2.0) — proving the fourth
    backend drives the SAME search API end to end with
    backend-agnostic columns.  On the hash corpus's normalized
    embeddings, Euclidean bucket pruning preserves cosine order, so
    the only loss is bucket misses — which more tables buy back
    (the n_probe analog, stated in EngineConfig).

    Scale shape: the fit is numTables random projections (no
    training data pass beyond one projection matrix broadcast);
    the query prunes to same-bucket candidates before the exact
    distance sort — sublinear candidate scans at corpus scale where
    exact is a full scan per query."""
    return _engine_recall(spark, d, EngineConfig(ann_backend="lsh"),
                          floor=0.6)


# ===========================================================================
# Training pairs: hard negatives, triplets, bitext mining
# ===========================================================================

def _hardneg_oracle() -> str:
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         b.vec_id AS negative_id, b.label AS negative_label,
         round({cos}, 6) AS score,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY round({cos}, 6) DESC, b.vec_id)
           AS rank
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < 5 AND b.vec_id <> a.vec_id AND b.label <> a.label
)
SELECT anchor_id, negative_id, anchor_label, negative_label,
       score, rank
FROM scored WHERE rank <= 5
"""


@register("r8_hard_negatives", oracle=_hardneg_oracle())
def r8_hard_negatives(spark: SparkSession, d: str) -> DataFrame:
    """Hard-negative mining for embedding-model training (the standard
    contrastive-pair recipe, e.g. DPR/SBERT practice): for each anchor
    vector, the top-5 most-similar vectors carrying a DIFFERENT label
    — maximally confusable negatives, the ones worth training on.

    Plan: broadcast the (small) anchor set against the corpus, filter
    label mismatch BEFORE the per-anchor top-k window (a negative must
    be eligible, not merely ranked), one shuffle on anchor_id.  At
    100 TB anchors are batched and the corpus side is the scan — the
    ivf_knn_join cell-scoped form drops in when the anchor batch
    outgrows broadcast."""
    emb = _t(spark, d, "embeddings")
    anchors = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("anchor_label"),
                       to_double_array(F.col("embedding")).alias("__av")))
    cand = emb.select(F.col("vec_id").alias("negative_id"),
                      F.col("label").alias("negative_label"),
                      to_double_array(F.col("embedding")).alias("__cv"))
    scored = (cand.crossJoin(F.broadcast(anchors))
              .filter((F.col("negative_id") != F.col("anchor_id"))
                      & (F.col("negative_label") != F.col("anchor_label")))
              .withColumn("score",
                          F.round(cosine(F.col("__cv"), F.col("__av")), 6)))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("score"), "negative_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("anchor_id", "negative_id", "anchor_label",
                    "negative_label", "score", "rank"))


def _triplet_oracle() -> str:
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS other_id,
         (b.label = a.label) AS same, round({cos}, 6) AS score
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < 5 AND b.vec_id <> a.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id, same
                               ORDER BY score DESC, other_id) AS rn
  FROM pairs
)
SELECT p.anchor_id, p.other_id AS positive_id,
       n.other_id AS negative_id, p.score AS pos_score,
       n.score AS neg_score, round(p.score - n.score, 6) AS margin
FROM ranked p JOIN ranked n USING (anchor_id)
WHERE p.same AND p.rn = 1 AND NOT n.same AND n.rn = 1
"""


@register("r8_triplets", oracle=_triplet_oracle())
def r8_triplets(spark: SparkSession, d: str) -> DataFrame:
    """Contrastive training triplets: per anchor, the nearest
    SAME-label vector (positive) and the nearest DIFFERENT-label
    vector (hard negative), with the margin between them — the
    (anchor, positive, negative) manifest an embedding-model trainer
    consumes; small/negative margins are the valuable examples.  One
    broadcast crossJoin, one (anchor, same)-keyed window, one self
    join of the two rank-1 rows."""
    emb = _t(spark, d, "embeddings")
    anchors = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("__al"),
                       to_double_array(F.col("embedding")).alias("__av")))
    cand = emb.select(F.col("vec_id").alias("other_id"),
                      F.col("label").alias("__cl"),
                      to_double_array(F.col("embedding")).alias("__cv"))
    pairs = (cand.crossJoin(F.broadcast(anchors))
             .filter(F.col("other_id") != F.col("anchor_id"))
             .select("anchor_id", "other_id",
                     (F.col("__cl") == F.col("__al")).alias("same"),
                     F.round(cosine(F.col("__cv"), F.col("__av")), 6)
                      .alias("score")))
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.desc("score"), "other_id")
    ranked = pairs.withColumn("rn", F.row_number().over(w))
    pos = ranked.filter(F.col("same") & (F.col("rn") == 1)).select(
        "anchor_id", F.col("other_id").alias("positive_id"),
        F.col("score").alias("pos_score"))
    neg = ranked.filter(~F.col("same") & (F.col("rn") == 1)).select(
        "anchor_id", F.col("other_id").alias("negative_id"),
        F.col("score").alias("neg_score"))
    return (pos.join(neg, "anchor_id")
            .select("anchor_id", "positive_id", "negative_id",
                    "pos_score", "neg_score",
                    F.round(F.col("pos_score") - F.col("neg_score"), 6)
                     .alias("margin")))


def _bitext_oracle() -> str:
    cos = OV.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, round({cos}, 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.label = 0 AND b.label = 1
), ra AS (
  SELECT *, row_number() OVER (PARTITION BY a_id
                               ORDER BY cos DESC, b_id) AS rka
  FROM pairs
), rb AS (
  SELECT *, row_number() OVER (PARTITION BY b_id
                               ORDER BY cos DESC, a_id) AS rkb
  FROM pairs
), a4 AS (
  SELECT a_id, avg(cos) AS avg_a FROM ra WHERE rka <= 4 GROUP BY a_id
), b4 AS (
  SELECT b_id, avg(cos) AS avg_b FROM rb WHERE rkb <= 4 GROUP BY b_id
), m AS (
  SELECT p.a_id, p.b_id, p.cos,
         round(p.cos / ((a4.avg_a + b4.avg_b) / 2.0::DOUBLE), 6)
           AS margin
  FROM pairs p JOIN a4 USING (a_id) JOIN b4 USING (b_id)
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY margin DESC, b_id) AS best_a,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY margin DESC, a_id) AS best_b
  FROM m
)
SELECT a_id, b_id, cos, margin
FROM ranked WHERE best_a = 1 AND best_b = 1
"""


@register("r9_bitext_pairs", oracle=_bitext_oracle())
def r9_bitext_pairs(spark: SparkSession, d: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, public —
    the standard parallel-corpus miner behind CCMatrix/LASER): across
    two embedding groups (labels 0 and 1 as the two 'languages'),
    score every cross pair by the RATIO MARGIN — cosine divided by
    the mean of both sides' top-4 neighborhood cosines (penalizing
    hubs that are near everything) — and keep MUTUAL best pairs only.

    Plan: broadcast the smaller side against the other (the
    r8_hard_negatives shape), per-side windows for neighborhood
    averages and mutual ranks.  At 100 TB the all-pairs stage is
    replaced by ivf_knn_join per side (cell-pruned candidate
    generation) — the margin/mutual logic downstream is unchanged."""
    emb = _t(spark, d, "embeddings")
    A = (emb.filter(F.col("label") == 0)
         .select(F.col("vec_id").alias("a_id"),
                 to_double_array(F.col("embedding")).alias("__va")))
    B = (emb.filter(F.col("label") == 1)
         .select(F.col("vec_id").alias("b_id"),
                 to_double_array(F.col("embedding")).alias("__vb")))
    pairs = (B.crossJoin(F.broadcast(A))
             .select("a_id", "b_id",
                     F.round(cosine(F.col("__va"), F.col("__vb")), 6)
                      .alias("cos")))
    wa = Window.partitionBy("a_id").orderBy(F.desc("cos"), "b_id")
    wb = Window.partitionBy("b_id").orderBy(F.desc("cos"), "a_id")
    a4 = (pairs.withColumn("rka", F.row_number().over(wa))
          .filter(F.col("rka") <= 4)
          .groupBy("a_id").agg(F.avg("cos").alias("avg_a")))
    b4 = (pairs.withColumn("rkb", F.row_number().over(wb))
          .filter(F.col("rkb") <= 4)
          .groupBy("b_id").agg(F.avg("cos").alias("avg_b")))
    m = (pairs.join(F.broadcast(a4), "a_id")
         .join(F.broadcast(b4), "b_id")
         .withColumn("margin",
                     F.round(F.col("cos")
                             / ((F.col("avg_a") + F.col("avg_b"))
                                / F.lit(2.0)), 6)))
    wma = Window.partitionBy("a_id").orderBy(F.desc("margin"), "b_id")
    wmb = Window.partitionBy("b_id").orderBy(F.desc("margin"), "a_id")
    return (m.withColumn("best_a", F.row_number().over(wma))
            .withColumn("best_b", F.row_number().over(wmb))
            .filter((F.col("best_a") == 1) & (F.col("best_b") == 1))
            .select("a_id", "b_id", "cos", "margin"))


_BITEXT_K = 8          # ANN candidates per query per direction


_BITEXT_LISTS = 8


_BITEXT_PROBE = 4


def _bitext_ivf_frame(spark: SparkSession, d: str,
                      n_lists: int = _BITEXT_LISTS,
                      n_probe: int = _BITEXT_PROBE,
                      k: int = _BITEXT_K,
                      cents_a=None, cents_b=None) -> DataFrame:
    """Margin-based bitext mining over IVF-generated candidates: the
    all-pairs stage of r9_bitext_pairs replaced by
    ivf_knn_join candidate generation PER SIDE — each query scores
    n_probe/n_lists of the other side instead of all of it, so the
    pair stage is corpus-linear where the exact form is quadratic
    (at the 10x stress tier the exact form is 1e10 pairs — not
    runnable; this one is).  Downstream margin/mutual logic is the
    exact entry's, evaluated over the candidate set: top-4
    neighborhood averages (Artetxe & Schwenk 2019's ratio margin)
    and mutual-best election.  Recall vs the exact mutual-best set
    is gated by r9_bitext_ivf_recall (the dd_semdedup_recall
    pattern); at 100 TB the two KMeans fits are the offline store
    layouts both language sides already maintain (ivf_build_store),
    so candidate generation reads cell-pruned partitions.

    Crossover honesty (STRESS_r09): at catalog-tier side sizes
    (hundreds to low thousands of rows) the exact broadcast
    all-pairs form is FASTER — the two KMeans fits dominate.  The
    IVF form wins once |A| x |B| outgrows the one-off fit cost
    (which prebuilt stores amortize to zero — ``cents_a``/``cents_b``
    accept those prebuilt layouts and the stress ledger times the
    prefit form separately); the stress ledger
    reports exact scored pairs growing ~100x across a 10x tier
    while the candidate set stays k-per-query bounded."""
    emb = _t(spark, d, "embeddings")
    A = (emb.filter(F.col("label") == 0)
         .select(F.col("vec_id").alias("a_id"),
                 to_double_array(F.col("embedding")).alias("av")))
    B = (emb.filter(F.col("label") == 1)
         .select(F.col("vec_id").alias("b_id"),
                 to_double_array(F.col("embedding")).alias("bv")))
    ab = (similarity.ivf_knn_join(A, B, k=k, n_lists=n_lists,
                       n_probe=n_probe, q_vec="av", q_id="a_id",
                       c_vec="bv", c_id="b_id", centroids=cents_b)
          .select(F.col("query_id").alias("a_id"),
                  F.col("result_id").alias("b_id"),
                  F.round("score", 6).alias("cos")))
    ba = (similarity.ivf_knn_join(B, A, k=k, n_lists=n_lists,
                       n_probe=n_probe, q_vec="bv", q_id="b_id",
                       c_vec="av", c_id="a_id", centroids=cents_a)
          .select(F.col("result_id").alias("a_id"),
                  F.col("query_id").alias("b_id"),
                  F.round("score", 6).alias("cos")))
    pairs = ab.unionByName(ba).distinct()
    wa = Window.partitionBy("a_id").orderBy(F.desc("cos"), "b_id")
    wb = Window.partitionBy("b_id").orderBy(F.desc("cos"), "a_id")
    a4 = (pairs.withColumn("rka", F.row_number().over(wa))
          .filter(F.col("rka") <= 4)
          .groupBy("a_id").agg(F.avg("cos").alias("avg_a")))
    b4 = (pairs.withColumn("rkb", F.row_number().over(wb))
          .filter(F.col("rkb") <= 4)
          .groupBy("b_id").agg(F.avg("cos").alias("avg_b")))
    m = (pairs.join(a4, "a_id").join(b4, "b_id")
         .withColumn("margin",
                     F.round(F.col("cos")
                             / ((F.col("avg_a") + F.col("avg_b"))
                                / F.lit(2.0)), 6)))
    wma = Window.partitionBy("a_id").orderBy(F.desc("margin"), "b_id")
    wmb = Window.partitionBy("b_id").orderBy(F.desc("margin"), "a_id")
    return (m.withColumn("best_a", F.row_number().over(wma))
            .withColumn("best_b", F.row_number().over(wmb))
            .filter((F.col("best_a") == 1) & (F.col("best_b") == 1))
            .select("a_id", "b_id", "cos", "margin"))


@register("r9_bitext_ivf")   # rows-only: approximate by design
def r9_bitext_ivf(spark: SparkSession, d: str) -> DataFrame:
    """IVF-candidate bitext mining — the scale form of
    r9_bitext_pairs; recall vs the exact mutual-best set gated by
    r9_bitext_ivf_recall."""
    return _bitext_ivf_frame(spark, d)


def _bitext_ivf_recall_oracle() -> str:
    return f"""
WITH exact_pairs AS ({_bitext_oracle()})
SELECT count(*)::BIGINT AS n_exact, TRUE AS floor_met
FROM exact_pairs
"""


@register("r9_bitext_ivf_recall", oracle=_bitext_ivf_recall_oracle())
def r9_bitext_ivf_recall(spark: SparkSession, d: str) -> DataFrame:
    """Recall gate for the IVF bitext path with a data-dependent
    oracle: n_exact is DuckDB's own count of the exact mutual-best
    pair set (not a pinned constant), and floor_met gates the IVF
    path's recovery of those pairs at >= 0.7 (k=8 candidates per
    direction, 4/8 cells probed; measured 0.97 at BOTH
    sf0.001/sf0.01 — cross-cell misses and truncated top-4
    neighborhoods are the designed loss, exactly the
    dd_semdedup_recall trade)."""
    exact = r9_bitext_pairs(spark, d).select("a_id", "b_id")
    approx = _bitext_ivf_frame(spark, d).select("a_id", "b_id")
    return _recall_summary(exact, approx, ["a_id", "b_id"], floor=0.7)


# ===========================================================================
# Matryoshka truncation, pseudo-relevance feedback, late interaction
# ===========================================================================

_MRL_DIM = 16


def _mrl_q16() -> list[float]:
    return QUERY_VEC[:_MRL_DIM]


def _mrl_topk_oracle() -> str:
    cos = OV.cosine_sql(f"list_slice(embedding, 1, {_MRL_DIM})",
                        OV.vec_lit_sql(_mrl_q16()))
    return f"""
SELECT vec_id, round({cos}, 6) AS score
FROM embeddings
ORDER BY score DESC, vec_id LIMIT 10
"""


@register("r10_matryoshka_topk", oracle=_mrl_topk_oracle())
def r10_matryoshka_topk(spark: SparkSession, d: str) -> DataFrame:
    """Matryoshka-truncated retrieval (Kusupati et al. 2022, public —
    MRL prefixes of an embedding remain usable at reduced dimension):
    exact cosine top-10 over only the FIRST 16 of 64 dims — the 4x
    cheaper serving path (cosine renormalizes, so truncation+renorm
    is one expression).  Deterministic ranking, full value oracle.

    Scale: same TakeOrderedAndProject scan shape as r4_knn_topk but
    reading a quarter of the vector bytes; at 100 TB the truncated
    prefix is materialized as its own narrow column/store."""
    emb = _t(spark, d, "embeddings")
    q = F.array(*[F.lit(float(x)) for x in _mrl_q16()])
    trunc = F.slice(to_double_array(F.col("embedding")), 1, _MRL_DIM)
    return (emb.select("vec_id",
                       F.round(cosine(trunc, q), 6).alias("score"))
            .orderBy(F.desc("score"), "vec_id").limit(10))


def _mrl_overlap_oracle() -> str:
    cos_t = OV.cosine_sql(f"list_slice(embedding, 1, {_MRL_DIM})",
                          OV.vec_lit_sql(_mrl_q16()))
    cos_f = OV.cosine_sql("embedding", OV.vec_lit_sql(OV.QUERY_VEC))
    return f"""
WITH t AS (
  SELECT vec_id FROM embeddings
  ORDER BY round({cos_t}, 6) DESC, vec_id LIMIT 10
), f AS (
  SELECT vec_id FROM embeddings
  ORDER BY round({cos_f}, 6) DESC, vec_id LIMIT 10
)
SELECT (SELECT count(*) FROM t JOIN f USING (vec_id))::BIGINT
         AS n_overlap,
       10::BIGINT AS k
"""


@register("r10_matryoshka_overlap", oracle=_mrl_overlap_oracle())
def r10_matryoshka_overlap(spark: SparkSession, d: str) -> DataFrame:
    """Quality accounting for the truncated path: overlap@10 between
    the 16-dim and full 64-dim exact rankings — BOTH rankings are
    deterministic, so unlike the ANN recall gates this is a full
    value oracle, and the number is the dimension-truncation quality
    a Matryoshka serving tier monitors."""
    emb = _t(spark, d, "embeddings")
    full = similarity.knn_topk(emb, QUERY_VEC, k=10).select("vec_id")
    trunc = r10_matryoshka_topk(spark, d).select("vec_id")
    j = trunc.join(full, "vec_id")
    return j.agg(F.count("*").alias("n_overlap"),
                 F.lit(10).cast("long").alias("k"))


def _prf_ctes() -> str:
    terms = ", ".join(sql_str(t) for t in OV.QUERY_TERMS)
    contrib = ("CAST(round(tf::DOUBLE * ln((nd.n + 1.0::DOUBLE) "
               "/ (df.df + 1.0::DOUBLE)) * 1000000) AS BIGINT)")
    return f"""
WITH tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest({OV.tokens_sql('text')}) AS tok
        FROM documents)
  GROUP BY doc_id, tok
), nd AS (
  SELECT count(*)::BIGINT AS n FROM documents
), df AS (
  SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok
), qs AS (
  SELECT unnest([{terms}]) AS tok
), s0 AS (
  SELECT tf.doc_id, CAST(sum({contrib}) AS BIGINT) AS s
  FROM tf JOIN qs USING (tok) JOIN df USING (tok) CROSS JOIN nd
  GROUP BY tf.doc_id
), top5 AS (
  SELECT doc_id FROM s0 ORDER BY s DESC, doc_id LIMIT 5
), cand AS (
  SELECT tf.tok, CAST(sum({contrib}) AS BIGINT) AS w
  FROM tf JOIN top5 USING (doc_id) JOIN df USING (tok) CROSS JOIN nd
  WHERE tf.tok NOT IN ({terms})
  GROUP BY tf.tok
), expn AS (
  SELECT tok, w FROM cand ORDER BY w DESC, tok LIMIT 3
), allterms AS (
  SELECT tok FROM qs UNION SELECT tok FROM expn
), s1 AS (
  SELECT tf.doc_id, CAST(sum({contrib}) AS BIGINT) AS score_s,
         count(*)::BIGINT AS n_matched
  FROM tf JOIN allterms USING (tok) JOIN df USING (tok) CROSS JOIN nd
  GROUP BY tf.doc_id
)"""


def _prf_frames(spark: SparkSession, d: str):
    """Shared Spark chain.  Scale shape: tf/df are the inverted-index
    aggregates every text entry pays (flat token keys); the query and
    expansion term sets are <=9 rows — every scoring join broadcasts;
    top-5/top-3 are TakeOrdered.  Per-term contributions quantize to
    BIGINT before summing (commutative — partition-order-proof)."""
    docs = _t(spark, d, "documents")
    tf = (docs.select("doc_id", F.explode(dedup.tokens(F.col("text")))
                      .alias("tok"))
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    nd = docs.agg(F.count("*").alias("n"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    qs = spark.createDataFrame([(t,) for t in OV.QUERY_TERMS], ["tok"])
    contrib = F.round(
        F.col("tf").cast("double")
        * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))
        * 1000000).cast("long")

    def scored(term_df: DataFrame) -> DataFrame:
        return (tf.join(F.broadcast(term_df), "tok")
                .join(F.broadcast(df), "tok")
                .crossJoin(F.broadcast(nd))
                .groupBy("doc_id")
                .agg(F.sum(contrib).cast("long").alias("score_s"),
                     F.count("*").alias("n_matched")))

    # the mining half is the shared operator the engine facade also
    # uses (textscore.prf_expansion_terms) — one implementation, one
    # oracle
    expn = textscore.prf_expansion_terms(docs, list(OV.QUERY_TERMS))
    allterms = qs.unionByName(expn.select("tok")).distinct()
    return scored(allterms), expn


@register("r11_prf_terms", oracle=_prf_ctes() + """
SELECT tok AS term, round(w::DOUBLE / 1000000.0, 6) AS weight
FROM expn ORDER BY w DESC, term
""")
def r11_prf_terms(spark: SparkSession, d: str) -> DataFrame:
    """The expansion terms the feedback loop mined: top-3 TF-IDF-mass
    terms across the initial top-5 documents, original query terms
    excluded — published separately so the expansion itself is
    auditable (the 'why did my query grow' surface)."""
    _, expn = _prf_frames(spark, d)
    return (expn.select(F.col("tok").alias("term"),
                        F.round(F.col("w").cast("double") / 1000000.0, 6)
                         .alias("weight"))
            .orderBy(F.desc("w"), "term"))


@register("r11_prf_rerank", oracle=_prf_ctes() + """
SELECT doc_id, round(score_s::DOUBLE / 1000000.0, 6) AS score,
       n_matched
FROM s1 ORDER BY score_s DESC, doc_id LIMIT 10
""")
def r11_prf_rerank(spark: SparkSession, d: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback end to end: TF-IDF retrieve
    with the shared query terms, mine top-3 expansion terms from the
    top-5 hits, re-retrieve with the enriched query — the classic
    recall-widening loop (docs matching only expansion vocabulary
    can now surface).  Entirely in-plan on both engines: the
    expansion term set is derived data, not a literal."""
    s1, _ = _prf_frames(spark, d)
    return (s1.select("doc_id",
                      F.round(F.col("score_s").cast("double") / 1000000.0,
                              6).alias("score"),
                      F.col("n_matched").cast("long").alias("n_matched"))
            .orderBy(F.desc("score_s"), "doc_id").limit(10)
            .drop("score_s"))


@register("eng_prf_terms", oracle=_prf_ctes() + """
SELECT tok AS term, round(w::DOUBLE / 1000000.0, 6) AS weight
FROM expn ORDER BY w DESC, term
""")
def eng_prf_terms(spark: SparkSession, d: str) -> DataFrame:
    """ENGINE-level PRF proof: SparkRagEngine.prf_terms over the
    engine's own doc⋈embedding index (config.query_expansion='prf'
    widens the hybrid text branch with exactly these terms) must
    hash-match the r11 mining oracle — pinning that the facade path
    and the standalone operator share one implementation (the same
    one-impl-one-oracle contract as eng_ann_recall for the vector
    side).  The index's content column is the documents text 1:1, so
    the corpus statistics are identical by construction."""
    eng = SparkRagEngine(spark)
    docs = _t(spark, d, "documents")
    emb = _t(spark, d, "embeddings")
    index = (docs.join(emb, docs.doc_id == emb.vec_id)
             .select("doc_id", F.col("text").alias("content"),
                     "embedding", "lang"))
    expn = eng.prf_terms(index, list(OV.QUERY_TERMS))
    return (expn.select(F.col("tok").alias("term"),
                        F.round(F.col("w").cast("double") / 1000000.0, 6)
                         .alias("weight"))
            .orderBy(F.desc("w"), "term"))


_MAXSIM_DIM = 8


def _tokvec_py(tok: str) -> list[float]:
    h = hashlib.md5(tok.encode()).hexdigest()
    return [int(h[2 * i: 2 * i + 2], 16) / 255.0
            for i in range(_MAXSIM_DIM)]


def _maxsim_oracle() -> str:
    tv = ", ".join(
        f"('0x' || substr(md5(tok), {2 * i + 1}, 2))::BIGINT / 255.0"
        for i in range(_MAXSIM_DIM))
    cols = []
    for qi, term in enumerate(OV.QUERY_TERMS):
        qlit = OV.vec_lit_sql(_tokvec_py(term))
        cols.append(f"max({OV.cosine_sql('tv', qlit)}) AS m{qi}")
    total = " + ".join(f"round(m{qi}, 6)"
                       for qi in range(len(OV.QUERY_TERMS)))
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({OV.tokens_sql('text')}) AS tok
  FROM documents
), tv AS (
  SELECT doc_id, [{tv}] AS tv FROM dt
), perq AS (
  SELECT doc_id, {", ".join(cols)} FROM tv GROUP BY doc_id
)
SELECT doc_id, round({total}, 6) AS maxsim_score
FROM perq ORDER BY round({total}, 6) DESC, doc_id LIMIT 10
"""


@register("r12_maxsim_topk", oracle=_maxsim_oracle())
def r12_maxsim_topk(spark: SparkSession, d: str) -> DataFrame:
    """Late-interaction top-10: per-token document vectors meet each
    query-token vector under MaxSim — the retrieval model BETWEEN
    bag-of-words (r7 BM25: token identity only) and single-vector
    dense (r4: one pooled embedding), completing the family.  Query
    token vectors are Python-computed literals (shared-constant
    discipline); per-query maxes are PARTIAL-AGGREGABLE (max combines
    map-side), so the per-doc reduction shuffles one row per doc per
    query token — never the token stream; the 6 rounded maxes sum in
    one fixed-order expression on both engines."""
    docs = _t(spark, d, "documents")
    dt = (docs.select("doc_id", F.explode(dedup.tokens(F.col("text")))
                      .alias("tok")).distinct())
    tv = F.array(*[
        F.conv(F.substring(F.md5(F.col("tok")), 2 * i + 1, 2), 16, 10)
        .cast("double") / 255.0 for i in range(_MAXSIM_DIM)])
    scored = dt.withColumn("tv", tv)
    aggs = []
    for qi, term in enumerate(OV.QUERY_TERMS):
        qlit = F.array(*[F.lit(x) for x in _tokvec_py(term)])
        aggs.append(F.max(cosine(F.col("tv"), qlit)).alias(f"m{qi}"))
    perq = scored.groupBy("doc_id").agg(*aggs)
    total = None
    for qi in range(len(OV.QUERY_TERMS)):
        t = F.round(F.col(f"m{qi}"), 6)
        total = t if total is None else total + t
    return (perq.select("doc_id", F.round(total, 6).alias("maxsim_score"))
            .orderBy(F.desc("maxsim_score"), "doc_id").limit(10))


# ===========================================================================
# Retrieval-quality evaluation harness (IR metrics) — the offline eval
# a RAG deployment publishes next to its index build: recall@k, MRR,
# nDCG@k against labeled relevance judgments.  The reference tunes its
# search stack (index_manager.py analyzers, vector_search.py
# numCandidates) but ships no measurement loop; at 100 TB the eval IS
# the regression gate for every index/analyzer change.
# ===========================================================================

# Integer-scaled DCG rank weights, computed ONCE here in Python and
# injected as literals into BOTH engines (the shared-constant
# discipline): w_r = round(1e6 / log2(r+1)).  Sums of these are exact
# BIGINT arithmetic — no cross-engine log2/FP-fold risk anywhere in
# the metric pipeline; the only float op is one final division.
_IR_K = 10


_DCG_W = [round(1_000_000 / math.log2(r + 1)) for r in range(1, _IR_K + 1)]


_IDCG_CUM = [sum(_DCG_W[:i + 1]) for i in range(_IR_K)]  # ideal DCG @ 1..K


def _ir_cte_parts(dim: int | None = None, sfx: str = "") -> str:
    """CTE chain (no WITH keyword) ending in ``perq{sfx}``; ``dim``
    truncates both sides of the cosine to the first ``dim`` dims (the
    Matryoshka serving path) — None scores full vectors."""
    emb = ("e.embedding" if dim is None
           else f"list_slice(e.embedding, 1, {dim})")
    qv = "q.qv" if dim is None else f"list_slice(q.qv, 1, {dim})"
    cos = OV.cosine_sql(emb, qv)
    dcg_case = " ".join(f"WHEN {r + 1} THEN {w}"
                        for r, w in enumerate(_DCG_W))
    idcg_case = " ".join(f"WHEN {i + 1} THEN {c}"
                         for i, c in enumerate(_IDCG_CUM))
    return f"""
q{sfx} AS (
  SELECT vec_id AS qid, label AS qlabel, embedding AS qv
  FROM embeddings WHERE vec_id % 50 = 7
), cnt{sfx} AS (
  SELECT label, count(*)::BIGINT AS n FROM embeddings GROUP BY label
), scored{sfx} AS (
  SELECT q.qid, q.qlabel, e.vec_id AS rid, e.label AS rlabel,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY round({cos}, 6) DESC, e.vec_id)
           AS rank
  FROM embeddings e CROSS JOIN q{sfx} q
  WHERE e.vec_id <> q.qid
), agg{sfx} AS (
  SELECT qid, qlabel,
         CAST(sum((rlabel = qlabel)::INT) AS BIGINT) AS hits,
         CAST(coalesce(min(CASE WHEN rlabel = qlabel THEN rank END), 0)
              AS BIGINT) AS first_rank,
         CAST(coalesce(sum((rlabel = qlabel)::INT
                           * CASE rank {dcg_case} ELSE 0 END), 0)
              AS BIGINT) AS dcg_s
  FROM scored{sfx} WHERE rank <= {_IR_K}
  GROUP BY qid, qlabel
), perq{sfx} AS (
  SELECT a.qid AS query_id, a.qlabel AS query_label,
         (c.n - 1)::BIGINT AS n_rel, a.hits AS hits_10,
         a.first_rank AS first_hit_rank,
         CASE WHEN c.n - 1 = 0 THEN 0.0::DOUBLE
              ELSE round(a.hits::DOUBLE
                         / least({_IR_K}, c.n - 1)::DOUBLE, 6)
         END AS recall_10,
         CASE WHEN a.first_rank = 0 THEN 0.0::DOUBLE
              ELSE round(1.0::DOUBLE / a.first_rank::DOUBLE, 6)
         END AS mrr_10,
         CASE WHEN c.n - 1 = 0 THEN 0.0::DOUBLE
              ELSE round(a.dcg_s::DOUBLE
                         / (CASE least({_IR_K}, c.n - 1)
                            {idcg_case} ELSE {_IDCG_CUM[-1]} END)::DOUBLE,
                         6)
         END AS ndcg_10
  FROM agg{sfx} a JOIN cnt{sfx} c ON c.label = a.qlabel
)"""


def _ir_per_query_cte() -> str:
    return "\nWITH " + _ir_cte_parts()


def _ir_per_query(spark: SparkSession, d: str,
                  dim: int | None = None,
                  max_queries: int | None = None) -> DataFrame:
    """Shared Spark plan for the IR eval entries: label-match relevance
    (the embeddings table's `label` column IS the judgment set), exact
    cosine top-10 per held-out query (vec_id % 50 == 7), metrics as
    exact integer sums of the shared _DCG_W weights.

    ``max_queries`` caps the held-out query set (first N by qid) —
    the FIXED-eval-set form stress_bench times (VERDICT r8 #3): with
    the default, the eval set grows with the corpus, so scored pairs
    grow quadratically across stress tiers and the tier ratio reads
    the benchmark's growth, not the operator's."""
    vec = (to_double_array(F.col("embedding")) if dim is None
           else F.slice(to_double_array(F.col("embedding")), 1, dim))
    emb = _t(spark, d, "embeddings")
    q = (emb.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 7)
         .select(F.col("vec_id").alias("qid"),
                 F.col("label").alias("qlabel"),
                 vec.alias("qv")))
    if max_queries is not None:
        q = q.orderBy("qid").limit(max_queries)
    cnt = emb.groupBy("label").agg(F.count("*").alias("n"))
    pairs = (emb.select(F.col("vec_id").alias("rid"),
                        F.col("label").alias("rlabel"),
                        vec.alias("cv"))
             .crossJoin(F.broadcast(q))
             .filter(F.col("rid") != F.col("qid")))
    w = Window.partitionBy("qid").orderBy(
        F.round(cosine(F.col("cv"), F.col("qv")), 6).desc(), F.col("rid"))
    top = (pairs.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= _IR_K))
    rel = (F.col("rlabel") == F.col("qlabel")).cast("int")
    dcg_w = F.array(*[F.lit(x) for x in _DCG_W])
    idcg_w = F.array(*[F.lit(x) for x in _IDCG_CUM])
    agg = (top.groupBy("qid", "qlabel")
           .agg(F.sum(rel).cast("long").alias("hits"),
                F.coalesce(F.min(F.when(rel == 1, F.col("rank"))),
                           F.lit(0)).cast("long").alias("first_rank"),
                F.coalesce(F.sum(rel * F.element_at(dcg_w, F.col("rank"))),
                           F.lit(0)).cast("long").alias("dcg_s")))
    n_rel = F.col("n") - 1
    denom = F.least(F.lit(_IR_K), n_rel)
    return (agg.join(F.broadcast(cnt),
                     agg["qlabel"] == cnt["label"])
            .select(F.col("qid").alias("query_id"),
                    F.col("qlabel").alias("query_label"),
                    n_rel.cast("long").alias("n_rel"),
                    F.col("hits").alias("hits_10"),
                    F.col("first_rank").alias("first_hit_rank"),
                    F.when(n_rel == 0, F.lit(0.0))
                     .otherwise(F.round(F.col("hits").cast("double")
                                        / denom.cast("double"), 6))
                     .alias("recall_10"),
                    F.when(F.col("first_rank") == 0, F.lit(0.0))
                     .otherwise(F.round(F.lit(1.0)
                                        / F.col("first_rank").cast("double"),
                                        6))
                     .alias("mrr_10"),
                    F.when(n_rel == 0, F.lit(0.0))
                     .otherwise(F.round(
                         F.col("dcg_s").cast("double")
                         / F.element_at(idcg_w,
                                        F.greatest(denom, F.lit(1))
                                        .cast("int")).cast("double"), 6))
                     .alias("ndcg_10")))


@register("ir1_eval_per_query", oracle=_ir_per_query_cte() + """
SELECT * FROM perq ORDER BY query_id
""")
def ir1_eval_per_query(spark: SparkSession, d: str) -> DataFrame:
    """Per-query retrieval-quality report: recall@10 (R-truncated),
    MRR@10, binary-relevance nDCG@10 for exact-cosine search against
    the labeled embedding corpus (relevant = same `label`, the
    standard ANN-benchmark protocol).  This is the harness every one
    of the r4_* recall gates samples from, promoted to a first-class
    published eval.

    FP discipline: ranks come from the round-6 cosine (identical to
    the r8 hard-negative entry), per-rank DCG gains are the Python-
    computed integer weights _DCG_W injected into both engines, so
    every aggregate is an exact BIGINT sum; each metric then does ONE
    double division — engine-stable.

    Scale shape: the query set is an eval sample (tiny, broadcast);
    candidate scoring is map-side over the corpus; the only shuffle
    is the per-query top-k window on qid (bounded by |eval set|, and
    swappable for ivf_knn_join's equi-join form when the corpus is
    cell-partitioned — same metrics CTE either way)."""
    return _ir_per_query(spark, d).orderBy("query_id")


@register("ir2_eval_summary", oracle=_ir_per_query_cte() + """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       round(sum(CAST(round(recall_10 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS macro_recall_10,
       round(sum(CAST(round(mrr_10 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS macro_mrr_10,
       round(sum(CAST(round(ndcg_10 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS macro_ndcg_10
FROM perq
""")
def ir2_eval_summary(spark: SparkSession, d: str) -> DataFrame:
    """Macro-averaged scoreboard over the eval queries — the single
    row a nightly index-quality dashboard tracks.  Averaging re-scales
    the per-query 6-decimal metrics to BIGINTs (exact, since they ARE
    6-decimal values) and sums integers, so the mean is one division
    regardless of row order or partitioning."""
    perq = _ir_per_query(spark, d)
    def s(c):  # noqa: E306
        return F.sum(F.round(F.col(c) * 1000000).cast("long"))
    n = F.count("*")
    return perq.agg(
        n.cast("long").alias("n_queries"),
        F.round(s("recall_10").cast("double")
                / (n * 1000000).cast("double"), 6).alias("macro_recall_10"),
        F.round(s("mrr_10").cast("double")
                / (n * 1000000).cast("double"), 6).alias("macro_mrr_10"),
        F.round(s("ndcg_10").cast("double")
                / (n * 1000000).cast("double"), 6).alias("macro_ndcg_10"))


@register("ir3_eval_matryoshka", oracle=(
    "WITH " + _ir_cte_parts(None, "_f") + ", "
    + _ir_cte_parts(16, "_t") + """
, s AS (
  SELECT 'dim16' AS variant, * FROM perq_t
  UNION ALL
  SELECT 'full64', * FROM perq_f
)
SELECT variant, CAST(count(*) AS BIGINT) AS n_queries,
       round(sum(CAST(round(recall_10 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS macro_recall_10,
       round(sum(CAST(round(mrr_10 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS macro_mrr_10,
       round(sum(CAST(round(ndcg_10 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS macro_ndcg_10
FROM s GROUP BY variant ORDER BY variant
"""))
def ir3_eval_matryoshka(spark: SparkSession, d: str) -> DataFrame:
    """The Matryoshka serving decision quantified in RELEVANCE terms:
    the same IR eval run twice — full 64-dim cosine vs the first-16-
    dims truncation (r10's 4x-cheaper path) — reporting macro
    recall@10 / MRR / nDCG side by side.  r10_matryoshka_overlap
    measures rank agreement against the full ranking; this measures
    what users feel: how much LABEL-relevance the truncation actually
    costs (rank churn among same-label neighbors is free).  Same
    integer-weight metric pipeline, same broadcast-scoring shape,
    two passes over the corpus (one per variant)."""
    def summarize(df: DataFrame, tag: str) -> DataFrame:
        def s(c):
            return F.sum(F.round(F.col(c) * 1000000).cast("long"))
        n = F.count("*")
        return df.agg(
            F.lit(tag).alias("variant"),
            n.cast("long").alias("n_queries"),
            F.round(s("recall_10").cast("double")
                    / (n * 1000000).cast("double"), 6)
             .alias("macro_recall_10"),
            F.round(s("mrr_10").cast("double")
                    / (n * 1000000).cast("double"), 6)
             .alias("macro_mrr_10"),
            F.round(s("ndcg_10").cast("double")
                    / (n * 1000000).cast("double"), 6)
             .alias("macro_ndcg_10"))
    t = summarize(_ir_per_query(spark, d, dim=16), "dim16")
    f = summarize(_ir_per_query(spark, d), "full64")
    return t.unionByName(f).orderBy("variant")


def _ir4_oracle() -> str:
    gain_case = " ".join(f"WHEN {s} THEN {2 ** (10 - s)}"
                         for s in range(10))
    dcg_case = " ".join(f"WHEN {r + 1} THEN {w}"
                        for r, w in enumerate(_DCG_W))
    return f"""
WITH {_ir_cte_parts()}
, seen AS (
  SELECT qid, rank, rlabel,
         count(*) OVER (PARTITION BY qid, rlabel ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
  FROM scored WHERE rank <= {_IR_K}
)
SELECT qid AS query_id,
       CAST(count(DISTINCT rlabel) AS BIGINT) AS n_subtopics_10,
       CAST(sum((CASE prior {gain_case} ELSE 1 END)
                * (CASE rank {dcg_case} ELSE 0 END)) AS BIGINT)
         AS alpha_dcg_s
FROM seen GROUP BY qid ORDER BY query_id
"""


@register("ir4_diversity_eval", oracle=_ir4_oracle())
def ir4_diversity_eval(spark: SparkSession, d: str) -> DataFrame:
    """alpha-DCG@10 (Clarke et al. 2008, alpha = 0.5) over the same
    ranked runs as ir1, with the result's label as its subtopic:
    each hit's gain decays by half per already-seen same-subtopic
    result above it — a run of 10 interchangeable near-dupes scores
    ~2x the top weight where a diverse run scores ~5x.  At
    alpha = 0.5 the decay is exactly 2^(10-seen), so gain x rank
    weight is a pure integer product and the per-query metric an
    exact BIGINT sum (the ir1 convention, extended to the
    data-dependent gains diversity needs); the ideal-ranking
    normalizer is greedy/NP-hard, so the standard unnormalized
    alpha-DCG is reported alongside the subtopic count.

    Scale shape: the ir1 broadcast-scoring pass plus one
    (qid, rlabel)-keyed running count over k-bounded rows."""


    emb = _t(spark, d, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("emb"),
        "label")
    q = (emb.filter(F.col("vec_id") % 50 == 7)
         .select(F.col("vec_id").alias("qid"),
                 F.col("emb").alias("qv")))
    cos = cosine(F.col("emb"), F.col("qv"))
    wr = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
    scored = (emb.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", F.col("label").alias("rlabel"),
                      F.round(cos, 6).alias("cos"))
              .withColumn("rank", F.row_number().over(wr))
              .filter(F.col("rank") <= _IR_K))
    ws = (Window.partitionBy("qid", "rlabel").orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, -1))
    seen = scored.withColumn("prior", F.count("*").over(ws))
    gain = F.when(F.col("prior") >= 10, F.lit(1))
    for s in range(9, -1, -1):
        gain = F.when(F.col("prior") == s, F.lit(2 ** (10 - s))) \
                .otherwise(gain)
    wcase = F.lit(0)
    for r, wgt in enumerate(_DCG_W):
        wcase = F.when(F.col("rank") == r + 1, F.lit(wgt)).otherwise(wcase)
    return (seen.groupBy(F.col("qid").alias("query_id"))
            .agg(F.count_distinct("rlabel").cast("long")
                  .alias("n_subtopics_10"),
                 F.sum((gain * wcase).cast("long")).cast("long")
                  .alias("alpha_dcg_s"))
            .orderBy("query_id"))


def _ir5_oracle() -> str:
    return ("WITH " + _ir_cte_parts(None, "_f") + ", "
            + _ir_cte_parts(16, "_t") + """
, j AS (
  SELECT f.query_id, f.ndcg_10 AS ndcg_full, t.ndcg_10 AS ndcg_dim16
  FROM perq_f f JOIN perq_t t USING (query_id)
)
SELECT count(*)::BIGINT AS n_queries,
       CAST(sum((ndcg_full > ndcg_dim16)::INT) AS BIGINT) AS full_wins,
       CAST(sum((ndcg_full < ndcg_dim16)::INT) AS BIGINT) AS dim16_wins,
       CAST(sum((ndcg_full = ndcg_dim16)::INT) AS BIGINT) AS ties,
       round(sum(CAST(round(ndcg_full * 1000000) AS BIGINT)
               - CAST(round(ndcg_dim16 * 1000000) AS BIGINT))::DOUBLE
             / (count(*) * 1000000)::DOUBLE, 6) AS mean_ndcg_delta
FROM j
""")


@register("ir5_sign_test", oracle=_ir5_oracle())
def ir5_sign_test(spark: SparkSession, d: str) -> DataFrame:
    """Paired per-query SIGN TEST between the full-64-dim ranker and
    the 16-dim Matryoshka truncation: wins / losses / ties over the
    shared eval-query set plus the mean per-query nDCG delta — the
    standard IR-evaluation significance read (a macro-average delta
    like ir3's can hide that one ranker wins on a handful of queries
    and loses everywhere else; the win/loss split is what a paired
    test actually consumes).  Comparisons are over the 6-dp-rounded
    nDCG both engines derive from exact integer DCG sums, so
    equality (a TIE) is engine-stable — no float-comparison lottery —
    and the mean delta is summed on the 1e-6 integer grid (the ir2
    convention) so even the summation order cannot move a digit.

    Plan: the two _ir_per_query passes the ir3 entry already pays,
    one query_id equi-join (eval-set sized), one 1-row aggregate."""
    f = _ir_per_query(spark, d).select(
        "query_id", F.col("ndcg_10").alias("ndcg_full"))
    t = _ir_per_query(spark, d, dim=16).select(
        "query_id", F.col("ndcg_10").alias("ndcg_dim16"))
    j = f.join(t, "query_id")
    full, dim = F.col("ndcg_full"), F.col("ndcg_dim16")
    return j.agg(
        F.count("*").alias("n_queries"),
        F.sum((full > dim).cast("int")).cast("long").alias("full_wins"),
        F.sum((full < dim).cast("int")).cast("long").alias("dim16_wins"),
        F.sum((full == dim).cast("int")).cast("long").alias("ties"),
        F.round(F.sum(F.round(full * 1000000).cast("long")
                      - F.round(dim * 1000000).cast("long")).cast("double")
                / (F.count("*") * 1000000).cast("double"), 6)
         .alias("mean_ndcg_delta"))


_IR6_B = 200      # bootstrap replicas


_IR6_LO = 5       # rank of the 2.5th percentile replica (B = 200)


_IR6_HI = 196     # rank of the 97.5th percentile replica


def _ir6_oracle() -> str:
    return ("WITH " + _ir_cte_parts(None, "_f") + ", "
            + _ir_cte_parts(16, "_t") + f"""
, j AS (
  SELECT f.query_id,
         CAST(round(f.ndcg_10 * 1000000) AS BIGINT)
         - CAST(round(t.ndcg_10 * 1000000) AS BIGINT) AS dq
  FROM perq_f f JOIN perq_t t USING (query_id)
), dl AS (
  SELECT dq, row_number() OVER (ORDER BY query_id) - 1 AS pos FROM j
), nn AS (
  SELECT count(*)::BIGINT AS n, CAST(sum(dq) AS BIGINT) AS point
  FROM dl
), draws AS (
  SELECT t.b, unnest(range((SELECT n FROM nn))) AS i
  FROM range({_IR6_B}) AS t(b)
), picked AS (
  SELECT d.b,
         ('0x' || substr(md5('ir6:' || d.b::VARCHAR || ':'
                              || d.i::VARCHAR), 1, 8))::BIGINT
           % (SELECT n FROM nn) AS pos
  FROM draws d
), reps AS (
  SELECT p.b, CAST(sum(dl.dq) AS BIGINT) AS s
  FROM picked p JOIN dl ON dl.pos = p.pos
  GROUP BY p.b
), ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, b) AS rk FROM reps
)
SELECT (SELECT n FROM nn) AS n_queries,
       {_IR6_B}::BIGINT AS n_replicas,
       round((SELECT point FROM nn)::DOUBLE
             / (SELECT n FROM nn)::DOUBLE / 1000000, 6) AS mean_delta,
       round((SELECT s FROM ranked WHERE rk = {_IR6_LO})::DOUBLE
             / (SELECT n FROM nn)::DOUBLE / 1000000, 6) AS boot_ci_lo,
       round((SELECT s FROM ranked WHERE rk = {_IR6_HI})::DOUBLE
             / (SELECT n FROM nn)::DOUBLE / 1000000, 6) AS boot_ci_hi,
       round((SELECT sum((s > 0)::INT) FROM reps)::DOUBLE
             / {_IR6_B}, 6) AS frac_positive,
       ((SELECT s FROM ranked WHERE rk = {_IR6_LO}) > 0
        OR (SELECT s FROM ranked WHERE rk = {_IR6_HI}) < 0)
         AS significant
""")


@register("ir6_bootstrap_ci", oracle=_ir6_oracle())
def ir6_bootstrap_ci(spark: SparkSession, d: str) -> DataFrame:
    """Paired bootstrap confidence interval on the per-query nDCG
    delta between the full-64-dim ranker and the 16-dim Matryoshka
    truncation (Efron 1979; the bootstrap IR-significance recipe of
    Sakai 2006 / Smucker et al. 2007, public) — the INTERVAL
    companion to ir5's win/loss sign test, completing the ir1-ir7
    eval family: {B} bootstrap replicas resample the query set with
    replacement, and the 2.5th/97.5th percentile replica means
    bracket the delta (a CI excluding 0 is the "significant"
    read the sign test can only approximate).

    Determinism is the whole trick: replica b's i-th draw picks
    query position md5('ir6:b:i') mod n — the repo's seedless
    hash-randomness convention (t9_hash_sample), so both engines
    generate the IDENTICAL resample and every replica sum is an
    exact BIGINT on the 1e-6 nDCG grid (deltas summed as integers;
    one display division).  Percentile ranks are fixed module
    constants ({LO}/{HI} of {B}) with (sum, replica-id) tiebreak —
    no interpolation lottery.

    Scale shape: per-query deltas are the two _ir_per_query passes
    ir3/ir5 already pay; everything after runs on the EVAL-SET-sized
    delta table (the only window orders that bounded table) — draws
    are {B}xN rows of integer hashing joined back by position
    (broadcast), replica sums partial-aggregate, and the rank
    window runs over {B} rows.  Corpus size never enters."""
    f = _ir_per_query(spark, d).select(
        "query_id", F.col("ndcg_10").alias("nf"))
    t = _ir_per_query(spark, d, dim=16).select(
        "query_id", F.col("ndcg_10").alias("nt"))
    j = f.join(t, "query_id").select(
        "query_id",
        (F.round(F.col("nf") * 1000000).cast("long")
         - F.round(F.col("nt") * 1000000).cast("long")).alias("dq"))
    wp = Window.orderBy("query_id")
    dl = j.select("dq",
                  (F.row_number().over(wp) - 1).cast("long").alias("pos"))
    nn = dl.agg(F.count("*").cast("long").alias("n"),
                F.sum("dq").cast("long").alias("point"))
    draws = (spark.range(_IR6_B).select(F.col("id").alias("b"))
             .crossJoin(F.broadcast(nn))
             .select("b", F.explode(
                 F.sequence(F.lit(0).cast("long"), F.col("n") - 1))
                 .alias("i"), "n"))
    picked = draws.select(
        "b",
        F.pmod(dedup.md5_int32(F.concat(F.lit("ir6:"),
                                  F.col("b").cast("string"),
                                  F.lit(":"),
                                  F.col("i").cast("string"))),
               F.col("n")).alias("pos"))
    reps = (picked.join(F.broadcast(dl), "pos")
            .groupBy("b").agg(F.sum("dq").cast("long").alias("s")))
    wr = Window.orderBy("s", "b")
    ranked = reps.withColumn("rk", F.row_number().over(wr))
    lo = ranked.filter(F.col("rk") == _IR6_LO).select(
        F.col("s").alias("slo"))
    hi = ranked.filter(F.col("rk") == _IR6_HI).select(
        F.col("s").alias("shi"))
    fp = reps.agg(F.round(
        F.sum((F.col("s") > 0).cast("int")).cast("double") / _IR6_B, 6)
        .alias("frac_positive"))
    den = F.col("n").cast("double")
    return (nn.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))
            .crossJoin(F.broadcast(fp))
            .select(F.col("n").alias("n_queries"),
                    F.lit(_IR6_B).cast("long").alias("n_replicas"),
                    F.round(F.col("point").cast("double") / den
                            / 1000000, 6).alias("mean_delta"),
                    F.round(F.col("slo").cast("double") / den
                            / 1000000, 6).alias("boot_ci_lo"),
                    F.round(F.col("shi").cast("double") / den
                            / 1000000, 6).alias("boot_ci_hi"),
                    "frac_positive",
                    ((F.col("slo") > 0) | (F.col("shi") < 0))
                    .alias("significant")))


ir6_bootstrap_ci.__doc__ = ir6_bootstrap_ci.__doc__.format(
    B=_IR6_B, LO=_IR6_LO, HI=_IR6_HI)


def _ir7_oracle() -> str:
    return ("\nWITH " + _ir_cte_parts() + ","
            + _ir_cte_parts(dim=16, sfx="t") + f""",
ta AS (
  SELECT qid, rid, rank FROM scored WHERE rank <= {_IR_K}
), tb AS (
  SELECT qid, rid, rank FROM scoredt WHERE rank <= {_IR_K}
), cm AS (
  SELECT ta.qid, ta.rid, ta.rank AS ra, tb.rank AS rb
  FROM ta JOIN tb ON tb.qid = ta.qid AND tb.rid = ta.rid
), pr AS (
  SELECT a.qid,
         CAST(sum(((a.ra - b.ra) * (a.rb - b.rb) > 0)::INT) AS BIGINT)
           AS concordant,
         CAST(sum(((a.ra - b.ra) * (a.rb - b.rb) < 0)::INT) AS BIGINT)
           AS discordant
  FROM cm a JOIN cm b ON b.qid = a.qid AND a.rid < b.rid
  GROUP BY a.qid
), base AS (
  SELECT qid, count(*)::BIGINT AS n_common FROM cm GROUP BY qid
)
SELECT b.qid AS query_id, b.n_common,
       coalesce(p.concordant, 0)::BIGINT AS concordant,
       coalesce(p.discordant, 0)::BIGINT AS discordant,
       CASE WHEN b.n_common < 2 THEN 0.0::DOUBLE
            ELSE round((coalesce(p.concordant, 0)
                        - coalesce(p.discordant, 0))::DOUBLE * 2
                       / (b.n_common * (b.n_common - 1))::DOUBLE, 6)
       END AS kendall_tau
FROM base b LEFT JOIN pr p ON p.qid = b.qid
ORDER BY b.qid
""")


@register("ir7_kendall_tau", oracle=_ir7_oracle())
def ir7_kendall_tau(spark: SparkSession, d: str) -> DataFrame:
    """Kendall rank correlation (Kendall 1938, public) between the
    full-64-dim and dim-16 Matryoshka top-10 rankings, per query,
    over the items BOTH rankings retrieved: the pairwise-order read
    that ir3 (metric deltas) and ir5 (sign test) both hide — two
    rankings can have identical nDCG yet serve results in a visibly
    different order, and tau is the standard number for that.

    Exactness: ranks are small distinct integers, so concordant /
    discordant pair counts are exact integer sums and tau =
    2(C - D)/(m(m-1)) divides once for display (no-tie form — ranks
    within a top-10 are unique by construction).

    Scale shape: both rankings reuse the ir1 plan (eval queries
    broadcast, per-query TakeOrdered); the common-item join is keyed
    by (qid, rid) and the pair join fans out <= K² = 100 rows per
    query — eval-set-sized, never corpus-sized."""

    emb = _t(spark, d, "embeddings")

    def top(dim):
        vec = (to_double_array(F.col("embedding")) if dim is None
               else F.slice(to_double_array(F.col("embedding")), 1, dim))
        q = (emb.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 7)
             .select(F.col("vec_id").alias("qid"), vec.alias("qv")))
        pairs = (emb.select(F.col("vec_id").alias("rid"), vec.alias("cv"))
                 .crossJoin(F.broadcast(q))
                 .filter(F.col("rid") != F.col("qid")))
        w = Window.partitionBy("qid").orderBy(
            F.round(cosine(F.col("cv"), F.col("qv")), 6).desc(),
            F.col("rid"))
        return (pairs.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= _IR_K)
                .select("qid", "rid", "rank"))

    ta = top(None).withColumnRenamed("rank", "ra")
    tb = top(16).withColumnRenamed("rank", "rb")
    cm = ta.join(tb, ["qid", "rid"])
    a, b = cm.alias("a"), cm.alias("b")
    sgn = ((F.col("a.ra") - F.col("b.ra"))
           * (F.col("a.rb") - F.col("b.rb")))
    pr = (a.join(b, (F.col("b.qid") == F.col("a.qid"))
                 & (F.col("a.rid") < F.col("b.rid")))
          .groupBy(F.col("a.qid").alias("qid"))
          .agg(F.sum((sgn > 0).cast("int")).cast("long")
               .alias("concordant"),
               F.sum((sgn < 0).cast("int")).cast("long")
               .alias("discordant")))
    base = cm.groupBy("qid").agg(F.count("*").alias("n_common"))
    m = F.col("n_common")
    return (base.join(pr, "qid", "left")
            .select(F.col("qid").alias("query_id"), "n_common",
                    F.coalesce("concordant", F.lit(0)).cast("long")
                     .alias("concordant"),
                    F.coalesce("discordant", F.lit(0)).cast("long")
                     .alias("discordant"),
                    F.when(m < 2, F.lit(0.0))
                     .otherwise(F.round(
                         (F.coalesce("concordant", F.lit(0))
                          - F.coalesce("discordant", F.lit(0)))
                         .cast("double") * 2
                         / (m * (m - 1)).cast("double"), 6))
                     .alias("kendall_tau"))
            .orderBy("query_id"))
