"""Flagship end-to-end slice (SURVEY §7.1):

ingest -> clean (T1) -> quality score+filter (T2/T3) -> chunk (M1) ->
embed (M3) -> top-k similarity (R4/W1) -> source attribution (R1).

This is the reference's rag_pipeline + similarity strategy
(rag_pipeline.py:189-236 -> vector_search.py:37-95 ->
source_attribution.py:23-129) as ONE DataFrame DAG: Catalyst fuses the
clean/score/chunk projections into the parquet scan stage, the
embedder is one ArrowEvalPython node (no shuffle), and attribution is
an AQE-planned hash join (the reference's dict cache, distributed —
broadcast while the attrs fit, shuffled beyond).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as X
from ..operators.chunking import chunk_fixed
from ..operators.embedding import embed_text_py, hash_embed_arrow
from ..operators.similarity import knn_topk
from ..sources import load_table

FLAGSHIP_QUERY = "spark query fast table scan"


def flagship_search(spark: SparkSession, sf_dir: str, k: int = 10,
                    dim: int = 64) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = X.with_quality(docs)                               # T2
    kept = X.quality_filter(scored, 0.3)                        # T3
    chunks = chunk_fixed(kept, chunk_size=400, overlap=80)      # T1+M1+T4+W2
    emb = hash_embed_arrow(chunks, text_col="content", dim=dim)  # M3
    qv = embed_text_py(FLAGSHIP_QUERY, dim=dim)
    top = knn_topk(emb, qv, k=k, id_col="chunk_id")             # R4+T5+W1
    # R1: attribution join.  The attribution side is the full documents
    # projection — corpus-scaled, NOT a fixed dimension — and the
    # stream side is only k rows, so no forced broadcast: AQE
    # broadcasts the attrs while they fit and shuffle-joins beyond
    # (same policy as q3/s11).  quality_score is recomputed AFTER the
    # join, on the k surviving rows only — scoring is a regex-heavy
    # projection, and computing it on the attribution branch too would
    # mean a second full-corpus scoring pass (DAG branches don't share
    # subtree results without caching); post-join it costs k rows.
    attrib = docs.select("doc_id", F.col("source").alias("source_type"),
                         F.col("lang").alias("doc_lang"), "text")
    return (top.join(attrib, "doc_id", "left")
               .withColumn("quality_score",
                           X.quality_components(F.col("text"))["quality_score"])
               .select("chunk_id", "doc_id", "content",
                       F.round("score", 6).alias("score"),
                       "source_type", "doc_lang", "quality_score"))


def flagship_oracle_sql(dim: int = 64) -> str:
    """End-to-end flagship oracle: quality gate -> fixed chunking ->
    hash-embed components -> cosine top-k -> attribution, entirely in
    DuckDB SQL.  Query-side components computed here in Python with
    the same md5 bucket/sign rule the engine uses (embed_text_py);
    ``dim`` parameterizes the bucket modulus so the dim-384 flagship
    shares the oracle."""
    import hashlib
    import math

    from . import oracle_sql as O_
    from . import oracle_vec as OV_
    comps: dict[int, int] = {}
    for tok in FLAGSHIP_QUERY.strip().lower().split():
        h = hashlib.md5(tok.encode()).hexdigest()
        b = int(h[:8], 16) % dim
        comps[b] = comps.get(b, 0) + (1 if int(h[8], 16) % 2 == 0 else -1)
    comps = {b: v for b, v in comps.items() if v != 0}
    qnorm = math.sqrt(sum(v * v for v in comps.values()))
    qvals = ", ".join(f"({b}, {v})" for b, v in sorted(comps.items()))
    return f"""
WITH kept_docs AS (
  SELECT * FROM (
    SELECT doc_id, text, lang, source, n_chars,
           {O_.quality_sql('text')} AS __q
    FROM documents
  ) WHERE __q IS NULL OR __q >= 0.3
), chunks AS (
  SELECT * FROM ({O_.chunk_fixed_sql(400, 80, src="kept_docs")})
), toks AS (
  SELECT chunk_id, unnest({OV_.tokens_sql('content')}) AS tok FROM chunks
), comps AS (
  SELECT chunk_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {dim} AS bucket,
         sum(CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END) AS val
  FROM toks GROUP BY 1, 2
), q(bucket, qval) AS (VALUES {qvals}),
dots AS (
  SELECT c.chunk_id, sum(c.val * q.qval) AS dot
  FROM comps c JOIN q USING (bucket) GROUP BY 1
), norms AS (
  SELECT chunk_id, sqrt(sum(val * val)) AS nrm FROM comps GROUP BY 1
), scored AS (
  SELECT ch.chunk_id, ch.doc_id, ch.content,
         CASE WHEN n.nrm IS NULL OR n.nrm = 0 THEN 0.0::DOUBLE
              ELSE coalesce(d.dot, 0) / (n.nrm * {qnorm!r}) END AS score
  FROM chunks ch
  LEFT JOIN norms n USING (chunk_id)
  LEFT JOIN dots d USING (chunk_id)
), topk AS (
  SELECT * FROM scored ORDER BY score DESC, chunk_id LIMIT 10
)
SELECT t.chunk_id, t.doc_id, t.content, round(t.score, 6) AS score,
       doc.source AS source_type, doc.lang AS doc_lang,
       round(doc.__q, 6) AS quality_score
FROM topk t LEFT JOIN kept_docs doc USING (doc_id)
"""


