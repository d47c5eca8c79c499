"""M3 embedder: the Arrow kernel's dense and sparse views must equal the
pure-Python hash math bit for bit, normalized vectors must be
unit-length, and the backend dispatch must pick the documented path."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from production_grade_rag_spark.operators.embedding import (
    embed_text_py,
    hash_components_arrow,
    hash_embed_arrow,
)
from production_grade_rag_spark.sources import load_table

from conftest import SF001

# NULL, empty, whitespace-only, a repeated token, one token, and a
# token pair whose signs cancel in one dim-32 bucket ("beta" and
# "query" both land in bucket 16 with opposite signs)
EDGE_ROWS = [(9001, None), (9002, ""), (9003, "   \t\n  "),
             (9004, "alpha alpha beta"), (9005, "x"), (9006, "beta query")]


def _docs_with_edges(spark, n: int):
    docs = load_table(spark, SF001, "documents").limit(n) \
        .select("doc_id", F.col("text").alias("content"))
    edge = spark.createDataFrame(EDGE_ROWS, "doc_id long, content string")
    return docs.unionByName(edge)


def _components_ref(text, dim: int) -> dict[int, float]:
    """Signed token-count sum per touched bucket, straight from md5."""
    d: dict[int, float] = {}
    for tok in (text or "").strip().lower().split():
        h = hashlib.md5(tok.encode()).hexdigest()
        b = int(h[:8], 16) % dim
        d[b] = d.get(b, 0.0) + (1.0 if int(h[8], 16) % 2 == 0 else -1.0)
    return d


def _check_dense_equals_python(spark, normalize: bool) -> None:
    # bucket sums and the norm's sum of squares are exact integer
    # arithmetic in doubles, so the Arrow kernel equals the pure-Python
    # twin exactly on every document and edge row
    both = _docs_with_edges(spark, 40)
    texts = {r["doc_id"]: r["content"] for r in both.collect()}
    assert _components_ref("beta query", 32) == {16: 0.0}
    rows = (hash_embed_arrow(both, dim=32, normalize=normalize)
            .select("doc_id", "embedding", "embedding_model").collect())
    assert sorted(r["doc_id"] for r in rows) == sorted(texts)
    for r in rows:
        assert r["embedding_model"] == "hash-32"
        assert r["embedding"] == embed_text_py(
            texts[r["doc_id"]] or "", 32, normalize), \
            f"doc {r['doc_id']} differs (normalize={normalize})"


def test_hash_embed_arrow_equals_python(spark):
    _check_dense_equals_python(spark, normalize=True)


def test_hash_embed_arrow_raw_equals_python(spark):
    # unnormalized form: raw signed token-count vectors
    _check_dense_equals_python(spark, normalize=False)


def test_hash_components_arrow_equals_hashlib_fold(spark):
    # one (id, bucket, val) row per touched bucket: zero-token docs
    # emit nothing, sign-cancelled buckets keep their 0.0 row
    both = _docs_with_edges(spark, 60)
    want = {(i, b): v for i, t in both.collect()
            for b, v in _components_ref(t, 32).items()}
    got = {(r["doc_id"], r["bucket"]): r["val"] for r in
           hash_components_arrow(both, id_col="doc_id", dim=32).collect()}
    assert got == want
    assert not any(k[0] in (9001, 9002, 9003) for k in got)
    assert got[(9006, 16)] == 0.0


def test_normalized_vectors_are_unit_or_zero(spark):
    docs = load_table(spark, SF001, "documents").limit(40) \
        .select("doc_id", F.col("text").alias("content"))
    for r in hash_embed_arrow(docs, dim=32).collect():
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert math.isclose(n, 1.0, abs_tol=1e-9) or n == 0.0


def test_model_embed_fake_backend_matches_hash_math(spark):
    # the fake encoder routes the SAME iterator-UDF/singleton/batch
    # plumbing as a real model; values equal the pure-Python twin.
    from production_grade_rag_spark.operators import embedding as E
    docs = load_table(spark, SF001, "documents").limit(40) \
        .select("doc_id", F.col("text").alias("content"))
    out = E.model_embed(
        docs, model_name="fake-minilm-32", batch_size=7,
        encoder_factory=E.fake_model_factory("fake-minilm-32", dim=32))
    rows = out.select("doc_id", "embedding", "embedding_model").collect()
    texts = {r["doc_id"]: r["content"] for r in docs.collect()}
    assert len(rows) == 40
    for r in rows:
        assert r["embedding_model"] == "fake-minilm-32"
        assert len(r["embedding"]) == 32
        expect = embed_text_py(texts[r["doc_id"]] or "", 32, True)
        assert all(math.isclose(x, y, abs_tol=1e-12)
                   for x, y in zip(r["embedding"], expect))
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert n == 0.0 or math.isclose(n, 1.0, rel_tol=1e-9)


def test_embed_backend_dispatch(spark):
    from production_grade_rag_spark.operators import embedding as E
    import pytest
    docs = load_table(spark, SF001, "documents").limit(10) \
        .select("doc_id", F.col("text").alias("content"))
    h = E.embed(docs, backend="hash", dim=16)
    assert h.select("embedding_model").first()["embedding_model"] == "hash-16"
    assert not E.uses_model_backend("hash", encoder_factory=object())
    assert E.uses_model_backend("model")
    assert E.uses_model_backend("auto", encoder_factory=object())
    # auto falls back to hash when the model library is missing
    a = E.embed(docs, backend="auto", dim=16)
    if E.model_available():
        assert a.select("embedding_model").first()["embedding_model"] \
            == E.DEFAULT_MODEL
    else:
        assert a.select("embedding_model").first()["embedding_model"] \
            == "hash-16"
        with pytest.raises(ImportError):
            E.model_embed(docs)
    with pytest.raises(ValueError):
        E.embed(docs, backend="nope")


def test_model_cache_keyed_by_factory_identity(spark):
    # two model_embed calls sharing a model_name but carrying DIFFERENT
    # encoder factories (dim 16 vs dim 32 fakes) must not reuse each
    # other's per-worker singleton — the cache key includes the factory
    # identity, not just model_name.
    from production_grade_rag_spark.operators import embedding as E
    docs = load_table(spark, SF001, "documents").limit(20) \
        .select("doc_id", F.col("text").alias("content"))
    a = E.model_embed(docs, model_name="shared-name",
                      encoder_factory=E.fake_model_factory("shared-name", dim=16))
    b = E.model_embed(docs, model_name="shared-name",
                      encoder_factory=E.fake_model_factory("shared-name", dim=32))
    # run in one action so both UDFs execute in the same python workers
    joined = a.select("doc_id", F.col("embedding").alias("e16")) \
        .join(b.select("doc_id", F.col("embedding").alias("e32")), "doc_id")
    for r in joined.collect():
        assert len(r["e16"]) == 16
        assert len(r["e32"]) == 32
