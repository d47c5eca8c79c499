"""Embedding generation (SURVEY §2.8 M3).

The reference embeds with sentence-transformers (document_processor.py:
125-150).  That library is an optional dependency and its model is
nondeterministic across platforms, so the engine ships two backends
behind one API (``embed``):

- the deterministic feature-hash embedder, one Arrow-batched pandas
  UDF (one ArrowEvalPython node, no shuffle, no join) in two views:
  ``hash_embed_arrow`` (dense vectors) and ``hash_components_arrow``
  (sparse (id, bucket, val) rows, the oracle-checkable form);
- ``model_embed``: the per-executor model singleton (sentence-
  transformers, or any encoder factory) behind the same UDF shape.

``embed_text_py`` is the pure-Python reference of the hash math: the
query-side encoder and the twin every Spark result is pinned against.

Token hashing: bucket = int(md5(token)[:8], 16) % dim, sign from the
9th hex nibble — md5 because Spark, DuckDB, and Python all agree on it.
Tokens are ``text.strip().lower().split()``; NULL embeds as "".
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import explode_attr


# --------------------------------------------------------------------------
# Feature-hash embedder.
#
# The hash math runs per ROW in a batched pandas UDF: one C-speed md5
# per DISTINCT token (process-level memo), zero shuffles, zero joins.
# Values are bit-identical to ``embed_text_py``:
# - bucket sums accumulate ±1.0 in doubles, exact integers (< 2^53);
# - the norm is sqrt over a sum of exact integer squares — exact in
#   any order, and IEEE sqrt/division match everywhere;
# pinned by tests/test_embedding.py.
# --------------------------------------------------------------------------

# process-level token -> (md5-high-32, sign) memo: tokens are Zipfian,
# so the md5 work collapses to one call per distinct token per worker.
# Bounded so a 100 TB vocabulary cannot grow a worker's RSS unbounded
# (guide §5): past the cap, misses just recompute.
_TOK_HS: dict[str, tuple[int, float]] = {}
_TOK_HS_CAP = 1 << 20


def _tok_hs(tok: str) -> tuple[int, float]:
    c = _TOK_HS.get(tok)
    if c is None:
        h = hashlib.md5(tok.encode()).hexdigest()
        c = (int(h[:8], 16), 1.0 if int(h[8], 16) % 2 == 0 else -1.0)
        if len(_TOK_HS) < _TOK_HS_CAP:
            _TOK_HS[tok] = c
    return c


def _fold(text, dim: int) -> dict[int, float]:
    """Signed token-count sum per touched bucket of one text, in
    first-touch order (a bucket whose signs cancel keeps its 0.0)."""
    d: dict[int, float] = {}
    for tok in ("" if text is None else str(text)).strip().lower().split():
        h32, sign = _tok_hs(tok)
        b = h32 % dim
        d[b] = d.get(b, 0.0) + sign
    return d


def _embed_batch(texts: list, dim: int, normalize: bool) -> list[list[float]]:
    """Batched ``embed_text_py``: one list of dense vectors per Arrow
    batch."""
    out = []
    for t in texts:
        vec = [0.0] * dim
        for b, v in _fold(t, dim).items():
            vec[b] = v
        if normalize:
            n = sum(x * x for x in vec) ** 0.5
            if n > 0:
                vec = [x / n for x in vec]
        out.append(vec)
    return out


def hash_embed_arrow(df: DataFrame, text_col: str = "content",
                     dim: int = 64, normalize: bool = True,
                     out_col: str = "embedding") -> DataFrame:
    """Dense feature-hash embedding via one ArrowEvalPython node: every
    input row keeps its place and gains ``out_col`` (``dim`` doubles,
    L2-normalized unless ``normalize=False``; zero-token rows get the
    zero vector) plus ``embedding_model`` = ``hash-{dim}``."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield pd.Series(_embed_batch(texts.tolist(), dim, normalize))

    return (df.withColumn(out_col, embed_udf(F.col(text_col)))
              .withColumn("embedding_model", F.lit(f"hash-{dim}")))


def _components_batch(texts: list, dim: int) -> list[list[dict]]:
    return [[{"bucket": b, "val": v} for b, v in _fold(t, dim).items()]
            for t in texts]


def hash_components_arrow(df: DataFrame, text_col: str = "content",
                          id_col: str = "chunk_id",
                          dim: int = 64) -> DataFrame:
    """Sparse components of the feature-hash embedding: one
    (id, bucket, val) row per bucket a document's tokens touch, val the
    signed token-count sum (the pre-normalization vector; a bucket
    whose signs cancel keeps its 0.0 row, zero-token docs emit no
    rows).  Each doc's components are folded in the Python worker and
    only the small per-doc component set is exploded — no per-token
    rows, no (id, bucket) shuffle."""

    @F.pandas_udf(T.ArrayType(T.StructType([
        T.StructField("bucket", T.LongType()),
        T.StructField("val", T.DoubleType())])))
    def comp_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield pd.Series(_components_batch(texts.tolist(), dim))

    return (df.select(F.col(id_col), comp_udf(F.col(text_col)).alias("__c"))
              .select(F.col(id_col),
                      explode_attr(F.col("__c"),
                                   "struct<bucket:bigint,val:double>")
                      .alias("__e"))
              .select(F.col(id_col), F.col("__e.bucket").alias("bucket"),
                      F.col("__e.val").alias("val")))


def embed_text_py(text: str, dim: int = 64, normalize: bool = True) -> list[float]:
    """Pure-Python twin of ``hash_embed_arrow`` (for query vectors + tests)."""
    vec = [0.0] * dim
    toks = text.strip().lower().split()
    for tok in toks:
        h = hashlib.md5(tok.encode()).hexdigest()
        vec[int(h[:8], 16) % dim] += 1.0 if int(h[8], 16) % 2 == 0 else -1.0
    if normalize:
        n = sum(x * x for x in vec) ** 0.5
        if n > 0:
            vec = [x / n for x in vec]
    return vec


# ===========================================================================
# M3 model-backed backend (reference document_processor.py:125-150)
# ===========================================================================

# per-process encoder singletons: one python worker process per executor
# core holds at most one loaded model per cache key, loaded lazily on
# the first Arrow batch it sees (the reference's EmbeddingGenerator
# .initialize() lazy-load, document_processor.py:130-135).  The key is
# (model_name, factory identity) — NOT model_name alone — so two
# model_embed calls with the same model_name but different factories
# (e.g. fake vs real in one long-lived worker) never reuse each other's
# encoder.  Factories advertise identity via a ``cache_key`` attribute.
_MODEL_CACHE: dict = {}

DEFAULT_MODEL = "sentence-transformers/all-MiniLM-L6-v2"  # settings.py:44
DEFAULT_BATCH = 32                                        # rag_config.yaml:26


def model_available() -> bool:
    """True when the sentence-transformers library is importable."""
    try:
        import sentence_transformers  # noqa: F401
        return True
    except ImportError:
        return False


def sentence_transformer_factory(model_name: str):
    """Factory returning an ``encode(texts, normalize) -> list[list
    [float]]`` closure over a real SentenceTransformer.  Import happens
    inside the returned loader, ON THE EXECUTOR, so the driver never
    needs the library to build the plan."""

    def load():
        from sentence_transformers import SentenceTransformer
        model = SentenceTransformer(model_name)

        def encode(texts: list[str], normalize: bool):
            out = model.encode(texts, convert_to_numpy=True,
                               show_progress_bar=False,
                               normalize_embeddings=normalize)
            return out.tolist()

        return encode

    load.cache_key = f"st:{model_name}"
    return load


def fake_model_factory(model_name: str, dim: int = 64):
    """Deterministic stand-in encoder for environments without the
    model library: SAME plumbing (iterator UDF, per-executor singleton,
    batch slicing), hash-math values — so the Spark side of the model
    path is fully exercised and reproducible."""

    def load():
        def encode(texts: list[str], normalize: bool):
            return [embed_text_py(t, dim, normalize) for t in texts]

        return encode

    load.cache_key = f"fake:{model_name}:{dim}"
    return load


def _default_factory(model_name: str, encoder_factory):
    """Resolve the encoder factory: explicit one wins; otherwise the
    real sentence-transformers loader (raising early when the library
    is absent so the failure happens driver-side, not mid-job)."""
    if encoder_factory is not None:
        return encoder_factory
    if not model_available():
        raise ImportError(
            "sentence-transformers is not installed; use "
            "embed(df, backend='auto') for the hash fallback or "
            "pass encoder_factory=fake_model_factory(...)")
    return sentence_transformer_factory(model_name)


def _factory_key(model_name: str, encoder_factory) -> tuple:
    return (model_name,
            getattr(encoder_factory, "cache_key",
                    getattr(encoder_factory, "__qualname__",
                            repr(encoder_factory))))


def encode_query(text: str, model_name: str = DEFAULT_MODEL,
                 normalize: bool = True, encoder_factory=None) -> list[float]:
    """Query-side twin of ``model_embed`` — encode ONE string
    driver-side with the SAME factory/cache machinery, so a model-built
    index can be searched end-to-end (the reference encodes queries
    with the same model as chunks, advanced_search.py:320-324).

    The driver process keeps its own ``_MODEL_CACHE`` singleton per
    (model_name, factory identity), exactly like each executor worker:
    the model loads once per driver lifetime, then every query is a
    single in-process ``encode`` call — no Spark job."""
    encoder_factory = _default_factory(model_name, encoder_factory)
    key = _factory_key(model_name, encoder_factory)
    enc = _MODEL_CACHE.get(key)
    if enc is None:
        enc = _MODEL_CACHE.setdefault(key, encoder_factory())
    return [float(x) for x in enc(["" if text is None else str(text)],
                                  normalize)[0]]


def model_embed(df: DataFrame, text_col: str = "content",
                model_name: str = DEFAULT_MODEL,
                batch_size: int = DEFAULT_BATCH, normalize: bool = True,
                out_col: str = "embedding",
                encoder_factory=None) -> DataFrame:
    """M3: model-backed embedding generation
    (document_processor.py:125-150; batch size rag_config.yaml:26).

    Iterator-form Arrow pandas UDF: the encoder loads ONCE per python
    worker (lazy singleton keyed by model_name) and then streams Arrow
    batches through ``encode`` in ``batch_size`` slices — the
    distributed twin of the reference's initialize-once-then-batch
    loop.  ``encoder_factory`` defaults to the real
    sentence-transformers loader; pass ``fake_model_factory(...)`` for
    a deterministic library-free run.

    100 TB notes: model load cost amortizes over a whole worker
    lifetime, Arrow transfers are zero-copy columnar, and nothing
    touches the driver; partitioning is inherited from the input (text
    rows are narrow — repartition upstream if the source was few large
    files).
    """
    encoder_factory = _default_factory(model_name, encoder_factory)
    # resolved driver-side, closed over by the UDF: custom factories
    # without a cache_key fall back to (model_name, qualname) which
    # still separates fake from real.
    cache_key = _factory_key(model_name, encoder_factory)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        enc = _MODEL_CACHE.get(cache_key)
        if enc is None:
            enc = _MODEL_CACHE.setdefault(cache_key, encoder_factory())
        for texts in batches:
            clean = ["" if t is None else str(t) for t in texts]
            vals: list[list[float]] = []
            for i in range(0, len(clean), batch_size):
                vals.extend([list(map(float, v)) for v in
                             enc(clean[i:i + batch_size], normalize)])
            yield pd.Series(vals)

    return (df.withColumn(out_col, embed_udf(F.col(text_col)))
              .withColumn("embedding_model", F.lit(model_name)))


def uses_model_backend(backend: str, encoder_factory=None) -> bool:
    """True when ``embed`` takes the model path: ``"model"``, or
    ``"auto"`` with the model library importable or an explicit
    ``encoder_factory``."""
    return backend == "model" or (backend == "auto" and
                                  (model_available()
                                   or encoder_factory is not None))


def embed(df: DataFrame, backend: str = "auto", text_col: str = "content",
          dim: int = 64, normalize: bool = True,
          out_col: str = "embedding", model_name: str = DEFAULT_MODEL,
          batch_size: int = DEFAULT_BATCH, encoder_factory=None) -> DataFrame:
    """Backend dispatch for M3:

    - ``"hash"``  : deterministic feature-hash embedder
      (``hash_embed_arrow``).
    - ``"model"`` : sentence-transformers, or whatever
      ``encoder_factory`` supplies (raises if neither is available).
    - ``"auto"``  : model when the library is importable OR an explicit
      ``encoder_factory`` is given (``uses_model_backend``), else the
      documented hash fallback — the container-safe default.
    """
    if uses_model_backend(backend, encoder_factory):
        return model_embed(df, text_col=text_col, model_name=model_name,
                           batch_size=batch_size, normalize=normalize,
                           out_col=out_col,
                           encoder_factory=encoder_factory)
    if backend in ("hash", "auto"):
        return hash_embed_arrow(df, text_col=text_col, dim=dim,
                                normalize=normalize, out_col=out_col)
    raise ValueError(f"unknown embedding backend {backend!r}")
