"""Inputs of the benchmark.

The benchmark carries byte copies of the engine's test tables under
``data/`` (``data/MD5SUMS`` lists them): the ten tables at scale 0.01
that the catalog reads, and the scale-0.1 ``documents`` table the
engine corpus is made from.  Everything else is made here from
``seed``, so the same seed gives byte-identical inputs on any host:

- ``synthesize``: documents as ``replicas`` md5-keyed word permutations
  of the test documents.  Within a replica every token sorts by
  md5(token#seed#replica), so copies share their token multiset (and
  with it quality and token statistics) but not their shingles;
- ``search_requests``: query texts drawn from the corpus vocabulary and
  a request sequence with a fixed mix of request kinds per block.

Only numpy and pyarrow are used; no Spark session is needed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CATALOG_TABLES = os.path.join(DATA, "sf0.01")
DOCUMENTS = os.path.join(DATA, "sf0.1", "documents.parquet")
REPLICA_STRIDE = 10_000_000     # doc_id offset per replica


def verify_data() -> list[str]:
    """Files under ``data/`` whose md5 differs from ``data/MD5SUMS``."""
    bad = []
    with open(os.path.join(DATA, "MD5SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as f:
                if hashlib.md5(f.read()).hexdigest() != digest:
                    bad.append(name)
    return bad


def _rng(seed: int, stream: str) -> np.random.Generator:
    key = hashlib.md5(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def synthesize(seed: int, out_dir: str, replicas: list[int],
               n_docs: int | None = None) -> list[str]:
    """Write ``<out_dir>/documents.parquet``: for each replica number in
    ``replicas``, the first ``n_docs`` test documents (all when None)
    with their words permuted by md5(token#seed#replica) and
    ``doc_id`` offset by replica.  Returns the texts written."""
    base = pq.read_table(DOCUMENTS)
    if n_docs is not None:
        base = base.slice(0, n_docs)
    cols = base.to_pydict()
    out: dict[str, list] = {k: [] for k in cols}
    for rep in replicas:
        for i, text in enumerate(cols["text"]):
            toks = text.split()
            key = {t: hashlib.md5(f"{t}#{seed}#{rep}".encode()).hexdigest()
                   for t in set(toks)}
            permuted = " ".join(sorted(toks, key=key.__getitem__))
            for k in cols:
                out[k].append(cols[k][i])
            out["doc_id"][-1] += rep * REPLICA_STRIDE
            out["text"][-1] = permuted
            out["n_chars"][-1] = len(permuted)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(out, schema=base.schema),
                   os.path.join(out_dir, "documents.parquet"))
    return out["text"]


def search_requests(seed: int, docs: list[str], n_queries: int,
                    n_blocks: int, mix: dict[str, int], words: int
                    ) -> tuple[list[str], list[list[tuple[str, int]]]]:
    """A pool of ``n_queries`` query texts and ``n_blocks`` request
    blocks.  A query is a window of ``words`` words of a seeded corpus
    document, so it speaks the index vocabulary and has relevant
    chunks.  Every block holds exactly ``mix[kind]`` requests of each
    kind in a seeded order, each naming a query of the pool by index."""
    rng = _rng(seed, "search")
    texts = []
    for _ in range(n_queries):
        toks = docs[int(rng.integers(0, len(docs)))].split()
        w = min(words, len(toks))
        start = int(rng.integers(0, len(toks) - w + 1))
        texts.append(" ".join(toks[start:start + w]))
    kinds = [k for k, n in mix.items() for _ in range(n)]
    blocks = []
    for _ in range(n_blocks):
        order = rng.permutation(len(kinds))
        blocks.append([(kinds[i], int(rng.integers(0, n_queries)))
                       for i in order])
    return texts, blocks
