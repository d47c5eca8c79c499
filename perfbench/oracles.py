"""Correctness checks, run after the timed region.

- catalog: every entry's Spark rows against its DuckDB oracle, with the
  comparison of scripts/driver_check.py (``norm``); every
  timed count against the oracle's row count;
- ingest: the written index against the repo's chunking oracle SQL
  (``chunk_fixed_sql``) plus the pure-Python twin of the hash embedder,
  and the written pairs against ``minhash_pairs_sql``;
- search: semantic top-k against an exact numpy cosine top-k; hybrid and
  multi-strategy results against DuckDB SQL in the style of the
  catalog's engine oracles, fed the same exact vector scores.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SCORE_TOL = 1e-9


def _check_norm():
    spec = importlib.util.spec_from_file_location(
        "driver_check", os.path.join(ROOT, "scripts", "driver_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def catalog_check(data: str, catalog, results: dict,
                  counts: dict[str, list[int]]) -> dict[str, str]:
    """Entries whose collected result (``results``, pandas) or any of
    whose counts differ from the oracle, with the reason."""
    norm = _check_norm()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data}/{t}.parquet'")
    bad = {}
    for name, seen in counts.items():
        want = norm(con.execute(catalog[name].oracle_text()).df())
        if name not in results:
            bad[name] = "no result collected"
            continue
        got = norm(results[name])
        if got != want:
            bad[name] = (f"rows differ from the oracle "
                         f"({len(got[1])} vs {len(want[1])} rows)")
        elif any(n != len(want[1]) for n in seen):
            bad[name] = (f"counts {sorted(set(seen))} vs oracle "
                         f"{len(want[1])}")
    con.close()
    return bad


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def parquet_rows(*paths: str) -> tuple[int, ...]:
    return tuple(ds.dataset(p, format="parquet").count_rows() for p in paths)


def ingest_check(index_dir: str, corpus: str, cfg: dict,
                 pairs_dir: str | None = None) -> tuple[bool, dict]:
    """The written index against the chunking oracle and the
    pure-Python embedder, and, given ``pairs_dir``, the written pairs
    against the MinHash oracle."""
    from production_grade_rag_spark.config import EngineConfig
    from production_grade_rag_spark.operators.embedding import embed_text_py
    from production_grade_rag_spark.plans import oracle_sql, oracle_vec
    norm = _check_norm()
    c = EngineConfig(**cfg)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{corpus}/documents.parquet'")
    # quality_threshold 0 keeps every document, so the chunk oracle
    # runs over the whole corpus
    want = con.execute(oracle_sql.chunk_fixed_sql(
        c.chunk_size, c.chunk_overlap, c.min_chunk_chars)).df()
    index = ds.dataset(index_dir, format="parquet").to_table().to_pandas()
    detail = {"chunks": len(index)}
    ok = norm(index[list(want.columns)]) == norm(want)
    detail["chunks_match"] = ok
    worst = 0.0
    for text, vec in zip(index["content"], index["embedding"]):
        ref = np.asarray(embed_text_py(text, c.embedding_dim,
                                       c.normalize_embeddings))
        worst = max(worst, float(np.max(np.abs(np.asarray(vec) - ref))))
    detail["embedding_max_abs_err"] = worst
    ok = ok and worst <= SCORE_TOL
    if pairs_dir is not None:
        want_pairs = con.execute(oracle_vec.minhash_pairs_sql()).df()
        pairs = ds.dataset(pairs_dir, format="parquet").to_table().to_pandas()
        detail["pairs"] = len(pairs)
        detail["pairs_match"] = norm(pairs) == norm(want_pairs)
        ok = ok and detail["pairs_match"]
    con.close()
    return ok, detail


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

def _cosines(emb: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine with the engine's fold order: sequential left-to-right
    double sums (functions.vector.dot), so values match bit for bit."""
    dot = np.zeros(len(emb))
    nn = np.zeros(len(emb))
    qq = 0.0
    for j in range(emb.shape[1]):
        dot = dot + emb[:, j] * q[j]
        nn = nn + emb[:, j] * emb[:, j]
        qq = qq + q[j] * q[j]
    return dot / (np.sqrt(nn) * np.sqrt(qq))


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[int]:
    order = np.lexsort((ids, -scores))
    return list(order[:k])


def _same(got: list[tuple[str, float]], want: list[tuple[str, float]]
          ) -> str | None:
    """None when the ranked (id, score) lists agree: ids in order, and
    scores within SCORE_TOL (two engines may fold a fused score's sum
    in another order)."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for (gi, gs), (wi, ws) in zip(got, want):
        if gi != wi or abs(gs - ws) > SCORE_TOL:
            return f"row ({gi}, {gs}) vs oracle ({wi}, {ws})"
    return None


def _hybrid_sql(terms: list[str], k: int, vw: float, tw: float) -> str:
    from production_grade_rag_spark.plans.oracle_vec import bm25_sql
    cte, score = bm25_sql(terms)
    return f"""
WITH {cte},
vec AS (
  SELECT id, vector_score, NULL::DOUBLE AS text_score FROM vs
  ORDER BY vector_score DESC, id LIMIT {2 * k}
), txt AS (
  SELECT doc_id AS id, NULL::DOUBLE AS vector_score, {score} AS text_score
  FROM tf, stats
  ORDER BY text_score DESC, id LIMIT {2 * k}
), merged AS (
  SELECT id, max(vector_score) AS vector_score, max(text_score) AS text_score
  FROM (SELECT * FROM vec UNION ALL SELECT * FROM txt) GROUP BY id
)
SELECT id, {vw!r} * coalesce(vector_score, 0)
           + {tw!r} * coalesce(text_score, 0) AS score
FROM merged ORDER BY score DESC, id LIMIT {k}
"""


def _multi_sql(strategies: list[str], k: int, c) -> str:
    """multi_strategy_search over a flat index: per-strategy retrieval
    ladders, weighted-mean fusion, then greedy Jaccard diversity as a
    bitmask walk (the catalog's _eng_multi_oracle pattern), then top-k."""
    from production_grade_rag_spark.plans.oracle_vec import tokens_sql
    w = c.strategy_weights
    branches = []
    if "similarity" in strategies:
        m = c.strategy_max_results.get("similarity", 15)
        branches.append(f"""
  SELECT * FROM (SELECT id, score, 'similarity' AS strategy FROM (
    SELECT id, vector_score AS score FROM vs
    ORDER BY score DESC, id LIMIT {m})
  WHERE score >= {c.similarity_threshold!r}
  ORDER BY score DESC, id LIMIT {k})""")
    if "parent_child" in strategies:
        m = c.strategy_max_results.get("parent_child", 8)
        branches.append(f"""
  SELECT * FROM (SELECT id, score, 'parent_child' AS strategy FROM (
    SELECT * FROM (SELECT id, vector_score AS score FROM vs
                   ORDER BY score DESC, id LIMIT {2 * m})
    WHERE score >= {c.parent_child_search_threshold!r}
    ORDER BY score DESC, id LIMIT {m})
  WHERE score >= {c.parent_child_threshold!r}
  ORDER BY score DESC, id LIMIT {k})""")
    weight = " ".join(f"WHEN '{s}' THEN {v!r}" for s, v in w.items())
    toks = tokens_sql("content")
    cut = c.diversity_jaccard_cutoff
    return f"""
WITH RECURSIVE unioned AS ({" UNION ALL ".join(branches)}
), fused AS (
  SELECT u.id, sum(u.score * CASE u.strategy {weight} ELSE 0.5 END)
               / sum(CASE u.strategy {weight} ELSE 0.5 END) AS score
  FROM unioned u GROUP BY u.id
), cand AS (
  SELECT f.id, f.score, x.content, list_distinct({toks}) AS toks,
         row_number() OVER (ORDER BY f.score DESC, x.content, f.id) AS rn
  FROM fused f JOIN idx x ON x.chunk_id = f.id
), pairj AS (
  SELECT a.rn AS rn_a, b.rn AS rn_b,
         CASE WHEN len(a.toks) = 0 AND len(b.toks) = 0 THEN 1.0
              WHEN len(a.toks) = 0 OR len(b.toks) = 0 THEN 0.0
              ELSE len(list_intersect(a.toks, b.toks))::DOUBLE
                   / len(list_distinct(a.toks || b.toks)) END AS j
  FROM cand a JOIN cand b ON a.rn < b.rn
), viol AS (
  SELECT rn_b, sum(1::BIGINT << rn_a)::BIGINT AS vmask
  FROM pairj WHERE j > {cut!r} GROUP BY rn_b
), walk AS (
  SELECT 0::BIGINT AS rn, 0::BIGINT AS mask
  UNION ALL
  SELECT c.rn,
         w.mask | (CASE WHEN (w.mask & coalesce(v.vmask, 0::BIGINT)) = 0
                        THEN (1::BIGINT << c.rn) ELSE 0::BIGINT END)
  FROM walk w JOIN cand c ON c.rn = w.rn + 1
  LEFT JOIN viol v ON v.rn_b = c.rn
)
SELECT c.id, c.score
FROM cand c, (SELECT mask FROM walk ORDER BY rn DESC LIMIT 1) m
WHERE (SELECT count(*) FROM cand) <= 3 OR ((m.mask >> c.rn) & 1) = 1
ORDER BY c.score DESC, c.id LIMIT {k}
"""


def search_check(index_path: str, texts: list[str], answers: dict,
                 cfg: dict) -> dict:
    """{(kind, query): reason} for every answer the oracle rejects."""
    from production_grade_rag_spark.config import EngineConfig
    from production_grade_rag_spark.engine import (query_intent,
                                                   select_strategies)
    from production_grade_rag_spark.operators.embedding import embed_text_py
    c = EngineConfig(**cfg)
    k = min(c.default_k, c.max_k)
    table = pq.read_table(index_path, columns=["chunk_id", "content",
                                               "embedding"])
    ids = np.asarray(table.column("chunk_id").to_pylist())
    emb = np.asarray(table.column("embedding").to_pylist(), dtype=np.float64)
    con = duckdb.connect()
    con.register("idx", table.select(["chunk_id", "content"]))
    con.execute("CREATE VIEW documents AS "
                "SELECT chunk_id AS doc_id, content AS text FROM idx")
    bad = {}
    for (kind, qi), rows in answers.items():
        text = texts[qi]
        q = np.asarray(embed_text_py(text, c.embedding_dim,
                                     c.normalize_embeddings))
        scores = _cosines(emb, q)
        got = [(r["chunk_id"], r["score"]) for r in rows]
        if kind == "semantic":
            want = [(ids[i], scores[i]) for i in _topk(ids, scores, k)]
        else:
            con.register("vs", pa.table({"id": ids, "vector_score": scores}))
            if kind == "hybrid":
                terms = [t for t in text.lower().split() if t]
                sql = _hybrid_sql(terms, k, c.hybrid_vector_weight,
                                  c.hybrid_text_weight)
            else:
                sql = _multi_sql(select_strategies(query_intent(text), c),
                                 k, c)
            want = [tuple(r) for r in con.execute(sql).fetchall()]
            con.unregister("vs")
        why = _same(got, want)
        if why:
            bad[(kind, qi)] = why
    con.close()
    return bad
