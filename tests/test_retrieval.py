"""Retrieval domain (plans/retrieval.py): which entries it owns, and
the properties of its helpers that the oracles cannot see — plan
shapes, the fixed IR eval cap, and the factored query cosine."""

from __future__ import annotations

import re

from production_grade_rag_spark.plans.catalog import CATALOG

from conftest import SF001

RETRIEVAL_NAME = re.compile(r"(r\d|eng_|ir\d*_|flagship_)")


def test_retrieval_owns_its_names_and_only_those():
    owner = {name: spec.build.__module__.rsplit(".", 1)[-1]
             for name, spec in CATALOG.items()}
    mine = {n for n, m in owner.items() if m == "retrieval"}
    named = {n for n in owner if RETRIEVAL_NAME.match(n)}
    assert mine == named
    assert len(mine) == 68


def test_bitext_ivf_no_full_cross_between_sides(spark):
    # candidate generation joins the two sides on the cell key; the
    # only nested-loop joins are against the broadcast 8-row centroid
    # frames — a cartesian between the A/B sides would be the exact
    # all-pairs plan sneaking back in
    from production_grade_rag_spark.plans.retrieval import \
        _bitext_ivf_frame
    plan = (_bitext_ivf_frame(spark, SF001)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_ir_fixed_eval_cap(spark):
    from production_grade_rag_spark.plans.retrieval import _ir_per_query
    n = _ir_per_query(spark, SF001, max_queries=3).count()
    assert n == 3
    # and the capped run agrees with the uncapped one on those queries
    full = {r["query_id"]: r["ndcg_10"]
            for r in _ir_per_query(spark, SF001).collect()}
    capped = _ir_per_query(spark, SF001, max_queries=3).collect()
    assert all(full[r["query_id"]] == r["ndcg_10"] for r in capped)


# The factored query cosine (materialized cast, driver-side query norm)
# is BIT-identical to the inline cosine(to_double_array(embedding), qvec)
# it replaced — every corpus row, packed-double comparison.

def test_with_cosine_q_bit_identical(spark):
    import struct

    from pyspark.sql import functions as F

    from production_grade_rag_spark.functions.vector import (cosine,
                                                             to_double_array)
    from production_grade_rag_spark.plans import catalog  # noqa: F401
    from production_grade_rag_spark.plans.retrieval import (_qvec_col,
                                                            with_cosine_q)
    from production_grade_rag_spark.sources import load_table

    emb = load_table(spark, SF001, "embeddings")
    old = emb.select("vec_id", cosine(to_double_array(F.col("embedding")),
                                      _qvec_col()).alias("s")) \
             .orderBy("vec_id").collect()
    new = with_cosine_q(emb).select("vec_id", F.col("__cos_q").alias("s")) \
                            .orderBy("vec_id").collect()
    assert len(old) == len(new) > 0
    for a, b in zip(old, new):
        assert a["vec_id"] == b["vec_id"]
        assert struct.pack("<d", a["s"]) == struct.pack("<d", b["s"])
