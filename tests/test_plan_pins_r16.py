"""Plan-shape pins for the r15/r16 evaluate-once barrier idioms
(VERDICT r15 "what's wrong" #2 / "next round" #6).

``nd_pin``, ``bind1`` and ``explode_attr`` are value-identity wrappers
whose PERFORMANCE depends on verified-against-4.1.2 Catalyst behaviors
(nondeterministic project fields block predicate-pushdown substitution;
InferFiltersFromGenerate skips non-cheap generator children; lambda
variables are opaque to substitution).  A Spark upgrade could silently
reintroduce the measured 2x-18x duplicate-evaluation regressions with
every correctness test still green — these pins make that upgrade fail
loudly by asserting the SHAPES the idioms exist to produce:

- no Filter condition anywhere in the plan carries the expensive
  defining trees (regex clean chains, tokenizers, set expressions) —
  the filters must read attribute slots;
- the parquet scans' PushedFilters never contain a regex tree;
- the bind1 sites keep the tokenize subtree to a handful of
  occurrences instead of ~40 per row.

Plus the Arrow-embedder shape: the flagship, m3 and engine index
paths embed in one ArrowEvalPython node, with no interpreted md5
chain.
"""

from __future__ import annotations

import re

from production_grade_rag_spark.plans.catalog import CATALOG  # noqa: F401
# ^ full catalog registration first: plan modules resolve cross-module
#   oracles at import time, so importing one module in isolation fails
from production_grade_rag_spark.sources import load_table

from conftest import SF001


def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _filter_conditions(plan: str) -> list[str]:
    """The Condition line of every Filter block in a formatted plan
    (covers both 'Filter [codegen id : n]' and plain 'Filter')."""
    conds = []
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        head = b.split("\n", 1)[0]
        if head.startswith("Filter"):
            m = re.search(r"Condition : (.+)", b)
            if m:
                conds.append(m.group(1))
    return conds


def _pushed_filters(plan: str) -> list[str]:
    return re.findall(r"PushedFilters: \[(.*?)\]", plan)


def test_gate_filters_read_slots_not_trees(spark):
    # cc_gate_keyed: the quality/language gate filter must read the
    # nd_pin'd projection slots; if pushdown re-substitutes the
    # defining trees, a Filter condition (or a scan's PushedFilters)
    # carries the tokenizer/clean regexes again — the cc_curate 2.25x
    # regression shape.
    from production_grade_rag_spark.plans.catalog_r6 import cc_gate_keyed
    docs = load_table(spark, SF001, "documents")
    plan = _fmt_plan(cc_gate_keyed(docs))
    assert "SPARK_PARTITION_ID" in plan, "nd_pin was optimized away"
    for cond in _filter_conditions(plan):
        assert "regexp_extract_all" not in cond, \
            f"gate filter re-evaluates the tokenizer: {cond[:200]}"
        assert "regexp_replace" not in cond, \
            f"gate filter re-evaluates the clean chain: {cond[:200]}"
    for pf in _pushed_filters(plan):
        assert "regexp" not in pf


def test_gate_tokenize_tree_evaluated_once_bind1(spark):
    # bind1: the language-ID argmax evaluates its tokenize subtree
    # once per row.  Without the lambda barrier the subtree lexically
    # re-inlines into every per-language score + argmax comparison
    # (~40 occurrences); with it the plan carries a handful.
    from production_grade_rag_spark.plans.catalog_r6 import cc_gate_keyed
    docs = load_table(spark, SF001, "documents")
    plan = _fmt_plan(cc_gate_keyed(docs))
    n = plan.count("regexp_extract_all")
    assert n <= 8, f"tokenize subtree appears {n}x — bind1 stopped binding"


def test_chunk_fixed_no_scan_side_clean_chain(spark):
    # chunk_fixed: the min-length filter on the nd_pin'd stripped
    # content must not push the 8-regex clean chain to the scan, and
    # the projected index array's explode (explode_attr) must not grow
    # an inferred filter carrying it either.
    from production_grade_rag_spark.operators.chunking import chunk_fixed
    docs = load_table(spark, SF001, "documents")
    plan = _fmt_plan(chunk_fixed(docs, chunk_size=400, overlap=80))
    for cond in _filter_conditions(plan):
        assert "regexp_replace" not in cond, \
            f"clean chain re-evaluated in a Filter: {cond[:200]}"
    for pf in _pushed_filters(plan):
        assert "regexp" not in pf


def test_shingle_explode_no_inferred_regex_filter(spark):
    # explode_attr: the generator's inferred non-empty filter must
    # never re-substitute the token-split + shingle-assembly tree
    # (the committed a30_kmv_ndv 2.3s -> 11s mid-plan trap).
    from production_grade_rag_spark.operators.dedup import shingle_explode
    docs = load_table(spark, SF001, "documents")
    plan = _fmt_plan(shingle_explode(docs, extra_cols=("doc_id",)))
    for cond in _filter_conditions(plan):
        assert "regexp_extract_all" not in cond, \
            f"inferred generator filter carries the tokenizer: {cond[:200]}"


def test_jaccard_verify_filter_reads_slot(spark):
    # jaccard_verify: the >= threshold filter reads the nd_pin'd
    # intersect-size slot; no Filter may re-evaluate the set
    # expression, and the union array is never built.
    from production_grade_rag_spark.operators.dedup import ngram_jaccard_pairs
    docs = load_table(spark, SF001, "documents").limit(50)
    plan = _fmt_plan(ngram_jaccard_pairs(docs, threshold=0.5))
    assert "array_union" not in plan, "union array reappeared"
    for cond in _filter_conditions(plan):
        assert "array_intersect" not in cond, \
            f"verify filter re-evaluates the intersection: {cond[:200]}"


def test_flagship_embeds_via_arrow_not_interpreted_hofs(spark):
    # r16: the flagship's dense embedder is one ArrowEvalPython node;
    # the md5-per-token interpreted chain and its (id, bucket) shuffle
    # are gone from the flagship plan.
    from production_grade_rag_spark.plans.flagship import flagship_search
    plan = _fmt_plan(flagship_search(spark, SF001, k=10, dim=64))
    assert "ArrowEvalPython" in plan
    # the chunk-id md5 remains; the per-token bucket chain
    # (conv(substring(md5(...)))) must be gone
    assert "conv(substring(md5" not in plan, \
        "interpreted per-token md5 bucket chain back in the plan"


def test_audit_corr_moments_survive_bigint_overflow(spark):
    # r16: the 10x stress tier crashed cc_release_audit with
    # [ARITHMETIC_OVERFLOW] in audit_risk_corr — cn * csxx passes 2^63
    # at ~5e4 docs on the 1e6-scaled quality grid.  The products now
    # run in decimal(38,0); this pin feeds moments of overflow
    # magnitude through the operator and checks the exact value
    # against 128-bit Python integer arithmetic.
    import math

    from production_grade_rag_spark.plans.catalog_r11 import audit_risk_corr
    rows = [
        # (source, lang, len_bucket, n, sx, sy, sxy, sxx, syy)
        ("a", "en", 1, 30000, 27_000_000_000, 230_000_000,
         207_000_000_000_000, 24_400_000_000_000_000, 1_800_000_000_000),
        ("b", "en", 2, 25000, 21_000_000_000, 190_000_000,
         160_000_000_000_000, 17_700_000_000_000_000, 1_500_000_000_000),
    ]
    g = spark.createDataFrame(
        rows, "source string, lang string, len_bucket long, n long, "
              "sx long, sy long, sxy long, sxx long, syy long")
    out = audit_risk_corr(g).collect()[0]
    cn = sum(r[3] for r in rows)
    csx = sum(r[4] for r in rows)
    csy = sum(r[5] for r in rows)
    csxy = sum(r[6] for r in rows)
    csxx = sum(r[7] for r in rows)
    csyy = sum(r[8] for r in rows)
    assert cn * csxx > 2**63, "fixture must exceed BIGINT"
    expect = round(
        float(cn * csxy - csx * csy)
        / math.sqrt(float(cn * csxx - csx * csx))
        / math.sqrt(float(cn * csyy - csy * csy)), 6)
    assert out["corr"] == expect


def test_m3_components_via_arrow(spark):
    # the sparse m3 view and the engine's index build (embed with the
    # default hash backend) both embed via the Arrow kernel
    from production_grade_rag_spark.engine import SparkRagEngine
    from production_grade_rag_spark.operators.embedding import (
        hash_components_arrow)
    docs = load_table(spark, SF001, "documents")
    for df in (hash_components_arrow(docs, text_col="text",
                                     id_col="doc_id", dim=64),
               SparkRagEngine(spark).build_index(docs)):
        plan = _fmt_plan(df)
        assert "ArrowEvalPython" in plan
        assert "conv(substring(md5" not in plan
        # the component explode must not re-run the UDF in an inferred
        # filter: no Filter carries a pythonUDF call
        for cond in _filter_conditions(plan):
            assert "pythonUDF" not in cond
