"""The session's generated-class cache holds a catalog plan's working
set: running the same plan again reuses its compiled classes instead of
recompiling them with Janino (Spark's default 100-entry cache thrashed
on every catalog entry that compiles more than 100 classes)."""

from __future__ import annotations

from conftest import SF01
from production_grade_rag_spark.plans.catalog import CATALOG
from production_grade_rag_spark.session import (CODEGEN_CACHE_ENTRIES,
                                                codegen_compiles)


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM-wide codegen cache (a private field), so the first
    run below is cold whatever ran earlier in this test session."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


# entries whose warm repeat compiled nothing in every measured run; together
# about 140 classes, more than Spark's default 100-entry cache holds.
# (cc_release_audit compiles 0-14 classes on a repeat, as AQE's runtime
# join choice differs between runs, so it cannot carry a tight bound.)
ENTRIES = ("dd_minhash_lsh", "g11_ppr_seed", "g6_triangle_census")


def _compiles(spark) -> int:
    before = codegen_compiles(spark)
    for name in ENTRIES:
        CATALOG[name].build(spark, SF01).count()
    return codegen_compiles(spark) - before


def test_repeated_plans_reuse_compiled_classes(spark):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))
    _clear_codegen_cache(spark)
    first = _compiles(spark)
    second = _compiles(spark)
    assert first > 100, first
    assert second <= 0.05 * first, (first, second)
