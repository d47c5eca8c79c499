"""The incremental-ingest path of the stream twins
(``streaming/pipeline.drain_paged_tranches`` + ``sources/tables.fold_version``).

The first test needs no Spark session: a source scan that keeps every
paged twin on the one drain helper and every versioned write on the
epoch-keyed fold.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

# the catalog imports its round modules in order; a round module
# imported on its own first would import its siblings half-initialized
from production_grade_rag_spark.plans import catalog  # noqa: F401
from production_grade_rag_spark.streaming import pipeline as sp

from conftest import SF001

PLANS = (Path(__file__).resolve().parents[1]
         / "production_grade_rag_spark" / "plans")

# hand-rolled copies of what the drain helper and the fold own
_SCAFFOLD = {
    "paged stream read": re.compile(
        r"readStream\s*\.\s*format\(\s*[\"']paged_dump"),
    "sort-after rename": re.compile(r"part-zz-"),
    "direct versioned write": re.compile(r"\bwrite_version\s*\("),
}


def test_plans_ingest_only_through_the_drain_and_the_fold():
    stray = []
    for path in sorted(PLANS.glob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            stray += [f"{path.name}:{no}: {what}"
                      for what, pat in _SCAFFOLD.items() if pat.search(line)]
    assert not stray, f"ingest scaffold outside the helpers: {stray}"


def test_additive_fold_counts_a_replayed_batch_once(spark, tmp_path):
    """Spark re-runs a micro-batch whose store write committed but
    whose checkpoint commit did not: the replay must leave the
    count-min cells as one fold left them, not add the batch twice."""
    from pyspark.sql import functions as F

    from production_grade_rag_spark.plans.catalog_r8b import _cms_fold
    from production_grade_rag_spark.sources.tables import (list_versions,
                                                           read_version)
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    even = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    odd = docs.filter(F.col("doc_id") % 2 == 1).select("text")
    store = str(tmp_path / "cms")

    def cells():
        return sorted(tuple(r) for r in read_version(spark, store).collect())

    _cms_fold(spark, store, 0, even)
    _cms_fold(spark, store, 1, odd)
    once = cells()
    _cms_fold(spark, store, 1, odd)
    assert cells() == once
    assert list_versions(spark, store) == [1, 2]
    _cms_fold(spark, str(tmp_path / "all"), 0, docs.select("text"))
    assert sorted(tuple(r) for r in read_version(
        spark, str(tmp_path / "all")).collect()) == once


def test_drain_raises_when_it_outlives_the_timeout(spark, tmp_path,
                                                   monkeypatch):
    """A drain cut by the timeout has left a partial sink: it must
    raise, not return as if the input were consumed."""
    import time

    src = str(tmp_path / "src")
    spark.range(4).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    monkeypatch.setattr(sp, "DRAIN_TIMEOUT_S", 1)

    def slow(df, epoch_id):
        time.sleep(5)

    with pytest.raises(TimeoutError):
        sp._run_foreach(stream, slow, None)
