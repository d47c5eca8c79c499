"""``session.materialize``: the one place the package cuts lineage.

The first two tests need no Spark session: a source scan that keeps
every checkpoint call inside the helper, and a pin of the catalog's
registration order (the driver snapshot samples entries by position).
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

from production_grade_rag_spark.plans.catalog import queries
from production_grade_rag_spark.session import materialize

PACKAGE = Path(__file__).resolve().parents[1] / "production_grade_rag_spark"


def test_package_checkpoints_only_through_materialize():
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "materialize":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                    and id(node) not in allowed):
                stray.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not stray, f"checkpoint outside session.materialize: {stray}"


def test_registration_order_is_pinned():
    names = list(queries())
    assert len(names) == 412
    digest = hashlib.md5("\n".join(names).encode()).hexdigest()
    assert digest == "304112c7eec5ff1a16123707f7007399"


def _description(sc):
    return sc.getLocalProperty("spark.job.description")


def test_materialize_labels_its_job_and_restores_description(spark):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    sc.setJobDescription("caller")
    try:
        first = jsc.dagScheduler().nextJobId()
        out = materialize(spark.range(100).selectExpr("id * 2 AS x"),
                          "test:double")
        jobs = range(first, jsc.dagScheduler().nextJobId())
        assert _description(sc) == "caller"
    finally:
        sc.setJobDescription(None)
    assert jobs
    jsc.listenerBus().waitUntilEmpty(30_000)
    labels = {jsc.statusStore().job(j).description().get() for j in jobs}
    assert labels == {"test:double"}
    assert sorted(r.x for r in out.collect()) == list(range(0, 200, 2))


def test_materialize_reliable_checkpoint_when_dir_is_set(spark, tmp_path):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    prev_dir = jsc.checkpointDir()
    prev = sc.getCheckpointDir()
    df = spark.range(50).selectExpr("id", "id % 7 AS m")
    sc.setCheckpointDir(str(tmp_path))
    try:
        out = materialize(df, "test:reliable")
        assert _description(sc) is None
        assert sorted(out.collect()) == sorted(df.collect())
        written = [p for p in tmp_path.rglob("*") if p.is_file()]
        assert written, "reliable checkpoint wrote nothing under the dir"
    finally:
        # SparkContext has no public way to unset the dir
        getattr(jsc, "checkpointDir_$eq")(prev_dir)
    assert sc.getCheckpointDir() == prev
