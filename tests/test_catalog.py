"""Catalog structure, no Spark session: the order manifest, the
one-registration-per-name rule, every ``plans`` module importable
first in a fresh process, and a scan of ``plans/`` for imports inside
a function that the function never uses."""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

import pytest

from production_grade_rag_spark.plans import catalog
from production_grade_rag_spark.plans.catalog import CATALOG, register

REPO = Path(__file__).resolve().parents[1]
PLANS = REPO / "production_grade_rag_spark" / "plans"


def test_manifest_mismatch_names_missing_and_extra_entries():
    saved = dict(CATALOG)
    try:
        CATALOG["zz_stray"] = CATALOG.pop("q3_top_revenue_orders")
        with pytest.raises(ImportError, match=r"\['q3_top_revenue_orders'\]"
                                              r".*\['zz_stray'\]"):
            catalog._order_catalog()
    finally:
        CATALOG.clear()
        CATALOG.update(saved)


@pytest.mark.parametrize("module", sorted(
    p.stem for p in PLANS.glob("*.py") if p.stem != "__init__"))
def test_module_imported_first_gives_the_manifest_order(module):
    code = (f"import production_grade_rag_spark.plans.{module}\n"
            "from production_grade_rag_spark.plans.catalog import "
            "CATALOG, MANIFEST\n"
            "assert list(CATALOG) == MANIFEST")
    run = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]


def test_register_rejects_a_duplicate_name():
    def build(spark, d):
        return None

    register("zz_probe")(build)
    try:
        with pytest.raises(ValueError, match="zz_probe"):
            register("zz_probe")(build)
    finally:
        del CATALOG["zz_probe"]


def _unused_function_imports(path: Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    found = []
    for fn in ast.walk(ast.parse(src, str(path))):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        for node in ast.walk(fn):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            text = "\n".join(lines[node.lineno - 1:node.end_lineno])
            if "noqa: F401" in text:
                continue
            for alias in node.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in used:
                    found.append(f"{path.name}:{node.lineno} {name} "
                                 f"in {fn.name}")
    return found


def test_plans_have_no_unused_function_level_imports():
    found = [hit for path in sorted(PLANS.glob("*.py"))
             for hit in _unused_function_imports(path)]
    assert not found, f"unused imports inside functions: {found}"
