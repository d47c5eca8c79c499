"""Optimization-round profiler (guide §1): capture .explain("formatted")
and repeated timings for headline queries without touching bench.py.

Usage:
    python scripts/opt_profile.py explain [query ...]   # plans/r15/<q>_<tag>.txt
    python scripts/opt_profile.py time [query ...]      # 2x count() timings
    python scripts/opt_profile.py noop [query ...]      # noop-sink timings

``time`` and ``noop`` print each repetition's wall time and its Janino
compile count (``session.codegen_compiles`` delta), so a cold/warm gap
can be attributed to codegen: a warm repetition of a plan that fits the
codegen cache compiles (close to) nothing.

Env:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    OPT_TAG              explain file suffix (default "before")
    OPT_REPS             timing repetitions (default 2)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.environ.get("OPT_TAG", "before")
REPS = int(os.environ.get("OPT_REPS", "2"))
OUT = (Path(__file__).resolve().parents[1] / "plans"
       / os.environ.get("OPT_ROUND", "r16"))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]

    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.session import (codegen_compiles,
                                                    get_spark)

    spark = get_spark("pgrs-opt-profile")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    if not names:
        names = [n for n, s in CATALOG.items() if s.headline]

    if mode == "explain":
        OUT.mkdir(parents=True, exist_ok=True)
        for name in names:
            spark.sparkContext.setJobDescription(f"explain:{name}")
            df = CATALOG[name].build(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (OUT / f"{name}_{TAG}.txt").write_text(txt)
            print(f"{name}: explain -> {name}_{TAG}.txt "
                  f"({txt.count('Exchange')} Exchange refs)")
        return

    for name in names:
        times, compiles = [], []
        for rep in range(REPS):
            spark.sparkContext.setJobDescription(f"{mode}:{name}#{rep}")
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = CATALOG[name].build(spark, SF_DIR)
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            times.append(round(time.perf_counter() - t0, 3))
            compiles.append(codegen_compiles(spark) - c0)
        print(f"{name}: {times} s, {compiles} compiles ({n} rows)")


if __name__ == "__main__":
    main()
