"""Core-count scaling evidence at the 10x stress tier (VERDICT r15 #7).

The sf0.1 headline bench is expression/scheduling-bound: BENCH_r15's
8c/32c ratios sit at ~1.0 because 600k-row inputs saturate at <=8
cores, which says nothing about whether the engine's *shapes* scale
out.  This script times the shuffle- and compute-heavy paths on the
synthesized 10x tier (scripts/stress_bench.py's corpus — 50k docs /
20k embeddings / 100k events) at the session's core count, steady
state, so two runs (SPARK_GRAFT_CPUS=8 and =32) yield honest
low-vs-high-core ratios on inputs big enough to fill the cores.

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/scale_cores.py > /tmp/sc32.json
    SPARK_GRAFT_CPUS=8  python scripts/scale_cores.py > /tmp/sc8.json

Prints one JSON line: {"cpus": N, "tier": "10x", "timings": {...}}.
The committed SCALING_r16.json merges both runs with the ratios.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

# the repo root (the package) and this directory (stress_bench), so
# the script runs as `python -m scripts.scale_cores` or from any cwd
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from stress_bench import STRESS_DIR, synthesize  # noqa: E402


def _timed_steady(fn):
    """Warm-up run (untimed) then min of two timed runs — the
    stress_bench steady-state convention, so JIT/codegen/shuffle
    warmup cannot masquerade as a core-count effect."""
    fn()
    t0 = time.perf_counter()
    fn()
    t1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    fn()
    t2 = time.perf_counter() - t0
    return round(min(t1, t2), 3)


def main() -> None:
    from production_grade_rag_spark.operators import dedup
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.plans.catalog_r10 import _kmv_sketch
    from production_grade_rag_spark.plans.flagship import flagship_search
    from production_grade_rag_spark.session import get_spark
    from production_grade_rag_spark.sources import load_table

    spark = get_spark("pgrs-scale-cores")
    cpus = spark.sparkContext.defaultParallelism
    synthesize(spark)
    docs10 = load_table(spark, STRESS_DIR, "documents")

    T: dict[str, float] = {}

    def run(name: str, fn) -> None:
        spark.sparkContext.setJobDescription(f"scale_cores: {name}")
        T[name] = _timed_steady(fn)
        print(f"# {name} @ {cpus} cores: {T[name]}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    # shuffle-heavy: band-table shuffle + bucket self-join + verify joins
    run("minhash_128_32_10x",
        lambda: dedup.minhash_dedup_pairs(
            docs10, num_hashes=128, num_bands=32).count())
    # shuffle-heavy: corpus shingle explode + map-side prefilter +
    # distinct-(source,h) exchange
    run("kmv_pure_10x",
        lambda: _kmv_sketch(spark, STRESS_DIR, with_exact=False).count())
    # shuffle-heavy: ngram explode + contamination join
    run("t34_ngram_contamination_10x",
        lambda: CATALOG["t34_ngram_contamination"]
        .build(spark, STRESS_DIR).count())
    # window shuffle on user key over 10x events
    run("ev_sessionize_10x",
        lambda: CATALOG["ev_sessionize"].build(spark, STRESS_DIR).count())
    # compute-heavy: clean/quality/chunk + Arrow embed + top-k at the
    # production embedding width
    run("flagship_dim384_10x",
        lambda: flagship_search(spark, STRESS_DIR, k=10, dim=384).count())

    print(json.dumps({"cpus": cpus, "tier": "10x",
                      "stress_dir": STRESS_DIR, "timings": T}))


if __name__ == "__main__":
    main()
