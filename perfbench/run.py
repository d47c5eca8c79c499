"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,engine} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs are the test tables copied under
``perfbench/data/`` and what is generated from them and the seed under
``.perfbench/`` in the root; nothing is read or written outside it.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Lines
before it give every metric by name with unit and sample count, and the
host context of the run.  Exit code 1 when any result is wrong, 2 when
the package cannot be found or the copied tables do not match their
checksums.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
PACKAGE = "production_grade_rag_spark"
JVM_MEMORY = "2g"
# generated inputs and outputs of a run, removed when it ends; the
# result and the span file stay
SCRATCH_DIRS = ("corpus", "store", "out", "tmp", "local")
# end-to-end figures printed beside the bounded ones of BENCHMARK.json
UNBOUNDED = {"cold_pass_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("catalog", "engine"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep Spark, its JVM and its Python workers inside ``work`` and
    let the workers import the package from the root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", JVM_MEMORY)
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} pyspark-shell")


def _percentile_line(name: str, xs: list[float]) -> str | None:
    """The highest percentile (multiple of 5, at most 90, above 50)
    with at least ten samples beyond it, or None."""
    n = len(xs)
    if n < 20:
        return None
    p = min(90, 5 * int(20 * (1 - 10 / n)))
    if p <= 50:
        return None
    v = statistics.quantiles(xs, n=100)[p - 1]
    return f"{name.replace('pNN', f'p{p}')}  {v:.4f} s  (n={n})"


def _report(workload: str, e2e: dict, run, spec: dict, host: dict) -> None:
    print(f"# host {json.dumps(host)}")
    print(f"# run {json.dumps(run.info)}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, unit in {**UNBOUNDED, **units}.items():
        print(f"{workload}.{name}  {e2e[name]:.6g} {unit}")
    for name, value in e2e["_named"].items():
        print(f"{name}  {value:.6g} docs/s")
    for name, xs in e2e["_samples"].items():
        if not xs:
            print(f"{name}  no samples")
            continue
        stem = name[:-len("_s")]
        print(f"{stem}_p50_s  {statistics.median(xs):.4f} s  (n={len(xs)})")
        print(_percentile_line(f"{stem}_pNN_s", xs)
              or f"# {name}: no percentile above p50 has ten samples "
                 f"beyond it (n={len(xs)})")
    frac = run.failed / max(run.attempted, 1)
    print(f"error_frac  {frac:.6g} ratio  ({run.failed}/{run.attempted} ops)")


def _stop(spark) -> None:
    """Stop Spark and wait until every process it started has ended:
    the JVM exits when its stdin closes, and Spark's Python worker
    daemon exits with the JVM."""
    import host
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) \
            or not os.path.isfile(BENCHMARK):
        print(f"run from a checkout holding {PACKAGE}/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gen
    bad = gen.verify_data()
    if bad:
        print(f"input files differ from data/MD5SUMS: {bad}", file=sys.stderr)
        return 2
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    import host
    from layertrace import Tracer
    import workloads

    context = host.context(args.seed)
    ticks0 = host.cpu_ticks()
    tracer = Tracer()
    if args.trace:
        tracer.install()
    run = workloads.Run(args, ROOT, work, T_START, tracer)
    try:
        e2e = workloads.WORKLOADS[args.workload](run)
        spark = run.spark
        jvm = spark.sparkContext._gateway.proc.pid
        e2e["setup_s"] = run.setup_s
        e2e["peak_rss_mb"] = host.peak_rss_mb([os.getpid(), jvm])
        layers = dict(run.layers)
        if args.trace:
            from layertrace import layer_metrics
            layers.update(layer_metrics(tracer, host.cores()))
            layers["trace.overhead"] = (
                statistics.median(e2e["_traced"])
                / statistics.median(e2e["_samples"]["pass_s"]))
    finally:
        if run.spark is not None:
            _stop(run.spark)
    run.mark("checked")
    context["steal_pct"] = host.steal_pct(ticks0, host.cpu_ticks())
    context["loadavg_after"] = host.loadavg()

    _report(args.workload, e2e, run, spec, context)
    for err in run.errors:
        print(f"# FAILED {err}", file=sys.stderr)
    if args.trace:
        for name in sorted(layers):
            print(f"{args.workload}.{name}  {layers[name]:.6g}")
        tracer.dump(os.path.join(work, "trace.json"),
                    {"host": context, "run": run.info, "layers": layers})
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = layers
    else:
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = e2e
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed,
              "metrics": {name: {"value": values[name], "unit": unit}
                          for name, unit in wanted}}
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({**result, "host": context, "run": run.info,
                   "samples": e2e["_samples"]}, fh)
    for d in SCRATCH_DIRS:
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
