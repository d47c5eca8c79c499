"""Layer tracing for the benchmark, measured from outside the package.

The tracer times and counts calls into each layer's public functions;
nothing inside ``production_grade_rag_spark`` is changed:

- spans: ``Tracer.span`` records (name, layer, start, end, parent, op,
  py4j calls) at each boundary (op -> build / engine call ->
  ``load_table`` / operator -> action / write).  ``load_table``,
  ``write_parquet``, ``minhash_dedup_pairs`` and the ``SparkRagEngine``
  calls are wrapped where they are defined, so calls from inside the
  package are traced too.  Spans stay in memory until ``dump``;
- py4j: ``GatewayClient.send_command`` is wrapped to count CALL
  commands only (garbage-collection detach traffic is not counted);
- Catalyst: an action is split into forcing ``executedPlan`` and
  running it, and the phase times are read from the query's
  ``QueryPlanningTracker``;
- exec: jobs and stages are attributed to an op by job-id window
  (``DAGScheduler.nextJobId``), not by job group, and read from the
  status store; Python worker times come from the SQL status store's
  plan graph of every SQL execution in the op's window; persisted RDDs
  are read after each op once garbage is collected on both sides.

A disabled tracer (``enabled = False``) adds one attribute test per
wrapped call and records nothing, so one process can alternate traced
and untraced blocks to measure the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import json
import os
import re
import time

import py4j.java_gateway
import py4j.protocol

_CALL = py4j.protocol.CALL_COMMAND_NAME
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40}
_TOTAL = re.compile(r"([-\d.]+)\s*([A-Za-z]+)")
# SQL metric names of the Python eval nodes (pythonTotalTime,
# pythonBootTime, pythonInitTime)
ENGINE_CALLS = ("build_index", "embed_query", "search",
                "multi_strategy_search")
# forced collections before a persisted-RDD reading, at most
GC_ROUNDS = 6
PY_METRICS = {"time to run Python workers": "python_udf_s",
              "time to start Python workers": "python_boot_s",
              "time to initialize Python workers": "python_init_s"}


def _sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: 'total (min, med, max ...)\\n
    9.0 s (...)' -> 9.0, or a bare '1.2 s' / '0 ms'."""
    line = text.split("\n", 1)[-1]
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[dict] = []
        self._counting = True
        self._op: dict | None = None

    # -- wiring -----------------------------------------------------------
    def install(self) -> None:
        """Wrap py4j and the public entry points of the traced layers:
        ``load_table`` and ``write_parquet`` (sources),
        ``minhash_dedup_pairs`` (operators) and the ``SparkRagEngine``
        calls (engine).  Must run before any
        ``production_grade_rag_spark.plans`` import, because catalog
        modules bind ``load_table`` by name at import time."""
        tracer = self
        send = py4j.java_gateway.GatewayClient.send_command

        @functools.wraps(send)
        def counted(client, command, *a, **kw):
            if tracer._counting and command.startswith(_CALL):
                tracer.py4j_calls += 1
            return send(client, command, *a, **kw)

        py4j.java_gateway.GatewayClient.send_command = counted

        import production_grade_rag_spark.sources as sources
        import production_grade_rag_spark.sources.tables as tables
        from production_grade_rag_spark.engine import SparkRagEngine
        from production_grade_rag_spark.operators import dedup
        load = self.wrap(tables.load_table, "load_table", "sources")
        write = self._wrap_write(tables.write_parquet)
        for mod in (sources, tables):
            mod.load_table, mod.write_parquet = load, write
        dedup.minhash_dedup_pairs = self.wrap(
            dedup.minhash_dedup_pairs, "minhash_dedup_pairs", "operators")
        for name in ENGINE_CALLS:
            setattr(SparkRagEngine, name, self.wrap(
                getattr(SparkRagEngine, name), name, "engine"))

    def _wrap_write(self, fn):
        """``write_parquet`` with a span that records the bytes written."""
        @functools.wraps(fn)
        def traced(df, path, *a, **kw):
            if not self.enabled:
                return fn(df, path, *a, **kw)
            with self.span("write_parquet", "sources") as rec:
                fn(df, path, *a, **kw)
                rec["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                   for d, _, fs in os.walk(path) for f in fs)
        return traced

    def bind(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc
        self._sc = self._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call while enabled."""
        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name, layer):
                return fn(*a, **kw)
        return traced

    @contextlib.contextmanager
    def _quiet(self):
        """Suspend py4j counting for the tracer's own JVM reads."""
        self._counting = False
        try:
            yield
        finally:
            self._counting = True

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self._op["id"] if self._op else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        calls0 = self.py4j_calls
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, block: int):
        """One workload op (a catalog query, an ingest pass, a search
        request): a root span plus the op's job / SQL-execution window,
        resolved against the status stores when it ends."""
        if not self.enabled:
            yield None
            return
        with self._quiet():
            job0 = self._sc.dagScheduler().nextJobId()
            sql0 = self._sql.executionsCount()
        rec = {"id": len(self.ops), "name": name, "block": block,
               "job0": job0, "sql0": sql0, "actions": []}
        self.ops.append(rec)
        self._op = rec
        try:
            with self.span(name, "op") as root:
                rec["span"] = root["id"]
                yield rec
        finally:
            self._op = None
            with self._quiet():
                self._close_op(rec)

    def _persisted_rdds(self) -> int:
        """Persisted RDDs still registered once everything unreachable
        is gone.  Spark's context cleaner unpersists an RDD only after
        the JVM has collected it, and the JVM can collect it only after
        Python has dropped its py4j handles, so collect on both sides
        and read until two readings agree."""
        last = None
        for _ in range(GC_ROUNDS):
            gc.collect()
            self._jvm.System.gc()
            time.sleep(0.15)
            n = self._jsc.getPersistentRDDs().size()
            if n == last:
                break
            last = n
        return n

    def _close_op(self, rec: dict) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        rec["job1"] = self._sc.dagScheduler().nextJobId()
        rec["sql1"] = self._sql.executionsCount()
        rec["persisted_rdds"] = self._persisted_rdds()
        jobs = []
        for jid in range(rec["job0"], rec["job1"]):
            try:
                jd = self._store.job(jid)
            except Exception:   # noqa: BLE001 -- evicted or never posted
                continue
            job = {"id": jid,
                   "start": jd.submissionTime().get().getTime() / 1e3
                   if jd.submissionTime().isDefined() else None,
                   "end": jd.completionTime().get().getTime() / 1e3
                   if jd.completionTime().isDefined() else None,
                   "stages": []}
            for sid in jd.stageIds().mkString(",").split(","):
                if not sid:
                    continue
                try:
                    sd = self._store.lastStageAttempt(int(sid))
                except Exception:   # noqa: BLE001 -- stage never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"].append({
                    "id": int(sid), "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "task_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "input_bytes": sd.inputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled()
                    + sd.diskBytesSpilled()})
            jobs.append(job)
        rec["jobs"] = jobs
        py = dict.fromkeys(PY_METRICS.values(), 0.0)
        n_new = rec["sql1"] - rec["sql0"]
        if n_new > 0:
            execs = self._sql.executionsList(rec["sql0"], n_new)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                values = self._sql.executionMetrics(eid)
                nodes = self._sql.planGraph(eid).allNodes()
                for n in range(nodes.size()):
                    metrics = nodes.apply(n).metrics()
                    for m in range(metrics.size()):
                        metric = metrics.apply(m)
                        key = PY_METRICS.get(metric.name())
                        v = values.get(metric.accumulatorId())
                        if key and v.isDefined():
                            py[key] += _sql_metric(v.get())
        rec.update(py)

    # -- actions ----------------------------------------------------------
    def action(self, df, kind: str):
        """Run ``df.count()`` (kind 'count') or ``df.collect()`` (kind
        'collect').  Traced, the plan is forced first so the Catalyst
        phases of the very query that runs can be read afterwards; a
        count runs ``groupBy().count()``, the plan ``Dataset.count``
        builds."""
        if not self.enabled:
            return df.count() if kind == "count" else df.collect()
        frame = df.groupBy().count() if kind == "count" else df
        with self.span(kind, "exec") as rec:
            qe = frame._jdf.queryExecution()
            qe.executedPlan()
            rows = frame.collect()
            with self._quiet():
                self._phases(qe, rec)
        return rows[0][0] if kind == "count" else rows

    def plan_only(self, df) -> None:
        """Catalyst phases of ``df`` planned on its own: a write runs
        its own QueryExecution that is not reachable from Python, so a
        traced write plans the same query once more beforehand."""
        if not self.enabled:
            return
        with self.span("plan", "catalyst") as rec:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            with self._quiet():
                self._phases(qe, rec)

    def _phases(self, qe, rec: dict) -> None:
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            rec[f"catalyst_{name}_s"] = (
                opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0)
        self._op["actions"].append(rec["id"])

    # -- output -----------------------------------------------------------
    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(tr: Tracer, cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced ops.  Timings are means per op;
    counts are totals over the first traced block, which always follows
    the same work, so on one seed they repeat exactly."""
    ops = tr.ops
    n = max(len(ops), 1)
    first = min((o["block"] for o in ops), default=None)
    spans = tr.spans
    by_id = {s["id"]: s for s in spans}
    block_of = {o["id"]: o["block"] for o in ops}
    jobs_of = {o["id"]: o.get("jobs", []) for o in ops}

    def dur(s):
        return s["end"] - s["start"]

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def outer(ss):
        """Spans not nested in a span of their own layer."""
        return [s for s in ss if s["parent"] is None
                or by_id[s["parent"]]["layer"] != s["layer"]]

    def in_first(ss):
        return [s for s in ss if block_of.get(s["op"]) == first]

    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def jobs_in(s):
        return [j for j in jobs_of.get(s["op"], [])
                if j["start"] is not None and s["start"] <= j["start"] <= s["end"]]

    def self_s(s):
        """Duration minus what its child spans and the jobs launched
        inside it cover."""
        cover = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        cover += [(j["start"], min(j["end"] or s["end"], s["end"]))
                  for j in jobs_in(s)]
        return dur(s) - _union(cover)

    load = named("load_table")
    writes = named("write_parquet")
    builds = named("build")
    engine = outer([s for s in spans if s["layer"] == "engine"])
    # operators: the ingest pass's dedup span (the operator plus its
    # write), and calls the catalog's builds make
    dedup = outer(named("dedup", "minhash_dedup_pairs"))
    actions = [s for s in spans if "catalyst_analysis_s" in s]
    first_ops = [o for o in ops if o["block"] == first]
    first_jobs = [j for o in first_ops for j in o.get("jobs", [])]
    first_stages = [st for j in first_jobs for st in j["stages"]]
    all_stages = [st for o in ops for j in o.get("jobs", [])
                  for st in j["stages"]]
    job_wall = sum(_union([(j["start"], j["end"]) for j in o.get("jobs", [])
                           if j["start"] and j["end"]]) for o in ops)
    task_s = sum(st["task_s"] for st in all_stages)

    m = {
        "sources.load_table_calls": len(in_first(load)),
        "sources.load_table_s": sum(map(dur, load)) / n,
        "sources.write_s": sum(map(dur, writes)) / n,
        "sources.write_bytes": sum(s.get("bytes", 0)
                                   for s in in_first(writes)),
        "plans.build_s": sum(map(self_s, builds)) / n,
        "plans.py4j_calls": sum(s["py4j_calls"] for s in in_first(builds)),
        "plans.build_jobs": sum(len(jobs_in(s)) for s in in_first(builds)),
        "engine.build_index_s": sum(
            map(dur, [s for s in engine if s["name"] == "build_index"])) / n,
        "engine.embed_query_s": sum(map(dur, named("embed_query"))) / n,
        "engine.plan_s": sum(map(dur, [
            s for s in engine
            if s["name"] in ("search", "multi_strategy_search")])) / n,
        "engine.py4j_calls": sum(s["py4j_calls"] for s in in_first(engine)),
        "operators.dedup_s": sum(map(dur, dedup)) / n,
        "exec.jobs": len(first_jobs),
        "exec.stages": len(first_stages),
        "exec.tasks": sum(st["tasks"] for st in first_stages),
        "exec.failed_tasks": sum(st["failed_tasks"] for st in first_stages),
        "exec.task_s": task_s / n,
        "exec.cpu_s": sum(st["cpu_s"] for st in all_stages) / n,
        "exec.core_busy_frac": task_s / (job_wall * cores) if job_wall else 0.0,
        **{f"exec.{key}": sum(o.get(key, 0.0) for o in ops) / n
           for key in PY_METRICS.values()},
        "exec.persisted_rdds_left": max(
            (o["persisted_rdds"] for o in first_ops), default=0),
    }
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "input_bytes"):
        m[f"exec.{key}"] = sum(st[key] for st in first_stages)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(
            s[f"catalyst_{phase}_s"] for s in actions) / n
    return m
