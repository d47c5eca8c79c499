"""The workloads: catalog and engine.

Each is one client in a closed loop at local[cores]: it sends the next
op only when the previous one has returned.  A run is

    inputs (from the seed) -> session + warm-up -> cold block
    -> measured blocks for --seconds -> correctness checks (outside
    the timed region)

A catalog block is one pass over the catalog entries; an engine block
is one ingest pass followed by one fixed-mix block of search requests
over the index built in setup.  With tracing on, measured blocks
alternate traced / untraced, starting traced, so the first traced block
always follows the same work and its counts repeat exactly.
"""

from __future__ import annotations

import functools
import os
import random
import statistics
import time
import traceback

import gen
import oracles
from host import cores, tree_cpu_s

# catalog: headline entries chosen from measured per-entry build and
# job times (perfbench/README.md): q1 scan-aggregate, q5 six-table join
# (Catalyst), m3 an Arrow UDF, dd_minhash_lsh and cc_release_audit the
# jobs builds launch, the latter from thread pools that run jobs
# without a job group.
CATALOG_ENTRIES = ("q1_pricing_summary", "q5_nation_revenue",
                   "m3_hash_components", "dd_minhash_lsh",
                   "cc_release_audit")
# engine: the search index is built in setup from the first INDEX_DOCS
# test documents (replica 0); each block ingests the first INGEST_DOCS
# of them as replica 1
INDEX_REPLICAS, INDEX_DOCS = [0], 2500
INGEST_REPLICAS, INGEST_DOCS = [1], 500
ENGINE_CONFIG = dict(embedding_dim=384, quality_threshold=0.0,
                     chunk_size=400, chunk_overlap=80)
SEARCH_MIX = {"semantic": 1, "hybrid": 1, "multi": 1}
SEARCH_QUERIES = 6
QUERY_WORDS = 12
# measured blocks per run, at the least: a fixed count keeps every
# run's median at the same point of the JIT warm-up curve
CATALOG_BLOCKS, ENGINE_BLOCKS = 2, 2
TRACED_BLOCKS = 4


class Run:
    """State of one benchmark run."""

    def __init__(self, args, root: str, work: str, t_start: float, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root, self.work, self.t_start = root, work, t_start
        self.tracer = tracer
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.info: dict = {"phase_end_s": {}}
        self.spark = None

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since start."""
        self.info["phase_end_s"][phase] = round(
            time.perf_counter() - self.t_start, 3)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.gen_s += time.perf_counter() - t
        return out

    def start_session(self):
        t = time.perf_counter()
        from production_grade_rag_spark.session import get_spark
        self.spark = get_spark("perfbench", cpus=cores())
        self.layers["session.start_s"] = time.perf_counter() - t
        # first job (JVM + codegen) and the first Arrow job (forks the
        # Python worker pool) are session start-up, paid before any op
        t = time.perf_counter()
        from pyspark.sql import functions as F
        from production_grade_rag_spark.operators.embedding import \
            hash_embed_arrow
        self.spark.range(1000).selectExpr("sum(id)").collect()
        (hash_embed_arrow(self.spark.range(256).select(
            F.col("id").cast("string").alias("content")), dim=4)
         .write.format("noop").mode("overwrite").save())
        self.layers["session.warmup_s"] = time.perf_counter() - t
        self.mark("session")
        self.tracer.bind(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start - self.gen_s
        self.mark("setup")

    def blocks(self, min_blocks: int):
        """Measured block numbers: run until --seconds have passed, and
        at least ``min_blocks`` -- or, tracing, at least TRACED_BLOCKS,
        half of them traced, so traced and untraced blocks compare."""
        floor = TRACED_BLOCKS if self.trace else min_blocks
        t_end = time.perf_counter() + self.seconds
        b = 0
        while b < floor or time.perf_counter() < t_end:
            self.tracer.enabled = self.trace and b % 2 == 0
            yield b
            b += 1
        self.tracer.enabled = False
        self.mark("measure")

    def measure(self, one_block, min_blocks: int
                ) -> tuple[list, list, list]:
        """Run ``one_block(b, record)`` over the measured blocks.
        Returns the wall and CPU seconds of the untraced blocks and the
        wall seconds of the traced ones.  CPU is that of this process
        and every descendant: the JVM and Spark's Python workers."""
        walls, cpus, traced = [], [], []
        for b in self.blocks(min_blocks):
            on = self.tracer.enabled
            cpu0 = tree_cpu_s(os.getpid())
            dt = one_block(b, not on)
            if on:
                traced.append(dt)
            else:
                walls.append(dt)
                cpus.append(tree_cpu_s(os.getpid()) - cpu0)
        return walls, cpus, traced

    def attempt(self, what: str, fn):
        """Run one op; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:   # noqa: BLE001 -- the run reports, then goes on
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return False, None

    def fail(self, what: str, n_ops: int) -> None:
        """Charge ``n_ops`` already-attempted ops with a wrong result."""
        self.failed += n_ops
        self.errors.append(f"wrong result: {what}")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

def catalog(run: Run) -> dict:
    data = gen.CATALOG_TABLES
    spark = run.start_session()
    from production_grade_rag_spark.plans.catalog import CATALOG
    run.setup_done()
    tr = run.tracer
    order = random.Random(run.seed)
    counts: dict[str, list[int]] = {n: [] for n in CATALOG_ENTRIES}

    def one_pass(block: int, record: bool, results=None) -> float:
        t_pass = time.perf_counter()
        for name in order.sample(CATALOG_ENTRIES, len(CATALOG_ENTRIES)):
            spec = CATALOG[name]

            def op():
                with tr.op(name, block):
                    with tr.span("build", "plans"):
                        df = spec.build(spark, data)
                    if results is None:
                        return tr.action(df, "count")
                    results[name] = df.toPandas()
                    return len(results[name])
            t = time.perf_counter()
            ok, n = run.attempt(name, op)
            if ok:
                counts[name].append(n)
                if record:
                    lat.append(time.perf_counter() - t)
        return time.perf_counter() - t_pass

    # the cold pass collects every result for the oracle check; warm
    # passes count, as bench.py does
    results: dict = {}
    lat: list[float] = []
    cold = one_pass(-1, False, results)
    run.mark("cold")
    passes, cpus, traced = run.measure(one_pass, CATALOG_BLOCKS)
    for name, why in oracles.catalog_check(data, CATALOG, results,
                                           counts).items():
        run.fail(f"{name}: {why}", len(counts[name]))
    run.info.update(entries=list(CATALOG_ENTRIES), tables=data,
                    query_samples=len(lat), passes=len(passes))
    return {"cold_pass_s": cold, "pass_s": _median(passes),
            "pass_cpu_s": _median(cpus), "_traced": traced,
            "_samples": {"catalog_query_s": lat, "pass_s": passes,
                         "pass_cpu_s": cpus},
            "_named": {}}


# ---------------------------------------------------------------------------
# engine: an ingest pass, then search requests over the setup index
# ---------------------------------------------------------------------------

def engine(run: Run) -> dict:
    index_corpus = run.path("corpus", "index")
    ingest_corpus = run.path("corpus", "ingest")
    index_texts = run.generate(gen.synthesize, run.seed, index_corpus,
                               INDEX_REPLICAS, INDEX_DOCS)
    n_docs = len(run.generate(gen.synthesize, run.seed, ingest_corpus,
                              INGEST_REPLICAS, INGEST_DOCS))
    texts, plan = run.generate(
        gen.search_requests, run.seed, index_texts, SEARCH_QUERIES, 400,
        SEARCH_MIX, QUERY_WORDS)
    spark = run.start_session()
    from production_grade_rag_spark.config import EngineConfig
    from production_grade_rag_spark.engine import SparkRagEngine
    from production_grade_rag_spark.operators import dedup
    from production_grade_rag_spark.sources import load_table, write_parquet
    eng = SparkRagEngine(spark, EngineConfig(**ENGINE_CONFIG))
    tr = run.tracer
    out, store = run.path("out"), run.path("store")
    index_path = os.path.join(store, "index.parquet")
    # the search index, written by the ingest path once per run
    write_parquet(eng.build_index(load_table(spark, index_corpus,
                                             "documents")),
                  index_path, mode="overwrite")
    index = load_table(spark, store, "index")
    run.setup_done()
    lat: dict[str, list[float]] = {k: [] for k in ("ingest", *SEARCH_MIX)}
    out_rows: list[tuple[int, int]] = []
    first: dict[tuple[str, int], list] = {}
    repeats: dict[tuple[str, int], int] = {}

    def timed(kind: str, what: str, block: int, fn, record: bool):
        def op():
            with tr.op(kind, block):
                return fn()
        t = time.perf_counter()
        ok, value = run.attempt(what, op)
        if ok and record:
            lat[kind].append(time.perf_counter() - t)
        return ok, value

    def ingest_pass():
        docs = load_table(spark, ingest_corpus, "documents")
        idx = eng.build_index(docs)
        tr.plan_only(idx)
        write_parquet(idx, os.path.join(out, "index.parquet"),
                      mode="overwrite")
        with tr.span("dedup", "operators"):
            pairs = dedup.minhash_dedup_pairs(docs)
            tr.plan_only(pairs)
            write_parquet(pairs, os.path.join(out, "pairs.parquet"),
                          mode="overwrite")

    def request(kind: str, q: int):
        if kind == "multi":
            df = eng.multi_strategy_search(index, texts[q])
        else:
            df = eng.search(index, query_text=texts[q], search_type=kind)
        return tr.action(df, "collect")

    def one_block(i: int, block: int, record: bool) -> float:
        t_block = time.perf_counter()
        ok, _ = timed("ingest", "ingest pass", block, ingest_pass, record)
        if ok:
            t_rows = time.perf_counter()
            out_rows.append(oracles.parquet_rows(
                os.path.join(out, "index.parquet"),
                os.path.join(out, "pairs.parquet")))
            t_block += time.perf_counter() - t_rows   # not part of the block
        for kind, q in plan[i % len(plan)]:
            ok, rows = timed(kind, f"{kind} q{q}", block,
                             functools.partial(request, kind, q), record)
            if not ok:
                continue
            key = (kind, q)
            if key not in first:
                first[key], repeats[key] = rows, 1
            elif rows != first[key]:
                run.fail(f"{kind} q{q} differs from its first answer", 1)
            else:
                repeats[key] += 1
        return time.perf_counter() - t_block

    cold = one_block(0, -1, False)
    run.mark("cold")
    passes, cpus, traced = run.measure(
        lambda b, record: one_block(b + 1, b, record), ENGINE_BLOCKS)
    ok, detail = oracles.ingest_check(
        os.path.join(out, "index.parquet"), ingest_corpus, ENGINE_CONFIG,
        os.path.join(out, "pairs.parquet"))
    run.mark("check ingest")
    if not ok:
        run.fail(f"ingest outputs {detail}", len(out_rows))
    elif len(set(out_rows)) > 1:
        run.fail(f"ingest output rows differ between passes: "
                 f"{sorted(set(out_rows))}", len(out_rows) - 1)
    ok, index_detail = oracles.ingest_check(index_path, index_corpus,
                                            ENGINE_CONFIG)
    run.mark("check index")
    if not ok:
        run.fail(f"search index {index_detail}", sum(repeats.values()))
    else:
        bad = oracles.search_check(index_path, texts, first, ENGINE_CONFIG)
        for key, why in bad.items():
            run.fail(f"{key}: {why}", repeats[key])
    searches = [x for k in SEARCH_MIX for x in lat[k]]
    run.info.update(ingest_docs=n_docs, index_docs=len(index_texts),
                    mix=SEARCH_MIX, blocks=len(passes), ingest=detail,
                    index=index_detail, checked=len(first),
                    rows={f"{k}:q{q}": len(r) for (k, q), r in first.items()})
    return {"cold_pass_s": cold, "pass_s": _median(passes),
            "pass_cpu_s": _median(cpus), "_traced": traced,
            "_samples": {"pass_s": passes, "pass_cpu_s": cpus,
                         "ingest_pass_s": lat["ingest"],
                         "search_s": searches,
                         **{f"search_{k}_s": lat[k] for k in SEARCH_MIX}},
            "_named": {"ingest_docs_per_s": n_docs / _median(lat["ingest"])
                       if lat["ingest"] else float("nan")}}


WORKLOADS = {"catalog": catalog, "engine": engine}
