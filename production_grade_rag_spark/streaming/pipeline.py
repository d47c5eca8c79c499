"""Structured Streaming twins of the batch event analytics (SURVEY
§2.10 / §7.2 phase 5).

The reference has NO streaming (its nearest analogues are in-memory
mutation: conversation trim W6 slack_bot.py:138-168, rolling metrics A8
rag_engine.py:391-438).  The engine exposes the batch operators AND
their streaming twins built on the SAME logical plans:

- tumbling hourly counts  == catalog ev_hourly_event_counts
- session windows (30 min) == catalog ev_sessionize (batch form uses
  lag+prefix-sum; streaming uses the native session_window, same
  semantics for closed sessions)

Both run over a file source (parquet directory), watermarked on ts so
state is bounded; ``run_available_now`` drains whatever data exists and
stops — which makes the twins testable against the batch results
(tests/test_streaming.py).

100 TB notes: in production the source becomes Kafka/event-log files
partitioned by arrival date; the aggregation state is keyed by
(window/user) and sharded across executors by the same groupBy keys as
the batch plan; the watermark bounds state size, and
availableNow/trigger intervals control micro-batch sizing.

Incremental ingest (the ``st_*`` paged twins) is one protocol:

- **Tranches.** ``drain_paged_tranches`` lands each tranche, a
  ``(page_id, title, lang, n_chars)`` frame, in a fresh page dump as
  JSON-lines files named ``part-<tranche>-<file>`` (``write.text`` of
  ``to_json``, then a rename): the stream offset is an index into the
  sorted file list, so tranche two is exactly the next offset range.
  After each landing the dump drains (availableNow) from ONE
  persistent checkpoint, so tranche two resumes without re-reading
  tranche one; each micro-batch's well-formed rows reach
  ``on_batch(rows, epoch_id)``.  The connector's own append writer
  (``PagedDumpWriter``, whose ``_MANIFEST`` commit orders appended
  files the same way) would replace the rename, but each of its
  writes starts two driver-side Python processes (plan and commit):
  0.7-1.3 s more per twin at sf0.01 on 4 cores, more than the twins'
  run-to-run spread.
- **Epoch fold.** A twin keeps its state in versioned stores
  (``sources.tables``) and commits each micro-batch with
  ``fold_version``: snapshot ``epoch_id + 1`` = ``combine(snapshot as
  of epoch_id, increment)``.  A batch that Spark replays after a
  crash between the store write and the checkpoint commit finds its
  snapshot committed and skips it, so additive folds (counts, sums,
  moments) never count a batch twice.  Append-only stores whose rows
  are pure functions of the input dedup on read instead.

Every drain waits at most ``DRAIN_TIMEOUT_S`` and raises when time
runs out: a drain that stopped early has left a partial sink.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..session import scratch
from ..sources.paged_source import PagedDumpDataSource

# Upper bound on one availableNow drain.  A drain returns as soon as
# its input is consumed, so the bound only decides how long a stuck
# drain runs before it raises.
DRAIN_TIMEOUT_S = 600


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Raw file schema for the stream source, from one batch footer
    read.  The testdata has shipped ``ts`` as both TIMESTAMP(NANOS)
    (surfacing as a nanos long under
    spark.sql.legacy.parquet.nanosAsLong, set in session.py) and plain
    timestamp[us] (surfacing as TIMESTAMP_NTZ) — hardcoding either
    breaks when the file is regenerated, so observe what's there (same
    defensive convention as sources.tables.load_table)."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Convert whatever the source surfaced for ``ts`` into a plain
    TIMESTAMP, branching on the observed dtype (nanos long vs
    timestamp/timestamp_ntz; UTC session TZ makes the NTZ cast the
    identity)."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as nanos long
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_event_stream(spark: SparkSession, sf_dir: str,
                      watermark: str = "2 hours") -> DataFrame:
    """File-source stream over the events parquet, watermarked on ts."""
    # the file source wants a directory; glob-filter down to the events
    # file (a production deployment points at an events/ directory or
    # Kafka topic instead)
    schema = _events_raw_schema(spark, sf_dir)
    raw = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    return normalize_event_ts(raw).withWatermark("ts", watermark)


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour counts — the streaming twin of
    ev_hourly_event_counts (identical agg expressions; the batch form
    groups on date_trunc, this one on window(ts, '1 hour'))."""
    return (events
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.round(F.avg("value"), 6).alias("avg_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value", "avg_value"))


def sessionized(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a 30-min inactivity gap — the streaming twin
    of ev_sessionize (native session_window; closed sessions match the
    batch lag+prefix-sum sessionization).  Convention: session_end is
    the LAST EVENT's timestamp (the batch form's max(ts));
    session_window.end is last-event + gap, so the gap is subtracted."""
    return (events
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    (F.col("w.end") - F.expr(f"INTERVAL {gap}"))
                    .alias("session_end"),
                    "n_events", "sum_value"))


def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach customer dimension columns
    to the event stream (user_id == c_custkey in the synthetic star
    schema).  The static side is broadcast — each micro-batch does a
    map-side hash join, NO shuffle of the stream and no state: this is
    the canonical dimension-enrichment shape.  At 100 TB/day of events
    the dim stays broadcastable (customers are metadata-scale); if it
    ever isn't, pre-bucket both sides on the key and let the join be
    storage-co-located instead.  LEFT join keeps events with no
    matching customer (fact streams outlive dim snapshots)."""
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          "c_name", "c_nationkey")
    return events.join(F.broadcast(dim), "user_id", "left")


def view_purchase_join(views: DataFrame, purchases: DataFrame,
                       gap: str = "30 minutes") -> DataFrame:
    """STREAM-STREAM interval join: each purchase matches the same
    user's view events from the preceding ``gap`` — the streaming twin
    of the batch ev_window_join (pre-aggregation form: the matched
    PAIRS, which are deterministic; per-purchase counts would depend
    on micro-batch boundaries under update mode).

    Both inputs carry event-time watermarks (read_event_stream), and
    the join condition bounds view_ts to a closed interval around
    purchase_ts, so Spark can expire buffered state on BOTH sides once
    the watermark passes purchase_ts (left) / purchase_ts + gap
    (right): state is O(events within watermark+gap horizon), not
    O(stream).  Inner join + append mode is the supported, exactly-once
    shape.  At 100 TB/day both sides hash-partition on user_id — the
    same single-shuffle layout as the batch bucketed form."""
    v = views.select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("ts").alias("view_ts"))
    p = purchases.select(F.col("event_id").alias("purchase_id"),
                         "user_id",
                         F.col("ts").alias("purchase_ts"))
    cond = ((p["user_id"] == v["v_user"])
            & (v["view_ts"] < p["purchase_ts"])
            & (v["view_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {gap}")))
    return (p.join(v, cond, "inner")
            .select("purchase_id", "view_id", "user_id",
                    "purchase_ts", "view_ts"))


def user_running_state(events: DataFrame) -> DataFrame:
    """A8 rolling metrics as a CUSTOM STATEFUL operator
    (applyInPandasWithState): per-user running event count and value
    sum held in executor state, sharded by the groupBy key exactly like
    the batch shuffle (reference twin: in-memory metric mutation,
    rag_engine.py:415-459).

    Emits the running totals after every micro-batch that touches the
    user ("update" mode); the LAST emission per user (max event_count —
    strictly increasing) equals the batch groupBy aggregate, which is
    the oracle check (catalog st_user_running_state).

    Determinism across batch orderings: value is accumulated as
    floor(value*10000) in int64 (exact integer adds commute; float
    sums don't), divided once on emit.  State size: two longs per user
    — at 100 TB this is bounded by |users|, not |events|, and
    NoTimeout is replaced by an event-time timeout to expire idle keys.
    """
    out_schema = "user_id long, event_count long, value_sum double"
    state_schema = "cnt long, vsum long"

    def update(key, pdfs, state):
        cnt, vsum = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            vsum += int(np.floor(pdf["value"].to_numpy() * 10000)
                        .astype("int64").sum())
        state.update((cnt, vsum))
        yield pd.DataFrame({"user_id": [key[0]], "event_count": [cnt],
                            "value_sum": [vsum / 10000.0]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


DOCS_RAW_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (ingest twin of
    the batch S6 scan — in production this is the collector's landing
    directory)."""
    return (spark.readStream.schema(DOCS_RAW_SCHEMA)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the ingest-time twin of the batch
    dd_exact operator: md5 the text, keep the first arrival per hash
    (dropDuplicates keyed on the hash; which duplicate arrives first is
    stream-order dependent, so only the HASH SET is deterministic and
    that is what the oracle checks).

    100 TB notes: plain dropDuplicates holds every seen hash in state
    forever — right for a bounded backfill (availableNow), wrong for an
    unbounded feed.  There, add an arrival-time watermark and use
    dropDuplicatesWithinWatermark so the seen-hash state expires once
    late duplicates can no longer arrive; cross-horizon dedup then
    happens in the periodic batch dd_exact/dd_minhash_lsh sweep."""
    hashed = docs.withColumn(
        "content_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    return hashed.dropDuplicates(["content_hash"])


def dedup_stream_watermarked(events: DataFrame) -> DataFrame:
    """Bounded-state streaming dedup — the unbounded-feed form the
    dedup_stream docstring promises: dropDuplicatesWithinWatermark
    keyed on (user_id, event_type), with the event-time watermark
    EXPIRING seen-key state once late duplicates can no longer arrive.
    Contract differences from plain dropDuplicates: a key can re-emit
    after its state expires (cross-horizon dedup belongs to the
    periodic batch dd_exact sweep), and which duplicate survives is
    arrival-order dependent — so the deterministic, checkable output
    is the KEY SET, which for a single availableNow drain equals the
    batch DISTINCT."""
    return events.dropDuplicatesWithinWatermark(["user_id", "event_type"])


def run_foreach_parquet(result: DataFrame, out_path: str,
                        checkpoint_path: str | None = None) -> None:
    """Drain the streaming plan into a parquet directory via
    foreachBatch — the production sink shape: the checkpoint ties batch
    ids to committed writes, and at 100 TB/day the foreachBatch body is
    where per-batch routing (partitioned dirs, MERGE upserts,
    multi-sink fanout) lives.

    Delivery honesty: restart-skipping of completed batches requires a
    PERSISTENT ``checkpoint_path`` — the default temp checkpoint lives
    only for this call, so a re-run re-reads the source from scratch
    (fine for the availableNow drain-and-exit tests, not a restart
    story).  Even with a persistent checkpoint, plain parquet append is
    at-least-once on a crash INSIDE a batch; exactly-once per epoch
    needs an idempotent-or-transactional batch write (Delta/Iceberg
    MERGE keyed on epoch_id)."""
    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out_path)

    _run_foreach(result, write_batch, checkpoint_path)


def _await_drain(q) -> None:
    """Wait for an availableNow query to finish; stop it and raise if
    it is still running after ``DRAIN_TIMEOUT_S``."""
    finished = q.awaitTermination(DRAIN_TIMEOUT_S)
    q.stop()
    if not finished:
        raise TimeoutError(
            f"stream drain {q.name or q.id} still running after "
            f"{DRAIN_TIMEOUT_S}s; stopped with a partial sink")


def _run_foreach(result: DataFrame, batch_fn,
                 checkpoint_path: str | None) -> None:
    """availableNow foreachBatch drain, with a persistent checkpoint
    when given (survives the call -> restarts skip completed batches)
    or a per-call temp checkpoint otherwise."""
    def _start(ckpt: str):
        return (result.writeStream.foreachBatch(batch_fn)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start())

    if checkpoint_path is not None:
        _await_drain(_start(checkpoint_path))
        return
    with tempfile.TemporaryDirectory(prefix="pgrs_ckpt_") as ckpt:
        _await_drain(_start(ckpt))


def paged_stream(spark: SparkSession, dump: str) -> DataFrame:
    """Streaming read of a ``paged_dump`` directory (offset = index
    into its file list), with the connector registered and its
    filter pushdown enabled."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PagedDumpDataSource)
    return spark.readStream.format("paged_dump").option("path", dump).load()


def doc_pages(docs: DataFrame) -> DataFrame:
    """Documents as pages: the title field carries the full text."""
    return docs.select(F.col("doc_id").cast("string").alias("page_id"),
                       F.col("text").alias("title"), "lang", "n_chars")


def parity_tranches(pages: DataFrame) -> list[DataFrame]:
    """Even page ids, then odd: an arrival order that is deliberately
    not id order, so a fold that depends on it shows."""
    pid = F.col("page_id").cast("long")
    return [pages.filter(pid % 2 == 0), pages.filter(pid % 2 == 1)]


def drain_paged_tranches(spark: SparkSession, name: str,
                         tranches: list[DataFrame], on_batch) -> None:
    """The tranche protocol of the module docstring: for each tranche,
    land it in the page dump under ``scratch(name)`` and drain the new
    pages from one checkpoint, passing each micro-batch's well-formed
    rows (``page_id, title, lang, n_chars``) to
    ``on_batch(rows, epoch_id)``."""
    root = scratch(name)
    shutil.rmtree(root, ignore_errors=True)
    dump, ckpt = os.path.join(root, "dump"), os.path.join(root, "ckpt")
    stream = paged_stream(spark, dump)

    def batch(df: DataFrame, epoch_id: int) -> None:
        on_batch(df.filter(~F.col("malformed")).drop("malformed"), epoch_id)

    for i, pages in enumerate(tranches):
        tmp = f"{dump}_t{i}"
        (pages.select(F.to_json(F.struct(*pages.columns)).alias("value"))
         .repartition(2).write.text(tmp))
        _move_parts(tmp, dump, f"part-{i:05d}", "txt")
        _run_foreach(stream, batch, ckpt)


def _move_parts(tmp: str, into: str, prefix: str, ext: str) -> None:
    """Move the part files of the Spark output dir ``tmp`` into
    ``into`` as ``{prefix}-NNNNN.{ext}``, then drop ``tmp``."""
    os.makedirs(into, exist_ok=True)
    parts = sorted(f for f in os.listdir(tmp) if f.startswith("part-"))
    for j, f in enumerate(parts):
        os.rename(os.path.join(tmp, f),
                  os.path.join(into, f"{prefix}-{j:05d}.{ext}"))
    shutil.rmtree(tmp)


def ship_parquet(part: DataFrame, sdir: str, tag: str) -> None:
    """Land one tranche in the parquet file-source directory ``sdir``
    as ``{tag}-NNNNN.parquet`` files (the file source picks up every
    file it has not yet seen; the tag keeps tranche names apart)."""
    tmp = f"{sdir}_{tag}"
    shutil.rmtree(tmp, ignore_errors=True)
    part.repartition(2).write.parquet(tmp)
    _move_parts(tmp, sdir, tag, "parquet")


def rollup_store_read(spark, store_path: str) -> DataFrame:
    """Read the rollup store, recovering from the ``.bak`` copy if a
    crash landed between the two renames of the promote sequence (old
    -> .bak, tmp -> store): at every instant at least one complete
    store directory exists."""
    bak = store_path + ".bak"
    if not os.path.exists(store_path) and os.path.exists(bak):
        os.rename(bak, store_path)
    return spark.read.parquet(store_path)


def run_rollup_merge(events: DataFrame, store_path: str,
                     checkpoint_path: str | None = None) -> None:
    """STREAMING materialized-view maintenance: each micro-batch is
    partial-aggregated to (day, event_type) counts/scaled-sums and
    MERGED into the rollup store by re-aggregating store + increment
    (algebraic partials — the ev_incremental_rollup math, driven by
    foreachBatch).  Maintenance cost per batch: O(batch + store rows),
    never O(history of raw events).

    Crash safety of the local-parquet store: the rewrite promotes via
    old -> .bak, tmp -> store, drop .bak — a complete store directory
    exists at every instant (``rollup_store_read`` recovers from .bak
    if the crash landed between the renames).  Delivery honesty: with
    the default per-call temp checkpoint a re-run replays all input
    (idempotent only because availableNow re-aggregates from scratch
    against the store is NOT — pass a persistent ``checkpoint_path``
    so restarts skip merged batches); and rename-promote is
    atomic-per-directory, not transactional across readers — a
    Delta/Iceberg sink turns this into a real MERGE with snapshot
    isolation."""
    def rollup(df: DataFrame) -> DataFrame:
        scaled = F.round(F.col("value") * 10000).cast("long")
        return (df.withColumn(
                    "day",
                    F.date_trunc("DAY", F.col("ts").cast("timestamp"))
                    .cast("date").cast("string"))
                .groupBy("day", "event_type")
                .agg(F.count("*").alias("n_events"),
                     F.sum(scaled).alias("value_scaled")))

    def merge_batch(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        inc = rollup(df)
        if os.path.exists(store_path) or os.path.exists(store_path + ".bak"):
            merged = (rollup_store_read(spark, store_path)
                      .unionByName(inc)
                      .groupBy("day", "event_type")
                      .agg(F.sum("n_events").alias("n_events"),
                           F.sum("value_scaled").alias("value_scaled")))
        else:
            merged = inc
        tmp = store_path + ".tmp"
        bak = store_path + ".bak"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(bak, ignore_errors=True)
        if os.path.exists(store_path):
            os.rename(store_path, bak)
        os.rename(tmp, store_path)
        shutil.rmtree(bak, ignore_errors=True)

    _run_foreach(events, merge_batch, checkpoint_path)


def run_available_now(result: DataFrame, table_name: str,
                      output_mode: str = "complete") -> DataFrame:
    """Drain all available input through the streaming plan into an
    in-memory sink and return the sink contents as a DataFrame."""
    with tempfile.TemporaryDirectory(prefix="pgrs_ckpt_") as ckpt:
        _await_drain(result.writeStream.format("memory")
                     .queryName(table_name)
                     .outputMode(output_mode)
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True)
                     .start())
    return result.sparkSession.table(table_name)
