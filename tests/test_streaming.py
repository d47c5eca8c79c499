"""Streaming twins must agree with the batch operators on the same
data (closed windows only — availableNow drains everything, so every
window is closed)."""

from __future__ import annotations

from production_grade_rag_spark.plans.catalog import CATALOG
from production_grade_rag_spark.streaming import pipeline as sp

from conftest import SF001


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_hourly_counts_stream_matches_batch(spark):
    events = sp.read_event_stream(spark, SF001)
    out = sp.run_available_now(sp.hourly_counts(events), "t_hourly")
    batch = CATALOG["ev_hourly_event_counts"].build(spark, SF001)
    cols = ["window_start", "event_type", "n_events", "sum_value", "avg_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_user_running_state_across_microbatches(spark, tmp_path):
    """applyInPandasWithState must carry state ACROSS micro-batches:
    split the events into 3 files, force one file per trigger, and the
    final per-user emission must equal the batch groupBy aggregate."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    src = str(tmp_path / "events_split")
    events = spark.read.parquet(f"{SF001}/events.parquet")
    events.repartition(3).write.parquet(src)

    raw = (spark.readStream.schema(events.schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(src))
    stream = sp.normalize_event_ts(raw).withWatermark("ts", "2 hours")
    updates = sp.run_available_now(sp.user_running_state(stream),
                                   "t_user_state", output_mode="update")
    # >1 emission for at least one user proves multiple micro-batches ran
    assert updates.count() > updates.select("user_id").distinct().count()

    w = Window.partitionBy("user_id").orderBy(F.desc("event_count"))
    final = (updates.withColumn("rn", F.row_number().over(w))
             .filter("rn = 1").select("user_id", "event_count", "value_sum"))
    batch = (spark.read.parquet(f"{SF001}/events.parquet")
             .groupBy("user_id")
             .agg(F.count("*").alias("event_count"),
                  (F.sum(F.floor(F.col("value") * 10000).cast("long"))
                   / 10000.0).alias("value_sum")))
    cols = ["user_id", "event_count", "value_sum"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_sessionize_stream_matches_batch(spark):
    events = sp.read_event_stream(spark, SF001)
    out = sp.run_available_now(sp.sessionized(events), "t_sessions")
    batch = CATALOG["ev_sessionize"].build(spark, SF001)
    # batch emits (user_id, session_id); compare on the session extents
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    assert _rows(out, cols) == _rows(batch.select(*cols), cols)


def test_stream_dedup_matches_batch_distinct(spark):
    from production_grade_rag_spark.streaming import pipeline as SP
    from production_grade_rag_spark.sources import load_table
    from conftest import SF001
    from pyspark.sql import functions as F
    stream = SP.dedup_stream(SP.read_document_stream(spark, SF001))
    out = SP.run_available_now(stream, "t_dedup_stream",
                               output_mode="append")
    docs = load_table(spark, SF001, "documents")
    batch_hashes = {r["h"] for r in docs.select(
        F.md5(F.coalesce("text", F.lit(""))).alias("h")).distinct().collect()}
    rows = out.collect()
    assert {r["content_hash"] for r in rows} == batch_hashes
    assert len(rows) == len(batch_hashes)   # exactly one survivor per hash


def test_watermark_drops_late_events(spark, tmp_path):
    """The watermark's semantic effect, not just its presence: an event
    arriving AFTER the watermark passed its window must be excluded
    from the (append-finalized) aggregate, while the same data in a
    batch plan counts it — this is the state-bounding contract the
    100 TB notes rely on."""
    import datetime
    import glob
    import os
    import shutil

    import pyspark.sql.functions as F

    src = tmp_path / "late_src"
    src.mkdir()

    def ts(h, m):
        return datetime.datetime(2026, 1, 1, h, m)

    def add_file(name, rows, mtime):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double") \
            .coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = str(src / f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    # Spark keeps TWO watermarks per batch (SPARK-40925): eviction uses
    # the current one, the late-row filter uses the PREVIOUS batch's —
    # so a drop needs the late row to arrive two batches after the
    # watermark-advancing event.
    # batch 1: on-time 09:30 + a 12:05 event (2h watermark -> 10:05).
    add_file("b1", [(ts(9, 30), "click", 1.0), (ts(12, 5), "click", 1.0)],
             mtime=1_600_000_000)
    # batch 2: evicts+emits the [09:00,10:00) window (eviction wm
    # 10:05 > window end).
    add_file("b2", [(ts(12, 10), "click", 1.0)], mtime=1_600_000_100)
    # batch 3: a LATE 09:45 event — late-filter wm is now 10:05, the
    # row is dropped, the closed window is NOT re-emitted.
    add_file("b3", [(ts(9, 45), "click", 1.0), (ts(12, 45), "click", 1.0)],
             mtime=1_600_000_200)

    raw = (spark.readStream
           .schema("ts timestamp, event_type string, value double")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(src)))
    out = sp.hourly_counts(raw.withWatermark("ts", "2 hours"))
    q = (out.writeStream.format("memory").queryName("t_late")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress
                  for s in (p.get("stateOperators") or []))
    emitted = {r["window_start"].hour: r["n_events"]
               for r in spark.table("t_late").collect()}

    # exactly the late row was dropped by the watermark
    assert dropped == 1
    # the 09:00 window closed with ONLY the on-time event
    assert emitted.get(9) == 1
    # 12:00's window never finalized (watermark 10:45) -> not emitted
    assert 12 not in emitted
    # the batch plan over the same files counts the late event too
    batch = sp.hourly_counts(
        spark.read.parquet(str(src)).withWatermark("ts", "2 hours"))
    bcounts = {r["window_start"].hour: r["n_events"]
               for r in batch.collect()}
    assert bcounts[9] == 2


def test_events_loader_handles_both_ts_encodings(spark, tmp_path):
    """The testdata generator has shipped events.ts as TIMESTAMP(NANOS)
    and as plain timestamp[us] across regenerations (the round-5
    regression): the batch loader, the sessionize plan, and the stream
    source must produce identical results for BOTH physical encodings."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.sources import load_table

    src = pq.read_table(f"{SF001}/events.parquet")
    i = src.schema.get_field_index("ts")
    us_dir, ns_dir = str(tmp_path / "us"), str(tmp_path / "ns")
    for d, unit in ((us_dir, "us"), (ns_dir, "ns")):
        import os
        os.makedirs(d, exist_ok=True)
        t = src.set_column(
            i, pa.field("ts", pa.timestamp(unit)),
            src.column("ts").cast(pa.timestamp(unit)))
        pq.write_table(t, f"{d}/events.parquet",
                       coerce_timestamps=None, store_schema=False)
    # physical encodings actually differ
    assert str(pq.read_schema(f"{ns_dir}/events.parquet").field("ts").type) \
        == "timestamp[ns]"

    def rows(d):
        return sorted(
            (r["user_id"], r["session_id"], str(r["session_start"]),
             r["n_events"], r["sum_value"])
            for r in CATALOG["ev_sessionize"].build(spark, d).collect())

    assert rows(us_dir) == rows(ns_dir)
    assert load_table(spark, us_dir, "events").schema["ts"].dataType \
        .typeName().startswith("timestamp")

    # streaming twin reads both too
    for d in (us_dir, ns_dir):
        out = sp.run_available_now(
            sp.hourly_counts(sp.read_event_stream(spark, d)),
            f"t_enc_{d.rsplit('/', 1)[-1]}")
        assert out.count() > 0


def test_streaming_rollup_merge_across_batches(spark, tmp_path):
    """run_rollup_merge must fold each micro-batch's partials into the
    store (3 files -> 3 merge epochs) and end exactly equal to the
    one-shot batch rollup — the streaming materialized-view loop."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ev_split")
    events = spark.read.parquet(f"{SF001}/events.parquet")
    events.repartition(3).write.parquet(src)
    store = str(tmp_path / "rollup_store")

    raw = (spark.readStream.schema(events.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    sp.run_rollup_merge(sp.normalize_event_ts(raw), store)

    got = spark.read.parquet(store)
    scaled = F.round(F.col("value") * 10000).cast("long")
    want = (sp.normalize_event_ts(spark.read.parquet(src))
            .withColumn("day", F.date_trunc("DAY", F.col("ts"))
                        .cast("date").cast("string"))
            .groupBy("day", "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(scaled).alias("value_scaled")))
    cols = ["day", "event_type", "n_events", "value_scaled"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_rollup_crash_recovery_and_restart(spark, tmp_path):
    """The promote sequence (old -> .bak, tmp -> store, drop .bak)
    leaves a complete store at every instant: rollup_store_read must
    recover from .bak when a crash landed between the renames.  And
    with a PERSISTENT checkpoint, a restarted run must skip already-
    merged batches instead of double-counting them."""
    import os
    import shutil
    import pyspark.sql.functions as F

    src = str(tmp_path / "ev_split")
    events = spark.read.parquet(f"{SF001}/events.parquet")
    events.repartition(2).write.parquet(src)
    store = str(tmp_path / "rollup_store")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return sp.normalize_event_ts(
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1).parquet(src))

    sp.run_rollup_merge(stream(), store, checkpoint_path=ckpt)
    baseline = _rows(sp.rollup_store_read(spark, store),
                     ["day", "event_type", "n_events", "value_scaled"])

    # restart with the SAME checkpoint: no new input -> store unchanged
    # (a temp checkpoint would replay everything and double the counts)
    sp.run_rollup_merge(stream(), store, checkpoint_path=ckpt)
    again = _rows(sp.rollup_store_read(spark, store),
                  ["day", "event_type", "n_events", "value_scaled"])
    assert again == baseline

    # crash between the two renames: store gone, .bak present
    os.rename(store, store + ".bak")
    recovered = _rows(sp.rollup_store_read(spark, store),
                      ["day", "event_type", "n_events", "value_scaled"])
    assert recovered == baseline
    assert os.path.exists(store) and not os.path.exists(store + ".bak")
    shutil.rmtree(store)


def test_incremental_curation_matches_batch(spark):
    """st_cc_curate (custom-source stream -> per-batch curation ->
    versioned keeper upsert, resuming across two tranches) must equal
    batch cc_curate over the same corpus, and must leave a multi-
    version history behind (each merge commits a snapshot)."""
    from production_grade_rag_spark.plans.catalog import CATALOG
    from production_grade_rag_spark.session import scratch
    from production_grade_rag_spark.sources.tables import list_versions

    cols = ["doc_id", "detected_lang", "quality_score", "est_tokens",
            "group_size"]
    got = _rows(CATALOG["st_cc_curate"].build(spark, SF001), cols)
    want = _rows(CATALOG["cc_curate"].build(spark, SF001), cols)
    assert got == want
    versions = list_versions(spark, scratch("st_cc_store"))
    assert len(versions) >= 2, \
        "two tranches must commit at least two store versions"
