"""Sink/source roundtrips (SURVEY §2.1 S8-S14): parquet append, JSON
backup, status mark, cascading delete, storage stats."""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import functions as F
import pytest

from production_grade_rag_spark.operators.chunking import chunk_fixed
from production_grade_rag_spark.sources import (
    cascading_delete,
    load_table,
    mark_status,
    storage_stats,
    write_json_backup,
    write_parquet,
)

from conftest import SF001


def test_parquet_roundtrip_and_append(spark):
    docs = load_table(spark, SF001, "documents").limit(20)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/documents"
        write_parquet(docs, path)                       # S8
        write_parquet(docs, path)                       # append batch 2 (S9)
        back = spark.read.parquet(path)
        assert back.count() == 40
        assert set(back.columns) == set(docs.columns)


def test_json_backup_roundtrip(spark):
    docs = load_table(spark, SF001, "documents").limit(10) \
        .select("doc_id", "source", "lang")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/backup"
        write_json_backup(docs, path)                   # S13
        assert len(list(Path(path).glob("*.json"))) >= 1
        back = spark.read.json(path)
        assert back.count() == 10
        assert {r["doc_id"] for r in back.collect()} == \
               {r["doc_id"] for r in docs.collect()}


def test_mark_status(spark):
    docs = load_table(spark, SF001, "documents").limit(5)
    out = mark_status(docs, "completed")                # S10/S12
    rows = out.select("processing_status", "updated_at").collect()
    assert all(r["processing_status"] == "completed" for r in rows)
    assert all(r["updated_at"] is not None for r in rows)


def test_cascading_delete(spark):
    docs = load_table(spark, SF001, "documents")
    chunks = chunk_fixed(docs.limit(100))
    delete_ids = docs.select("doc_id").limit(10)
    kept_docs, kept_chunks = cascading_delete(docs, chunks, delete_ids)  # S11
    deleted = {r["doc_id"] for r in delete_ids.collect()}
    assert not deleted & {r["doc_id"] for r in kept_docs.collect()}
    assert not deleted & {r["doc_id"] for r in kept_chunks.collect()}
    assert kept_docs.count() == docs.count() - 10


def test_cascading_delete_hint_paths(spark):
    # broadcast_hint=True plans a forced broadcast anti-join;
    # broadcast_hint=False leaves strategy to AQE (no ResolvedHint /
    # broadcast join node forced in the analyzed plan) — both produce
    # the same kept set.
    docs = load_table(spark, SF001, "documents")
    chunks = chunk_fixed(docs.limit(100))
    delete_ids = docs.select("doc_id").limit(10)
    hinted, _ = cascading_delete(docs, chunks, delete_ids,
                                 broadcast_hint=True)
    unhinted, _ = cascading_delete(docs, chunks, delete_ids,
                                   broadcast_hint=False)
    assert "UnresolvedHint BROADCAST" in hinted._jdf.queryExecution() \
        .logical().toString() or "ResolvedHint" in hinted._jdf \
        .queryExecution().analyzed().toString()
    assert "ResolvedHint" not in unhinted._jdf.queryExecution() \
        .analyzed().toString()
    assert sorted(r["doc_id"] for r in hinted.collect()) == \
        sorted(r["doc_id"] for r in unhinted.collect())


def test_storage_stats(spark):
    docs = load_table(spark, SF001, "documents")
    chunks = chunk_fixed(docs.limit(50))
    row = storage_stats(docs, chunks).first()           # S14
    assert row["document_count"] == docs.count()
    assert row["chunk_count"] == chunks.count()


def test_scan_pushdown_reaches_parquet(spark):
    """S6: filters and projections must reach the scan node
    (SURVEY §4: Catalyst pushdown is load-bearing at 100 TB)."""
    docs = load_table(spark, SF001, "documents")
    plan = (docs.filter(F.col("doc_id") == 5).select("doc_id", "source")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,5)]" in plan
    lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert lines and "text" not in lines[0], "projection must prune text"


def test_json_dump_roundtrip_and_corrupt_capture(spark, tmp_path):
    from production_grade_rag_spark.sources import (
        read_json_dump, split_corrupt, write_json_dump)
    docs = load_table(spark, SF001, "documents").limit(20) \
        .select("doc_id", "source", "n_chars")
    path = str(tmp_path / "dump")
    write_json_dump(docs, path,
                    corrupt_lines=['{"doc_id": oops', "garbage line"])
    df = read_json_dump(
        spark, path, schema="doc_id BIGINT, source STRING, n_chars BIGINT")
    good, bad = split_corrupt(df)
    assert good.count() == 20
    assert bad.count() == 2
    captured = {r["_corrupt_record"] for r in bad.collect()}
    assert captured == {'{"doc_id": oops', "garbage line"}
    # parsed values survive the roundtrip
    orig = {(r["doc_id"], r["source"], r["n_chars"])
            for r in docs.collect()}
    back = {(r["doc_id"], r["source"], r["n_chars"])
            for r in good.collect()}
    assert orig == back


def test_json_dump_inferred_schema_has_stable_corrupt_col(spark, tmp_path):
    from production_grade_rag_spark.sources import read_json_dump
    docs = load_table(spark, SF001, "documents").limit(5) \
        .select("doc_id", "source")
    from production_grade_rag_spark.sources import write_json_dump
    path = str(tmp_path / "clean_dump")
    write_json_dump(docs, path)   # no corrupt lines
    df = read_json_dump(spark, path)
    assert "_corrupt_record" in df.columns
    assert df.filter(df["_corrupt_record"].isNotNull()).count() == 0


def test_upsert_partitions_rewrites_only_present_partitions(spark, tmp_path):
    from production_grade_rag_spark.sources.tables import upsert_partitions
    docs = load_table(spark, SF001, "documents").limit(30)
    tagged = mark_status(docs, "pending")
    path = str(tmp_path / "status_table")
    # seed: 30 pending rows
    tagged.write.partitionBy("processing_status").parquet(path)
    # upsert: 10 of them flip to completed; ONLY that partition is
    # written — pending keeps all 30 original rows
    done = mark_status(docs.limit(10), "completed")
    upsert_partitions(done, path, ["processing_status"])
    back = spark.read.parquet(path)
    counts = {r["processing_status"]: r["n"] for r in
              back.groupBy("processing_status")
              .agg(F.count("*").alias("n")).collect()}
    assert counts == {"pending": 30, "completed": 10}
    # overwriting an EXISTING partition replaces just its contents
    done5 = mark_status(docs.limit(5), "completed")
    upsert_partitions(done5, path, ["processing_status"])
    back2 = spark.read.parquet(path)
    counts2 = {r["processing_status"]: r["n"] for r in
               back2.groupBy("processing_status")
               .agg(F.count("*").alias("n")).collect()}
    assert counts2 == {"pending": 30, "completed": 5}
    # conf restored
    try:
        mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    except Exception:
        mode = None
    assert mode in (None, "STATIC", "static")


def test_salted_join_matches_plain_join(spark):
    import pytest
    from production_grade_rag_spark.operators.skew import salted_join
    events = load_table(spark, SF001, "events")
    dim = events.groupBy("user_id").agg(F.count("*").alias("user_events"))
    fact = events.select("event_id", "user_id")
    plain = {(r["event_id"], r["user_events"]) for r in
             fact.join(dim, "user_id").collect()}
    salted = {(r["event_id"], r["user_events"]) for r in
              salted_join(fact, dim, "user_id", n_salts=8).collect()}
    assert salted == plain and plain
    # left join keeps unmatched fact rows
    dim_half = dim.filter(F.col("user_id") % 2 == 0)
    pl = {(r["event_id"], r["user_events"]) for r in
          fact.join(dim_half, "user_id", "left").collect()}
    sl = {(r["event_id"], r["user_events"]) for r in
          salted_join(fact, dim_half, "user_id", n_salts=8,
                      how="left").collect()}
    assert sl == pl
    with pytest.raises(ValueError):
        salted_join(fact, dim, "user_id", how="full")


def test_compact_parquet_reduces_files_keeps_rows(spark, tmp_path):
    from production_grade_rag_spark.sources.tables import compact_parquet
    from pathlib import Path
    docs = load_table(spark, SF001, "documents").limit(40) \
        .select("doc_id", "source", "n_chars")
    path = str(tmp_path / "fragmented")
    # fragment: 20 tiny files
    docs.repartition(20).write.parquet(path)
    assert len(list(Path(path).glob("part-*"))) == 20
    before = {tuple(r) for r in docs.collect()}
    n_files = compact_parquet(spark, path, target_rows_per_file=25)
    assert n_files == 2
    parts = list(Path(path).glob("part-*"))
    assert len(parts) == 2
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_compact_parquet_rejects_remote_uri(spark):
    from production_grade_rag_spark.sources.tables import compact_parquet
    import pytest
    with pytest.raises(ValueError, match="local-filesystem-only"):
        compact_parquet(spark, "s3://bucket/table")


def test_salted_ops_under_manufactured_skew(spark):
    # Round-3 verdict item 5: the salted plans were only ever exercised
    # on uniform testdata.  Manufacture a hot key (30% of 20k fact rows
    # on user_id=1), then assert (a) the salted join/agg results are
    # IDENTICAL to their unsalted oracles on the skewed input, (b) the
    # salt column actually reaches the physical shuffle, and (c) the
    # hot key genuinely spreads across many salt values — validating
    # the cost-model note in operators/skew.py.
    from production_grade_rag_spark.operators.skew import salted_join

    n = 20_000
    fact = (spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 10 < 3, F.lit(1))       # 30% hot
         .otherwise(F.pmod(F.col("id"), F.lit(500))).alias("user_id"),
        (F.col("id") % 97).alias("amount")))
    dim = (spark.range(500).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("segment_"), (F.col("id") % 7)).alias("segment")))

    hot = fact.filter(F.col("user_id") == 1)
    assert hot.count() == n * 3 // 10

    # (a) join parity on skewed data
    salted = salted_join(fact, dim, "user_id", n_salts=8)
    plain = fact.join(dim, "user_id")
    assert salted.count() == plain.count() == n
    s = {(r["event_id"], r["segment"]) for r in salted.collect()}
    p = {(r["event_id"], r["segment"]) for r in plain.collect()}
    assert s == p

    # (a') two-phase salted agg parity (the ev_skew_salted_agg pattern)
    two_phase = (fact
                 .withColumn("__salt", F.pmod(F.hash("event_id"), F.lit(16)))
                 .groupBy("user_id", "__salt")
                 .agg(F.count("*").alias("c"), F.sum("amount").alias("s"))
                 .groupBy("user_id")
                 .agg(F.sum("c").alias("n_events"),
                      F.sum("s").alias("total")))
    direct = fact.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("amount").alias("total"))
    assert {tuple(r) for r in two_phase.collect()} == \
           {tuple(r) for r in direct.collect()}

    # (b) the salt is part of the join's physical shuffle key.  At
    # this toy size AQE (correctly) broadcasts the 500-row dim and no
    # shuffle exists — the very situation salting is NOT for — so
    # disable auto-broadcast to expose the shuffle plan salting
    # targets at scale (dim too big to broadcast).
    for key in ("spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold"):
        spark.conf.set(key, "-1")
    try:
        shuffled = salted_join(fact, dim, "user_id", n_salts=8)
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan and "hashpartitioning" in plan
        assert {(r["event_id"], r["segment"])
                for r in shuffled.collect()} == p
    finally:
        for key in ("spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold"):
            spark.conf.unset(key)

    # (c) the hot key spreads across salts (cost model: hot rows no
    # longer land on one reducer).  Same salt expression as salted_join
    # (whole-row hash).
    spread = (fact.filter(F.col("user_id") == 1)
              .select(F.pmod(F.hash(*[F.col(c) for c in fact.columns]),
                             F.lit(8)).alias("salt"))
              .distinct().count())
    assert spread == 8


def test_paged_dump_custom_datasource(spark, tmp_path):
    """The custom Python DataSource must read page batches in
    EXECUTOR-side partitions (one per dump file), apply its fixed
    schema without inference, and yield a marker row per malformed
    line instead of failing the task."""
    import json as _json
    from pyspark.sql import functions as F
    from production_grade_rag_spark.sources.paged_source import (
        PagedDumpDataSource)

    dump = tmp_path / "dump"
    dump.mkdir()
    rows = [{"page_id": i, "title": f"t{i}", "lang": "en", "n_chars": i * 3}
            for i in range(20)]
    for part in range(4):
        with open(dump / f"part-{part:04d}.txt", "w") as fh:
            for r in rows[part * 5:(part + 1) * 5]:
                fh.write(_json.dumps(r) + "\n")
    with open(dump / "part-zz.txt", "w") as fh:
        fh.write("not json at all\n")

    spark.dataSource.register(PagedDumpDataSource)
    df = spark.read.format("paged_dump").option("path", str(dump)).load()
    assert df.schema.simpleString() == (
        "struct<page_id:string,title:string,lang:string,"
        "n_chars:bigint,malformed:boolean>")
    # 5 files -> 5 input partitions (executor-side pagination)
    assert df.rdd.getNumPartitions() == 5
    good = df.filter(~F.col("malformed"))
    assert good.count() == 20
    assert df.filter(F.col("malformed")).count() == 1
    got = {(r["page_id"], r["n_chars"]) for r in good.collect()}
    assert got == {(str(i), i * 3) for i in range(20)}


def test_paged_dump_filter_pushdown(spark, tmp_path):
    """pushFilters contract: equality conjuncts on lang/title/page_id
    are consumed (applied inside read(), like a REST request filter),
    everything else is yielded back as residual; end-to-end results
    must equal Spark-side filtering."""
    import json as _json
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from production_grade_rag_spark.sources.paged_source import (
        PagedDumpDataSource, PagedDumpReader)

    dump = tmp_path / "dump"
    dump.mkdir()
    with open(dump / "part-0000.txt", "w") as fh:
        for i in range(10):
            fh.write(_json.dumps(
                {"page_id": i, "title": f"t{i}",
                 "lang": "en" if i % 2 == 0 else "zh",
                 "n_chars": i}) + "\n")
        fh.write("broken line\n")

    # unit contract: supported filters consumed, others residual
    r = PagedDumpReader({"path": str(dump)})
    eq = EqualTo(("lang",), "en")
    ge = GreaterThanOrEqual(("n_chars",), 4)
    residual = list(r.pushFilters([eq, ge]))
    assert residual == [ge]
    assert r._pushed == [("lang", "en")]
    [part] = r.partitions()
    rows = list(r.read(part))
    assert rows and all(t[2] == "en" for t in rows)
    assert not any(t[4] for t in rows)   # no malformed markers leak

    # end-to-end: pushed read == unpushed read + Spark filter
    spark.dataSource.register(PagedDumpDataSource)
    df = spark.read.format("paged_dump").option("path", str(dump)).load()
    pushed = df.filter(F.col("lang") == "en").collect()
    assert sorted(r["page_id"] for r in pushed) == \
        [str(i) for i in range(0, 10, 2)]


def test_paged_dump_stream_reader_exactly_once(spark, tmp_path):
    """The streaming reader's offsets must checkpoint per file batch:
    a second drain with the SAME checkpoint emits only files that
    appeared after the first drain — no re-emission (exactly-once per
    page batch), and new files are picked up."""
    import json as _json
    from production_grade_rag_spark.sources.paged_source import (
        PagedDumpDataSource)

    dump = tmp_path / "dump"
    dump.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_file(part: int, ids: list[int]) -> None:
        with open(dump / f"part-{part:04d}.txt", "w") as fh:
            for i in ids:
                fh.write(_json.dumps(
                    {"page_id": i, "title": f"t{i}", "lang": "en",
                     "n_chars": i}) + "\n")

    out = str(tmp_path / "out")

    def drain() -> set[str]:
        # parquet sink: supports checkpoint RECOVERY (memory sink does
        # not), so the second drain resumes from the committed offset
        df = (spark.readStream.format("paged_dump")
              .option("path", str(dump)).load())
        q = (df.writeStream.format("parquet")
             .option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        return {r["page_id"] for r in spark.read.parquet(out).collect()}

    spark.dataSource.register(PagedDumpDataSource)
    add_file(0, [1, 2])
    add_file(1, [3])
    assert drain() == {"1", "2", "3"}

    add_file(2, [4, 5])
    # same checkpoint -> resumed offset -> only the new file appended,
    # nothing re-emitted (total stays 5 rows, not 8)
    assert drain() == {"1", "2", "3", "4", "5"}
    assert spark.read.parquet(out).count() == 5


def test_paged_dump_writer_commit_protocol(spark, tmp_path):
    """The write side: each task stages a uniquely-named page file and
    the driver-side commit publishes a _MANIFEST of exactly the
    committed files; readers honor the manifest, so stray/aborted
    files are invisible; append merges the committed set."""
    import json as _json
    from pyspark.sql import functions as F
    from production_grade_rag_spark.sources.paged_source import (
        PagedDumpDataSource)

    spark.dataSource.register(PagedDumpDataSource)
    out = str(tmp_path / "dump")
    df = spark.createDataFrame(
        [(str(i), f"t{i}", "en", i, False) for i in range(12)],
        "page_id string, title string, lang string, n_chars bigint, "
        "malformed boolean")
    df.repartition(3).write.format("paged_dump") \
        .option("path", out).mode("append").save()

    import glob as _glob
    import os as _os
    man = _json.load(open(_os.path.join(out, "_MANIFEST")))
    assert man["n_rows"] == 12 and len(man["files"]) == 3

    # a stray uncommitted file must be invisible to the reader
    with open(_os.path.join(out, "part-99999-stray.txt"), "w") as fh:
        fh.write(_json.dumps({"page_id": 999, "title": "x",
                              "lang": "en", "n_chars": 1}) + "\n")
    back = spark.read.format("paged_dump").option("path", out).load()
    assert back.count() == 12
    assert back.filter(F.col("page_id") == "999").count() == 0

    # append merges: a second write adds rows without hiding the first
    df2 = spark.createDataFrame(
        [("100", "t100", "zh", 5, False)], df.schema)
    df2.coalesce(1).write.format("paged_dump") \
        .option("path", out).mode("append").save()
    back2 = spark.read.format("paged_dump").option("path", out).load()
    assert back2.count() == 13
    # round trip preserves values
    got = {(r["page_id"], r["n_chars"]) for r in back2.collect()}
    assert ("100", 5) in got and ("5", 5) in got


def test_paged_dump_writer_abort_leaves_no_manifest(spark, tmp_path):
    """Commit protocol failure half: when a task fails the job, no
    _MANIFEST is published, abort unlinks the staged files it was told
    about, and a subsequent manifest-less read of the dir sees only
    what actually exists — nothing committed."""
    import os as _os
    import pytest as _pytest
    from pyspark.sql import functions as F
    from production_grade_rag_spark.sources.paged_source import (
        PagedDumpDataSource)

    spark.dataSource.register(PagedDumpDataSource)
    out = str(tmp_path / "dump_abort")

    @F.udf("string")
    def boom(v):
        if v == "die":
            raise RuntimeError("injected task failure")
        return v

    df = spark.createDataFrame(
        [("1", "ok", "en", 1, False), ("2", "die", "en", 2, False)],
        "page_id string, title string, lang string, n_chars bigint, "
        "malformed boolean").repartition(2)
    bad = df.withColumn("title", boom(F.col("title")))
    with _pytest.raises(Exception):
        bad.write.format("paged_dump").option("path", out) \
            .mode("append").save()
    assert not _os.path.exists(_os.path.join(out, "_MANIFEST"))


@pytest.mark.fulltier  # driver-window tier (VERDICT r15 #1): heaviest pins, unrelated to r16 changes
def test_paged_dump_roundtrip_fuzz(spark, tmp_path):
    """Property: ANY unicode title (newlines, quotes, CJK, emoji)
    survives the write->manifest->read round trip byte-exact —
    JSON-lines escaping is the load-bearing detail."""
    from hypothesis import given, settings, strategies as st
    from production_grade_rag_spark.sources.paged_source import (
        PagedDumpDataSource)

    spark.dataSource.register(PagedDumpDataSource)
    box = {"n": 0}

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.text(max_size=40), min_size=1, max_size=6))
    def prop(titles):
        box["n"] += 1
        out = str(tmp_path / f"fuzz_{box['n']}")
        rows = [(str(i), t, "en", len(t), False)
                for i, t in enumerate(titles)]
        df = spark.createDataFrame(
            rows, "page_id string, title string, lang string, "
                  "n_chars bigint, malformed boolean")
        df.coalesce(1).write.format("paged_dump") \
            .option("path", out).mode("append").save()
        back = spark.read.format("paged_dump") \
            .option("path", out).load().collect()
        assert sorted((r["page_id"], r["title"]) for r in back) == \
            sorted((str(i), t) for i, t in enumerate(titles))
        assert not any(r["malformed"] for r in back)

    prop()


def test_dq_rules_fire_on_injected_violations(spark, tmp_path):
    """The data-quality rules must actually FIRE: a corpus with
    injected violations (bad lang, inconsistent n_chars, orphan user,
    negative value) reports exactly those counts."""
    from pyspark.sql import functions as F
    from production_grade_rag_spark.plans.catalog import CATALOG

    d = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "hello world", "en", 11),
         (2, "bad lang", "xx", 8),          # lang violation
         (3, "mismatch", "en", 999)],       # n_chars violation
        "doc_id long, text string, lang string, n_chars long")
    docs.write.parquet(f"{d}/documents.parquet")
    ev = spark.createDataFrame(
        [(1, 10, "click", 1.0), (2, 10, "view", -5.0),   # negative value
         (3, 999, "click", 2.0)],                        # orphan user
        "event_id long, user_id long, event_type string, value double") \
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-01")))
    ev.write.parquet(f"{d}/events.parquet")
    spark.createDataFrame([(10, "c", 0, 1.0, "B")],
                          "c_custkey long, c_name string, c_nationkey long,"
                          " c_acctbal double, c_mktsegment string") \
        .write.parquet(f"{d}/customer.parquet")

    got = {r["rule"]: (r["n_checked"], r["n_violations"])
           for r in CATALOG["dq_rules"].build(spark, d).collect()}
    assert got["documents.lang_in_domain"] == (3, 1)
    assert got["documents.n_chars_consistent"] == (3, 1)
    assert got["events.user_fk_in_customer"] == (3, 1)
    assert got["events.value_non_negative"] == (3, 1)
