"""Batch sources/sinks over parquet (SURVEY §2.1, S6-S14).

The reference's live connectors (Notion REST, crawler, Mongo) become
file-based batch sources here; documents arrive as parquet.  Scans go
through ``spark.read.parquet`` so Catalyst pushes filters and prunes
columns down to the parquet reader (check: ``PushedFilters`` /
``ReadSchema`` in ``.explain("formatted")``).

Versioned tables (``write_version`` .. ``fold_version``) are one
immutable parquet snapshot per ``v=<n>/`` directory; the streaming
twins commit every micro-batch through ``fold_version``, keyed by its
epoch.

100 TB notes: each table is a parquet directory; partition `documents`
by a bucket of doc_id and `events` by date(ts) at write time so scans
prune.  Nothing here collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S6-style scan: parquet read; add .filter/.limit at the call site
    (reference: vector_storage/document_repository.py:236-267).

    events.ts has shipped in two physical encodings across testdata
    regenerations — TIMESTAMP(NANOS) (read as a nanos long under
    spark.sql.legacy.parquet.nanosAsLong, then truncated to a
    microsecond timestamp below, matching DuckDB's ns->us cast) and
    plain timestamp[us] (read as-is) — so everything here branches on
    the OBSERVED dtype rather than assuming one.
    """
    if name == "events":
        # if events.parquet stores TIMESTAMP(NANOS), a vanilla session
        # throws PARQUET_TYPE_ILLEGAL without this runtime conf before
        # the bigint->timestamp conversion below can run (a
        # timestamp[us] file ignores the conf).  Set it only for
        # the duration of the read (the relation captures its schema at
        # read time — verified: execution after restore still works), so
        # the caller's session conf is left exactly as we found it.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # documents/embeddings arrive as one parquet row group -> one scan
    # task, but their downstream work is expression-heavy per row
    # (regex cleaning, chunking, hashing, cosine): repartition these two
    # to restore parallelism (shuffling ~10^3 narrow rows is free).
    # Fact tables (lineitem/orders/events) are NOT repartitioned: their
    # consumers aggregate or join, where map-side partial agg + the
    # operator's own shuffle already parallelize — an up-front
    # round-robin exchange of the whole table only adds a stage
    # (measured 2x on TPC-H Q1 at sf0.1).  On a real cluster the files
    # split into many input partitions and neither case needs help.
    if name in ("documents", "embeddings"):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def ordered_chunk_scan(chunks: DataFrame, document_id) -> DataFrame:
    """S7: chunks of one document in chunk_index order
    (reference: document_repository.py:405-431)."""
    return chunks.filter(F.col("doc_id") == document_id).orderBy("chunk_index")


def write_parquet(df: DataFrame, path: str, mode: str = "append",
                  partition_by: list[str] | None = None) -> None:
    """S8/S9 bulk insert -> parquet append; Spark handles batching
    (reference batches 500 rows/insert_many, a non-semantic artifact:
    document_repository.py:356-403)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json_backup(df: DataFrame, path: str) -> None:
    """S13 JSON backup sink (reference: pipelines/etl_pipeline.py:153-182)."""
    df.write.mode("overwrite").json(path)


def cascading_delete(documents: DataFrame, chunks: DataFrame,
                     delete_ids: DataFrame,
                     broadcast_hint: bool = True) -> tuple[DataFrame, DataFrame]:
    """S11 cascading delete as anti-join rewrite (reference:
    document_repository.py:210-234,433-456; vector_store.py:245-279).

    ``delete_ids`` has a single ``doc_id`` column.  ``broadcast_hint``
    forces a broadcast anti-join — right for the usual small delete set,
    but a forced hint removes AQE's escape hatch when the set is large
    (bulk purges), so callers with an unbounded set pass False and let
    AQE pick broadcast-vs-shuffle from the measured size.
    """
    ids = delete_ids.select("doc_id")
    if broadcast_hint:
        ids = F.broadcast(ids)
    docs_kept = documents.join(ids, "doc_id", "left_anti")
    chunks_kept = chunks.join(ids, "doc_id", "left_anti")
    return docs_kept, chunks_kept


def upsert_partitions(df: DataFrame, path: str,
                      partition_by: list[str]) -> None:
    """S10 at scale: dynamic partition overwrite — rewrite ONLY the
    partitions present in ``df`` (e.g. the statuses being updated),
    leaving every other partition's files untouched, instead of the
    full-table recompute-and-rewrite ``mark_status`` implies.  The
    partitionOverwriteMode conf is set transiently around the write
    (save/restore, same discipline as the events nanos conf)."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def mark_status(df: DataFrame, status: str) -> DataFrame:
    """S10/S12 status update: recompute-and-rewrite of the status column
    (reference: document_repository.py:176-208, vector_store.py:103-181;
    retries are Spark task retries, deterministic ids remove FK fixup)."""
    return df.withColumn("processing_status", F.lit(status)) \
             .withColumn("updated_at", F.current_timestamp())


def storage_stats(documents: DataFrame, chunks: DataFrame) -> DataFrame:
    """S14 storage stats (reference: vector_store.py:344-379)."""
    d = documents.agg(F.count("*").alias("document_count"))
    c = chunks.agg(F.count("*").alias("chunk_count"))
    return d.crossJoin(c)


def compact_parquet(spark: SparkSession, path: str,
                    target_rows_per_file: int = 1_000_000) -> int:
    """Compact a small-files parquet directory (streaming sinks and
    frequent small appends fragment tables; at 100 TB a scan of 10^6
    tiny files is planner- and NameNode-bound long before it is
    IO-bound).  Rewrites the directory into ceil(rows/target) files
    via a round-robin repartition and an overwrite-through-temp swap;
    returns the file count written.

    LOCAL-FILESYSTEM ONLY: the swap uses os.rename/shutil, so ``path``
    must be a plain local directory (no s3://...).  The swap order is
    crash-safe-ish: the live directory is renamed aside FIRST, the
    replacement renamed in, and only then is the old copy deleted — a
    crash mid-swap leaves the data in ``path__old`` (recoverable by
    hand) rather than vanished.

    At scale run this per PARTITION directory (date=.../) so the
    rewrite parallelizes and concurrent writers touch disjoint paths;
    table formats with transactions (Delta/Iceberg OPTIMIZE) replace
    the temp-swap dance."""
    import math
    import shutil

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"compact_parquet is local-filesystem-only, got {path!r}")
    local = path[len("file://"):] if path.startswith("file://") else path

    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    tmp = local.rstrip("/") + "__compacting"
    old = local.rstrip("/") + "__old"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(local, old)
    os.rename(tmp, local)
    shutil.rmtree(old)
    return n_files


def write_version(df: DataFrame, path: str, version: int) -> None:
    """SNAPSHOT-VERSIONED table on plain parquet: each write lands a
    complete immutable snapshot under ``v=<n>/`` — the poor-parquet's
    time travel (a Delta/Iceberg backend replaces the directory
    convention with real commit logs; the READ API below stays
    identical).  Writers never touch prior versions, so readers are
    never torn and an as-of read is just directory selection."""
    df.write.mode("overwrite").parquet(f"{path}/v={int(version)}")


def list_versions(spark: SparkSession, path: str) -> list[int]:
    import re
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = re.fullmatch(r"v=(\d+)", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def vacuum_versions(spark: SparkSession, path: str,
                    keep_last: int = 2) -> list[int]:
    """Retention for the snapshot-versioned table: drop all but the
    newest ``keep_last`` snapshots (Delta VACUUM / Iceberg
    expire_snapshots, directory-convention form).  Removal order is
    oldest-first and each snapshot directory is deleted atomically
    (rename-aside then rmtree: a reader that resolved its version
    before the vacuum may lose a race — the documented plain-parquet
    limit; Delta's retention window closes it).  Returns the removed
    version numbers; time-travel reads older than the horizon now
    raise, by design."""
    import shutil
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(spark, path)
    drop = versions[:-keep_last] if len(versions) > keep_last else []
    for v in drop:
        src = f"{path}/v={v}"
        tmp = f"{path}/.vacuum-v={v}"
        os.rename(src, tmp)      # version disappears atomically
        shutil.rmtree(tmp, ignore_errors=True)
    return drop


def read_version(spark: SparkSession, path: str,
                 as_of: int | None = None) -> DataFrame:
    """Read a snapshot table: latest version by default, or the
    newest version <= ``as_of`` (time-travel read).  Metadata-only
    version resolution (one directory listing), then a plain scan of
    exactly one snapshot — no merge, no tombstones."""
    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no versions under {path}")
    pick = versions[-1] if as_of is None else max(
        (v for v in versions if v <= as_of), default=None)
    if pick is None:
        raise ValueError(f"no version <= {as_of} under {path}")
    return spark.read.parquet(f"{path}/v={pick}")


def epoch_prior(spark: SparkSession, path: str,
                epoch_id: int) -> DataFrame | None:
    """The snapshot a micro-batch folds onto: the newest version <=
    ``epoch_id`` (the previous epoch's), or None before the first
    fold.  Reading as-of rather than latest lets a replayed batch
    merge each of its stores against the right base, whichever
    sibling stores already committed that epoch."""
    older = [v for v in list_versions(spark, path) if v <= int(epoch_id)]
    return spark.read.parquet(f"{path}/v={older[-1]}") if older else None


def fold_version(spark: SparkSession, path: str, epoch_id: int,
                 inc: DataFrame, combine=None) -> None:
    """Commit micro-batch ``epoch_id`` to a versioned store: version
    ``epoch_id + 1`` holds ``combine(prior, inc)`` over
    ``epoch_prior``, or ``inc`` itself before the first fold or when
    there is no ``combine`` (a plain snapshot write).  A version that
    already committed (``_SUCCESS`` present) is skipped: its batch is
    being replayed, the checkpointed source re-delivers the same rows,
    so the committed snapshot IS this write, and an additive fold
    cannot count the batch twice.  A torn version (no ``_SUCCESS``) is
    rewritten in place."""
    version = int(epoch_id) + 1
    if os.path.exists(f"{path}/v={version}/_SUCCESS"):
        return
    prior = epoch_prior(spark, path, epoch_id) if combine else None
    write_version(inc if prior is None else combine(prior, inc),
                  path, version)
