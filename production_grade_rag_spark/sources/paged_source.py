"""S1/S2 as a CUSTOM PySpark DataSource (Spark 4 Python data-source
API): the reference's paginated Notion scans are a driver-side cursor
loop (`has_more`/`next_cursor`, notion_collector.py:56-144) — every
page fetched sequentially through one client.  Re-expressed as a
DataSource, the page space becomes ``partitions()`` and each page batch
is fetched INSIDE an executor task: pagination parallelizes, task
retries give per-page fault tolerance (the collector's try/except,
web_crawler.py:72-184), and the result is a plain DataFrame any
catalog operator can consume.

The "REST backend" here is a local page-dump directory (one JSON-lines
file per page batch) — the same deterministic-fake pattern as the
multimodal decoder: a live HTTP fetch would drop into ``read()``
unchanged (one session per task, yield per record), which is exactly
where a production connector puts it.

100 TB notes: partition granularity is the file/page batch, so
parallelism scales with the dump, not the driver; the fixed schema
avoids an inference pass; malformed lines yield a ``_corrupt``-style
null row rather than failing the task (error tolerance at the record
level, task retry at the page level).
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, EqualTo,
                                    InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)

PAGE_SCHEMA = ("page_id string, title string, lang string, "
               "n_chars bigint, malformed boolean")


class PagedDumpDataSource(DataSource):
    """``spark.read.format("paged_dump").option("path", dir)`` over a
    page-dump directory of JSON-lines files."""

    @classmethod
    def name(cls) -> str:
        return "paged_dump"

    def schema(self) -> str:
        return PAGE_SCHEMA

    def reader(self, schema) -> "PagedDumpReader":
        return PagedDumpReader(self.options)

    def simpleStreamReader(self, schema) -> "PagedDumpStreamReader":
        return PagedDumpStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PagedDumpWriter":
        return PagedDumpWriter(self.options, overwrite)


class PagedDumpReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("paged_dump requires option 'path'")
        self._path = path
        self._pushed: list = []

    def pushFilters(self, filters):
        """FILTER PUSHDOWN into the source: top-level ``col = value``
        conjuncts on lang/title/page_id are applied inside ``read()``
        — a REST backend would put them in the request (the Notion
        /search filter object, notion_collector.py:72-76), so rows the
        query will drop never cross the wire.  Everything else is
        yielded back for Spark to evaluate post-scan (the contract:
        returned filters run post-scan, consumed ones must hold on
        every yielded row)."""
        for f in filters:
            if (isinstance(f, EqualTo)
                    and f.attribute in (("lang",), ("title",),
                                        ("page_id",))):
                self._pushed.append((f.attribute[0], f.value))
            else:
                yield f

    def partitions(self):
        # driver-side metadata listing only (file NAMES, not contents);
        # one InputPartition per page-batch file -> executor-side reads.
        # A _MANIFEST (written by PagedDumpWriter.commit) pins the
        # visible file set — stray uncommitted/aborted files are
        # invisible, the commit-protocol read side.
        files = _list_page_files(self._path)
        if not files:
            raise FileNotFoundError(f"no page files under {self._path}")
        return [InputPartition(f) for f in files]

    def read(self, partition: InputPartition):
        # record-level tolerance: a malformed line is a marker row (the
        # PERMISSIVE _corrupt_record convention); pushed filters hold
        # on every yielded row, so a pushed lang='en' drops the marker's
        # NULL-lang row too
        for row in _read_page_file(partition.value):
            keyed = dict(zip(("page_id", "title", "lang"), row[:3]))
            if all(keyed[a] == v for a, v in self._pushed):
                yield row


def _list_page_files(path: str) -> list[str]:
    """Visible page files: the committed set from _MANIFEST when
    present (writer-produced dumps), else every part-* file
    (externally-produced dumps)."""
    manifest = os.path.join(path, "_MANIFEST")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as fh:
            names = json.load(fh)["files"]
        return [os.path.join(path, n) for n in names]
    return sorted(glob.glob(f"{path}/part-*"))


def _parse_line(line: str):
    """One dump line -> schema tuple (malformed -> marker row)."""
    try:
        rec = json.loads(line)
        return (str(rec["page_id"]), rec.get("title"), rec.get("lang"),
                int(rec["n_chars"]), False)
    except (ValueError, KeyError, TypeError):
        return (None, None, None, None, True)


def _read_page_file(path: str):
    """Schema tuples of one page file, blank lines skipped."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield _parse_line(line)


class PagedDumpStreamReader(SimpleDataSourceStreamReader):
    """STREAMING form of the paged scan: the dump directory is the
    feed, the OFFSET is the index into the sorted file list — new page
    files appearing between micro-batches are the `has_more` loop,
    re-expressed as checkpointable offsets.  A restarted query resumes
    from the committed offset and never re-emits a page batch
    (exactly-once per file, pinned in tests/test_sources.py);
    ``readBetweenOffsets`` replays a committed range verbatim on
    recovery."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("paged_dump requires option 'path'")
        self._path = path

    def _files(self) -> list[str]:
        return _list_page_files(self._path)

    def initialOffset(self) -> dict:
        return {"file_idx": 0}

    def read(self, start: dict):
        files = self._files()
        i = int(start["file_idx"])
        # an iterator over a materialized list: the Simple reader API
        # prefetches the batch driver-side and pickles it (its
        # documented design point — page batches are bounded; a
        # high-throughput source graduates to DataSourceStreamReader
        # with executor-side partitions), and its no-advance probe
        # (add_result_to_cache) calls next() on the return value, which
        # a bare list breaks (surfaced by availableNow+foreachBatch,
        # which polls once more after the last file is consumed)
        rows = [row for f in files[i:] for row in _read_page_file(f)]
        return iter(rows), {"file_idx": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        for f in self._files()[int(start["file_idx"]):int(end["file_idx"])]:
            yield from _read_page_file(f)


@dataclass
class PageFileCommit(WriterCommitMessage):
    path: str
    n_rows: int


class PagedDumpWriter(DataSourceWriter):
    """WRITE side of the connector, with a manifest commit protocol:
    each task writes its partition to a uniquely-named staging file and
    returns a commit message; ``commit()`` (driver, after ALL tasks
    succeed) writes ``_MANIFEST`` listing exactly the committed files;
    ``abort()`` deletes staged files.  Readers that honor the manifest
    never see a half-written job — the same visibility rule a
    _SUCCESS/table-format commit gives parquet jobs, here made explicit
    (the reference's store-with-retry + status-mark dance,
    vector_store.py:103-181, collapsed into one atomic rename-free
    commit)."""

    def __init__(self, options: dict, overwrite: bool = False):
        path = options.get("path")
        if not path:
            raise ValueError("paged_dump requires option 'path'")
        self._path = path
        self._overwrite = overwrite
        os.makedirs(path, exist_ok=True)

    def write(self, it) -> "PageFileCommit":
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}-{uuid.uuid4().hex}.txt"
        full = os.path.join(self._path, fname)
        n = 0
        with open(full, "w", encoding="utf-8") as fh:
            for row in it:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return PageFileCommit(path=fname, n_rows=n)

    def commit(self, messages) -> None:
        files = sorted(m.path for m in messages if m)
        n_rows = sum(m.n_rows for m in messages if m)
        mpath = os.path.join(self._path, "_MANIFEST")
        # append mode MERGES with the committed set (new page batches
        # become visible after older ones — offsets in the stream
        # reader stay monotonic); overwrite replaces it, atomically
        # hiding the old files without deleting bytes
        if not self._overwrite and os.path.exists(mpath):
            with open(mpath, encoding="utf-8") as fh:
                old = json.load(fh)
            files = old["files"] + [f for f in files
                                    if f not in old["files"]]
            n_rows += old["n_rows"]
        with open(mpath, "w") as fh:
            json.dump({"files": files, "n_rows": n_rows}, fh)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self._path, m.path))
                except OSError:
                    pass
