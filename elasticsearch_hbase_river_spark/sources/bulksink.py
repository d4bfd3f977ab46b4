"""``bulksink`` — the micro-batched bulk sink as a real writer connector
(Python Data Source API), the write-side twin of ``cellstore``.

The reference accumulates ``batchSize`` index requests per bulk RPC and
scans the response for failed items (HBaseParser.java:135-175). The Spark
re-expression replaces both halves with the engine's native contracts:

- **micro-batching** → each task writes its rows of one string column,
  ``bulk`` (rendered by ``operators/bulk_sink.es_bulk_lines``, the one
  renderer), verbatim into bulk request files of at most ``batch_size``
  documents (``curl --data-binary @file .../_bulk`` shaped);
- **ack scanning** → the DSv2 commit protocol: tasks report their files in
  ``WriterCommitMessage``s, the driver's ``commit`` publishes them
  atomically in a manifest, and ``abort`` removes everything an
  incomplete job wrote. A reader that goes through the manifest can never
  observe a half-written job — strictly stronger than the reference's
  per-item ack bookkeeping;
- **parallelism** → every task writes its bulks concurrently; the
  reference serializes one bulk RPC at a time on one thread
  (HBaseParser.java:162, HBaseRiver.java:263).

A write tagged with an ``epoch`` (the streaming river passes its
micro-batch id) publishes at most once, so a replayed batch lands once.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StringType, StructType

from elasticsearch_hbase_river_spark.artifacts import read_json, write_json_atomic

MANIFEST = "_bulk_manifest.json"


@dataclass
class BulkCommit(WriterCommitMessage):
    files: tuple[str, ...]
    n_docs: int


def _write_bulks(path: str, rows: Iterator[Row],
                 batch_size: int) -> BulkCommit:
    """Task-side: spill ``bulk`` rows (one action/source pair each) into
    bulk files of <= batch_size documents. File names are unique per
    attempt; nothing is visible until the driver's commit lists them in
    the manifest."""
    files: list[str] = []
    n_docs = 0
    buf: list[str] = []

    def flush() -> None:
        if not buf:
            return
        fname = f"bulk-{uuid.uuid4().hex}.ndjson"
        with open(os.path.join(path, fname), "w") as f:
            f.write("\n".join(buf) + "\n")
        files.append(fname)
        buf.clear()

    for row in rows:
        buf.append(row[0])
        n_docs += 1
        if len(buf) >= batch_size:
            flush()
    flush()
    return BulkCommit(files=tuple(files), n_docs=n_docs)


class BulkSinkWriter(DataSourceWriter):
    def __init__(self, options: dict[str, str], overwrite: bool) -> None:
        self.path = options["path"]
        self.batch_size = int(options.get("batch_size", "100"))
        # Optional epoch tag: batch writes driven from foreachBatch pass the
        # micro-batch id so replays publish exactly once.
        self.epoch = (int(options["epoch"]) if "epoch" in options else None)
        self.overwrite = overwrite
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator: Iterator[Row]) -> BulkCommit:
        return _write_bulks(self.path, iterator, self.batch_size)

    def commit(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        """Driver-side atomic publication: merge (or replace) the manifest.

        With an ``epoch``, publication is idempotent: replaying an
        already-published epoch (foreachBatch retry after a crash between
        sink write and checkpoint commit) discards the replayed files
        instead of double-publishing — the manifest is the exactly-once
        ledger."""
        mpath = os.path.join(self.path, MANIFEST)
        state = {"bulks": [], "n_docs": 0, "epochs": []}
        if not self.overwrite:
            state = read_json(mpath) or state
        if self.epoch is not None and self.epoch in state["epochs"]:
            self.abort(messages)
            return
        done = [m for m in messages if m is not None]
        state["bulks"].extend(sorted(f for m in done for f in m.files))
        state["n_docs"] += sum(m.n_docs for m in done)
        if self.epoch is not None:
            state["epochs"].append(self.epoch)
        write_json_atomic(mpath, state)

    def abort(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        for fname in (f for m in messages if m is not None for f in m.files):
            try:
                os.remove(os.path.join(self.path, fname))
            except FileNotFoundError:
                pass


class BulkSinkDataSource(DataSource):
    """``es_bulk_lines(docs).select("bulk").write.format("bulksink")
    .option("path", dir)`` — manifest-atomic bulk publication."""

    @classmethod
    def name(cls) -> str:
        return "bulksink"

    def writer(self, schema: StructType, overwrite: bool) -> BulkSinkWriter:
        if [(f.name, f.dataType) for f in schema.fields] != [
                ("bulk", StringType())]:
            raise ValueError(
                "bulksink writes exactly one string column named 'bulk' "
                "(es_bulk_lines(docs).select('bulk')), got "
                f"{schema.simpleString()}")
        return BulkSinkWriter(self.options, overwrite)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)


def committed_lines(path: str) -> list[str]:
    """All published bulk lines, via the manifest (never raw listing —
    uncommitted files are invisible by construction)."""
    out: list[str] = []
    m = read_manifest(path)
    for fname in m["bulks"]:
        with open(os.path.join(path, fname)) as f:
            out.extend(line for line in f.read().splitlines() if line)
    return out


def register(spark) -> None:
    from elasticsearch_hbase_river_spark.sources import ship_package_to_workers

    ship_package_to_workers(spark)
    spark.dataSource.register(BulkSinkDataSource)
