"""``bulksink`` — the micro-batched bulk sink as a real writer connector
(Python Data Source API), the write-side twin of ``cellstore``.

The reference accumulates ``batchSize`` index requests per bulk RPC and
scans the response for failed items (HBaseParser.java:135-175). The Spark
re-expression replaces both halves with the engine's native contracts:

- **micro-batching** → each task groups its rows into bulk request bodies
  of at most ``batch_size`` documents and writes one newline-delimited
  action/source file per bulk (``curl --data-binary @file .../_bulk``
  shaped — same payload as ``operators/bulk_sink.es_bulk_lines``);
- **ack scanning** → the DSv2 commit protocol: tasks report their files in
  ``WriterCommitMessage``s, the driver's ``commit`` publishes them
  atomically in a manifest, and ``abort`` removes everything an
  incomplete job wrote. A reader that goes through the manifest can never
  observe a half-written job — strictly stronger than the reference's
  per-item ack bookkeeping;
- **parallelism** → every task writes its bulks concurrently; the
  reference serializes one bulk RPC at a time on one thread
  (HBaseParser.java:162, HBaseRiver.java:263).

The streaming writer reuses the same task logic per epoch, so
``writeStream.format("bulksink")`` gives exactly-once bulk publication
under checkpointing (epoch id recorded in the manifest).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator, List, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

from elasticsearch_hbase_river_spark.artifacts import read_json, write_json_atomic
from elasticsearch_hbase_river_spark.operators.bulk_sink import ES_INDEX, ES_TYPE

MANIFEST = "_bulk_manifest.json"


@dataclass
class BulkCommit(WriterCommitMessage):
    files: tuple[str, ...]
    n_docs: int
    n_bulks: int


def _render(row: Row, index: str, doc_type: str) -> str:
    """One action/source line pair (HBaseParser.java:145-159)."""
    return (f'{{"index":{{"_index":"{index}","_type":"{doc_type}",'
            f'"_id":"{row.doc_id}","_timestamp":{row.doc_ts_ms}}}}}\n'
            f"{row.doc_json}")


def _write_bulks(path: str, rows: Iterator[Row], batch_size: int,
                 index: str, doc_type: str) -> BulkCommit:
    """Task-side: spill rows into bulk files of <= batch_size documents.
    File names are unique per attempt; nothing is visible until the
    driver's commit lists them in the manifest."""
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
        buf.append(_render(row, index, doc_type))
        n_docs += 1
        if len(buf) >= batch_size:
            flush()
    flush()
    return BulkCommit(files=tuple(files), n_docs=n_docs, n_bulks=len(files))


def _publish(path: str, messages: List[Optional[WriterCommitMessage]],
             overwrite: bool, epoch: int | None = None) -> None:
    """Driver-side atomic publication: merge (or replace) the manifest.

    With an ``epoch``, publication is idempotent: replaying an
    already-published epoch (foreachBatch retry after a crash between sink
    write and checkpoint commit) discards the replayed files instead of
    double-publishing — the manifest is the exactly-once ledger."""
    new_files: list[str] = []
    n_docs = 0
    for m in messages:
        if m is not None:
            new_files.extend(m.files)
            n_docs += m.n_docs
    mpath = os.path.join(path, MANIFEST)
    state = {"bulks": [], "n_docs": 0, "epochs": []}
    if not overwrite:
        state = read_json(mpath) or state
    if epoch is not None and epoch in state["epochs"]:
        for fname in new_files:
            try:
                os.remove(os.path.join(path, fname))
            except FileNotFoundError:
                pass
        return
    state["bulks"].extend(sorted(new_files))
    state["n_docs"] += n_docs
    if epoch is not None:
        state["epochs"].append(epoch)
    write_json_atomic(mpath, state)


def _discard(path: str, messages: List[Optional[WriterCommitMessage]]) -> None:
    for m in messages:
        if m is None:
            continue
        for fname in m.files:
            try:
                os.remove(os.path.join(path, fname))
            except FileNotFoundError:
                pass


class _BulkTaskWriter:
    """Option parsing and the task-side write shared by the batch and the
    streaming writer; they differ only in how they publish."""

    def __init__(self, options: dict[str, str]) -> None:
        self.path = options["path"]
        self.batch_size = int(options.get("batch_size", "100"))
        self.index = options.get("index", ES_INDEX)
        self.doc_type = options.get("doc_type", ES_TYPE)
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator: Iterator[Row]) -> BulkCommit:
        return _write_bulks(self.path, iterator, self.batch_size,
                            self.index, self.doc_type)


class BulkSinkWriter(_BulkTaskWriter, DataSourceWriter):
    def __init__(self, options: dict[str, str], overwrite: bool) -> None:
        super().__init__(options)
        # Optional epoch tag: batch writes driven from foreachBatch pass the
        # micro-batch id so replays publish exactly once.
        self.epoch = (int(options["epoch"]) if "epoch" in options else None)
        self.overwrite = overwrite

    def commit(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        _publish(self.path, messages, self.overwrite, epoch=self.epoch)

    def abort(self, messages: List[Optional[WriterCommitMessage]]) -> None:
        _discard(self.path, messages)


class BulkSinkStreamWriter(_BulkTaskWriter, DataSourceStreamWriter):
    def commit(self, messages: List[Optional[WriterCommitMessage]],
               batchId: int) -> None:  # noqa: N803
        _publish(self.path, messages, overwrite=False, epoch=batchId)

    def abort(self, messages: List[Optional[WriterCommitMessage]],
              batchId: int) -> None:  # noqa: N803
        _discard(self.path, messages)


class BulkSinkDataSource(DataSource):
    """``df.write.format("bulksink").option("path", dir)`` — batch and
    streaming bulk publication with manifest-atomic visibility."""

    @classmethod
    def name(cls) -> str:
        return "bulksink"

    def writer(self, schema: StructType, overwrite: bool) -> BulkSinkWriter:
        return BulkSinkWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType,  # noqa: N802
                     overwrite: bool) -> BulkSinkStreamWriter:
        return BulkSinkStreamWriter(self.options)


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
