"""Bulk sink writer: the reference's micro-batched bulk pipeline
(HBaseParser.java:135-181) as reusable library functions.

Reference mapping:

- ``batchSize`` ops/bulk (HBaseRiver.java:59-62,150)  -> rows per parquet
  row group (``parquet.block.row.count.limit``): each row group is one
  "bulk request", with its own footer stats, and each write task writes
  one file; executors write their partitions in parallel instead of the
  reference's sequential RPCs. Elasticsearch bulk files, where a file is
  the request body, are ``es_bulk_lines`` published through the
  ``bulksink`` connector (``sources/bulksink.py``), one file per bulk.
- failed-key exclusion (HBaseParser.java:164-175)     -> ``left_anti`` ack
  join; Catalyst broadcasts the (small) failed set automatically.
- dead-letter channel (HBaseCallbackLogger)           -> failed rows land in
  a side parquet table with the failure reason, never lost.
- delete-after-read (HBaseParser.java:176-180)        -> the acked key set,
  returned for the caller to apply to the source.

Scale: no global sort or repartition is imposed here — the row-group limit
splits within each task, so writing stays embarrassingly parallel at any
executor count. One file per task, not per bulk, matters on a local Hadoop
filesystem without native IO: it forks a ``chmod`` for every file and
directory it creates.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class BulkWriteResult:
    rows_acked: int
    rows_failed: int
    max_doc_ts_ms: int | None   # of the acked rows; None when none landed


def write_bulk(docs: DataFrame, path: str, batch_size: int = 100,
               mode: str = "append",
               partition_by_day: bool = False) -> BulkWriteResult:
    """Append documents as parquet, one file per write task, with at most
    ``batch_size`` rows per row group (the bulk-request analog,
    HBaseParser.java:137-162): every row group but a file's last holds
    exactly ``batch_size`` rows, and the footer keeps each one's stats.

    The row count and max ``doc_ts_ms`` of what landed come from the write
    job itself (``DataFrame.observe``), the bulk-response analog — no
    second pass over ``docs`` or the sink.

    ``partition_by_day`` lays the sink out as ``dt=YYYY-MM-DD/`` directories
    derived from ``doc_ts_ms``, so a time-ranged read is partition-pruned
    instead of a full-table scan. The watermark lookup is not a read: it
    takes max ``doc_ts_ms`` from every file's footer, partitioned or not."""
    obs = Observation()
    w = docs.observe(obs, F.count(F.lit(1)).alias("n"),
                     F.max("doc_ts_ms").alias("mx"))
    if partition_by_day:
        w = w.withColumn(
            "dt", F.date_format(F.timestamp_millis(F.col("doc_ts_ms")),
                                "yyyy-MM-dd"))
    writer = (w.write.option("parquet.block.row.count.limit", batch_size)
              .mode(mode))
    if partition_by_day:
        writer = writer.partitionBy("dt")
    writer.parquet(path)
    m = obs.get
    return BulkWriteResult(rows_acked=m["n"], rows_failed=0,
                           max_doc_ts_ms=m["mx"])


ES_INDEX = "river"      # hbase.index config analog, HBaseRiver.java:41,144
ES_TYPE = "doc"         # hbase.type config analog


def es_bulk_lines(docs: DataFrame, index: str = ES_INDEX,
                  doc_type: str = ES_TYPE) -> DataFrame:
    """(doc_id, bulk): each document rendered as an Elasticsearch bulk-API
    action/source line pair — the exact payload the reference accumulates
    per IndexRequest (id + timestamp + source document,
    HBaseParser.java:145-159). Pure string projection, map-side at any
    scale; row keys are JSON-safe (normalized alphabet, HBaseRiver.java:
    314-326), so no escaping pass is needed on ``_id``."""
    action = F.concat(
        F.lit(f'{{"index":{{"_index":"{index}","_type":"{doc_type}","_id":"'),
        F.col("doc_id"),
        F.lit('","_timestamp":'), F.col("doc_ts_ms").cast("string"),
        F.lit("}}"))
    return docs.select(
        "doc_id", F.concat(action, F.lit("\n"), F.col("doc_json")).alias("bulk"))


def split_failed(docs: DataFrame, reject_when: Column) -> tuple[DataFrame, DataFrame]:
    """Split a keyed document batch into (acked, failed) on a reject
    predicate — the engine analog of scanning the bulk response for failed
    item ids (HBaseParser.java:164-175). Both halves share the input plan;
    callers persist ``docs`` if both are materialized."""
    failed = docs.filter(reject_when)
    acked = docs.join(failed.select("doc_id"), "doc_id", "left_anti")
    return acked, failed


def write_with_dead_letter(docs: DataFrame, sink_path: str,
                           dead_letter_path: str, reject_when: Column,
                           reason: str, batch_size: int = 100) -> BulkWriteResult:
    """Bulk write with a failure channel: rows matching ``reject_when`` go
    to the dead-letter table with a reason column; everything else is
    bulk-appended to the sink. Failed keys are excluded from the ack set,
    so delete-after-read never drops source rows that didn't land
    (HBaseParser.java:166-177). ``rows_acked`` and ``max_doc_ts_ms``
    describe the acked write alone."""
    docs = docs.persist()
    try:
        acked, failed = split_failed(docs, reject_when)
        res = write_bulk(acked, sink_path, batch_size)
        n_failed = failed.count()
        if n_failed:
            (failed.withColumn("reject_reason", F.lit(reason))
                   .write.mode("append").parquet(dead_letter_path))
        return replace(res, rows_failed=n_failed)
    finally:
        docs.unpersist()
