"""The epoch-delta layout shared by every streaming index maintainer.

Each micro-batch of a maintainer overwrites ``<root>/<part>/epoch=<id>``
(``part`` may be empty: the vector and percolate layouts put epochs at the
root) and readers keep each key's newest epoch. Because a replayed
micro-batch rewrites its own partition instead of appending beside it,
that overwrite is what makes the maintainers exactly-once under
checkpointing (Structured Streaming's idempotent-sink model).

This module owns the format's mechanics, so the streams in
``river_stream``/``esql_stream`` and the live-serving fixtures cannot
drift apart:

- ``write_epoch`` / ``epoch_ids``: the one writer and the one lister of
  ``epoch=N`` partitions;
- ``read_feed`` / ``start_batches``: the one parquet file feed and the one
  ``foreachBatch`` starter (checkpoint option + trigger choice);
- the layout markers of the index and nested epochs directories.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from elasticsearch_hbase_river_spark.artifacts import (
    read_json,
    write_json_atomic,
)
from elasticsearch_hbase_river_spark.sources.tables import _tune_session


def write_epoch(root: str, epoch: int, parts: dict[str, DataFrame]) -> None:
    """Overwrite ``root/<sub>/epoch=<epoch>`` with each ``{sub: frame}``
    (``sub=""`` is ``root`` itself), one after another in dict order. The
    LAST part is the epoch's commit record: readers take the doc manifest
    (``docs``, which the part builders put last) as the authority for
    which epoch is current, so it must never land before the data it
    vouches for — a write that fails midway leaves only parts no reader
    arbitrates on."""
    for sub, df in parts.items():
        df.write.mode("overwrite").parquet(
            os.path.join(root, sub, f"epoch={epoch}"))


def epoch_ids(root: str, sub: str = "") -> set[int]:
    """The epoch ids present under ``root/<sub>`` (empty if absent)."""
    d = os.path.join(root, sub)
    if not os.path.isdir(d):
        return set()
    return {int(name.split("=", 1)[1]) for name in os.listdir(d)
            if name.startswith("epoch=")}


def read_feed(spark: SparkSession, source_dir: str,
              schema: StructType | str,
              files_per_trigger: int = 16) -> DataFrame:
    """Parquet file-source stream of ``schema``. ``maxFilesPerTrigger``
    bounds each micro-batch (= epoch), the streaming analog of the
    reference's scan batch size (HBaseParser.java:104)."""
    _tune_session(spark)
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(source_dir))


def start_batches(stream: DataFrame,
                  each_batch: Callable[[DataFrame, int], None],
                  checkpoint_dir: str, available_now: bool,
                  interval_ms: int | None = None) -> StreamingQuery:
    """Run ``each_batch(batch_df, batch_id)`` per micro-batch, checkpointed
    at ``checkpoint_dir``: drain-and-stop when ``available_now``, else
    trigger every ``interval_ms`` like the reference's scheduler
    (HBaseParser.java:49-73), or on Spark's default trigger when no
    interval is given."""
    writer = (stream.writeStream.foreachBatch(each_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval_ms is not None:
        writer = writer.trigger(processingTime=f"{interval_ms} milliseconds")
    return writer.start()


#: Epochs-directory layout version. v2 = index_dir/{postings,docs}/epoch=N
#: (the doc-manifest layout); v1 (pre-round-5) was index_dir/epoch=N with
#: no manifest. The two are silently incompatible: a v2 writer resumed over
#: a v1 directory writes beside the old epochs and read_inverted_index
#: drops them without an error — so the directory carries an explicit
#: marker (same discipline as the band table's _bands_meta.json) and both
#: writer and readers refuse a mismatch.
EPOCHS_LAYOUT_VERSION = 2
EPOCHS_META = "_epochs_meta.json"


def epochs_marker(mode: str = "ascii") -> dict:
    """The epochs-directory marker content for analyzer ``mode``."""
    return {"layout": EPOCHS_LAYOUT_VERSION, "mode": mode}


def _check_epochs_layout(index_dir: str, mode: str | None = None) -> None:
    """Refuse mixed-layout epoch directories: a populated directory must
    carry the current layout marker. Fresh/empty directories pass (the
    writer stamps them on first use). With ``mode`` given, additionally
    refuse an ANALYZER-MODE mismatch (marker-less/pre-stamp directories
    read as 'ascii', the only mode that existed): resuming a unicode
    stream over ascii epochs (or vice versa) would merge two
    tokenizations into one index with no error anywhere."""
    m = read_json(os.path.join(index_dir, EPOCHS_META)) or {}
    found = m.get("layout")
    found_mode = m.get("mode", "ascii")
    if found == EPOCHS_LAYOUT_VERSION:
        if mode is not None and found_mode != mode:
            raise ValueError(
                f"index epochs directory {index_dir} was written with "
                f"analyzer mode {found_mode!r}, stream configured for "
                f"{mode!r} — mixing tokenizations silently corrupts the "
                "merged index. Rebuild into a fresh directory (and "
                "discard the checkpoint) or match the mode.")
        return
    if found is None and not os.path.exists(index_dir):
        return  # nothing written yet; the writer will stamp it
    if found is None:
        entries = [e for e in os.listdir(index_dir)
                   if not e.startswith(".") and e != EPOCHS_META]
        if not entries:
            return
        # A populated but marker-less directory that already HAS the v2
        # shape (postings/ + docs/ subdirs, no v1 epoch=N at the root) was
        # written by this engine immediately before the marker existed —
        # stamp it in place instead of forcing a rebuild; the error below
        # is reserved for genuine v1 (or foreign) layouts. Matching subdir
        # NAMES alone is not enough to adopt a directory (a foreign tool's
        # postings/+docs/ output would be silently claimed as a v2 index):
        # additionally require the epoch=N partition children under both,
        # the shape only this writer produces.
        if (all(e in ("postings", "docs") for e in entries)
                and not epoch_ids(index_dir)
                and epoch_ids(index_dir, "postings")
                and epoch_ids(index_dir, "docs")):
            stamp_epochs_layout(index_dir)
            return
    raise ValueError(
        f"index epochs directory {index_dir} has layout={found!r}, engine "
        f"expects {EPOCHS_LAYOUT_VERSION} — resuming a stream (or merging "
        "epochs) over a foreign layout silently drops the old epochs. "
        "Rebuild the index stream into a fresh directory (and discard its "
        "checkpoint), or migrate the old epochs explicitly.")


def stamp_epochs_layout(index_dir: str, mode: str = "ascii") -> None:
    """Mark ``index_dir`` (created if absent) as a current-layout epochs
    directory written with analyzer ``mode``."""
    os.makedirs(index_dir, exist_ok=True)
    write_json_atomic(os.path.join(index_dir, EPOCHS_META),
                      epochs_marker(mode))


NESTED_EPOCHS_LAYOUT_VERSION = 1
NESTED_EPOCHS_META = "_nested_epochs_meta.json"


def _check_nested_epochs_layout(index_dir: str) -> None:
    found = (read_json(os.path.join(index_dir, NESTED_EPOCHS_META))
             or {}).get("layout")
    if found == NESTED_EPOCHS_LAYOUT_VERSION:
        return
    if found is None and (
            not os.path.exists(index_dir)
            or not any(e for e in os.listdir(index_dir)
                       if not e.startswith("."))):
        return
    raise ValueError(
        f"nested epochs directory {index_dir} has layout={found!r}, engine "
        f"expects {NESTED_EPOCHS_LAYOUT_VERSION} — refuse to write beside "
        "a foreign layout.")


def _stamp_nested_epochs_layout(index_dir: str) -> None:
    os.makedirs(index_dir, exist_ok=True)
    write_json_atomic(os.path.join(index_dir, NESTED_EPOCHS_META),
                      {"layout": NESTED_EPOCHS_LAYOUT_VERSION})
