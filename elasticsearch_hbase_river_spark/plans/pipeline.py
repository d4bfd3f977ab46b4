"""The river's per-tick dataflow (SURVEY.md §3.2) as one declarative plan.

Reference trace (HBaseParser.java):

    new_cells = scan(table, family?, qualifiers?, ts > sink_max_ts)  :89-100,258-280
    docs      = pivot_nested(normalize(new_cells), columnSeparator)  :204-244
    keyed     = docs + doc_id (row key | idField path) + doc_ts      :145-158
    sink      = bulk_upsert(keyed, batch=batchSize)                  :137-162
    acked     = keyed \\ failed(sink)                                :164-175
    if deleteOld: delete_from_source(acked.row_key)                  :176-180

Spark-first: the whole tick is a single DataFrame plan — scan filters push
into the source, document assembly is one groupBy(row_key) shuffle, the
upsert under ``idField`` is a per-id window rank, and the sink write
batches per partition (never a global sort). ``run_once`` materializes a
tick against a parquet "sink table" the way the reference's bulk-upsert
materializes into ES; the streaming rivers run the same plan per
micro-batch.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.artifacts import (
    read_json,
    swap_dir,
    write_json_atomic,
)
from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.operators.assemble import _esc_json


def assemble_documents(cells: DataFrame, config: RiverConfig) -> DataFrame:
    """cells -> (doc_id, doc_ts_ms, doc_json) with deterministic sorted-key
    JSON (readDataTree + readQualifierStructure, HBaseParser.java:204-244).

    ONE shuffle total: cells group straight to their row, and the
    per-(family, leaf) last-write-wins dedup plus the two-level JSON fold
    happen inside the collected cell array with array built-ins. The
    earlier three-stage form (LWW groupBy, family groupBy, document
    groupBy) shuffled the full corpus three times — the dominant cost of
    the pipeline at 100 TB. collect_list here is bounded by cells-per-row
    (a document), the same bound the reference holds in memory per row.
    """
    from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_col
    from elasticsearch_hbase_river_spark.functions.qualifier import split_qualifier_col

    sep = config.column_separator
    fam = normalize_field_col(F.col("family"), sep, config.normalize_fields)
    path = split_qualifier_col(F.col("qualifier"), sep, config.normalize_fields)

    flat = cells.select(
        "row_key", "ts_ms",
        fam.alias("family"),
        F.array_join(path, sep or "").alias("leaf_key"),
        F.col("value"),
    )
    rows = flat.groupBy("row_key").agg(
        F.array_sort(F.collect_list(
            F.struct("family", "leaf_key", "ts_ms", "value"))).alias("cs"))

    # Last-write-wins per (family, leaf_key): after the sort, the winner of
    # each run is its last element — max (ts_ms, value), the deterministic
    # tiebreak (HBase maxVersions=1 + map-put overwrite,
    # HBaseParser.java:239,243).
    kept = F.filter(
        F.col("cs"),
        lambda x, i: (i == F.size(F.col("cs")) - 1)
        | (F.element_at(F.col("cs"), i + 2)["family"] != x["family"])
        | (F.element_at(F.col("cs"), i + 2)["leaf_key"] != x["leaf_key"]),
    )
    rows = rows.select("row_key", kept.alias("kept"))

    # Fold the (family-major, leaf-minor) sorted survivors into nested JSON
    # in one pass: open a family object at each family boundary.
    def piece(x, i):
        prev_fam = F.element_at(F.col("kept"), i)["family"]  # i is 0-based
        kv = F.concat(F.lit('"'), x["leaf_key"], F.lit('":"'),
                      _esc_json(x["value"]), F.lit('"'))
        open_fam = F.concat(F.lit('"'), x["family"], F.lit('":{'), kv)
        return (F.when(i == 0, F.concat(F.lit("{"), open_fam))
                 .when(prev_fam != x["family"],
                       F.concat(F.lit("},"), open_fam))
                 .otherwise(F.concat(F.lit(","), kv)))

    doc_json = F.concat(
        F.array_join(F.transform(F.col("kept"), piece), ""), F.lit("}}"))
    doc_ts = F.array_min(F.transform(F.col("kept"), lambda x: x["ts_ms"]))
    docs = rows.select("row_key", doc_ts.alias("doc_ts_ms"),
                       doc_json.alias("doc_json"))
    doc_id = _doc_id_col(config)
    out = docs.select(F.col("row_key"), doc_id.alias("doc_id"),
                      "doc_ts_ms", "doc_json")
    if config.id_field:
        # ES rejects index requests without an id; rows whose path lookup
        # misses are dropped (the reference would fail the request,
        # HBaseParser.java:150-159).
        out = out.filter(F.col("doc_id").isNotNull())
    return out


def _doc_id_col(config: RiverConfig) -> F.Column:
    """Document id: the row key when ``id_field`` is unset
    (HBaseParser.java:150-153), else a separator-path lookup inside the
    assembled document (findKeyInDataTree, HBaseParser.java:184-194).

    The path's first component names the family, the rest the qualifier
    path; components are normalized like the document's own keys so a
    configured path matches what assembly produced (documented intent —
    the reference matches raw path parts against normalized keys, which
    only works for already-normalized configs)."""
    from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_py

    if not config.id_field:
        return F.col("row_key")
    sep = config.column_separator
    parts = config.id_field.split(sep) if sep else [config.id_field]
    parts = [normalize_field_py(p, sep, config.normalize_fields) for p in parts]
    if len(parts) < 2:
        # A bare family names a subtree, not a scalar — findKeyInDataTree
        # returns null for non-leaf nodes (HBaseParser.java:190-193).
        return F.lit(None).cast("string")
    family, leaf = parts[0], (sep or "").join(parts[1:])
    return F.get_json_object("doc_json", f"$['{family}']['{leaf}']")


def _tick_scan(cells: DataFrame, config: RiverConfig,
               watermark_ms: int | None) -> DataFrame:
    """The cells in the configured family/qualifiers scope
    (HBaseParser.java:89-100) with ``ts_ms > watermark_ms``, or with any
    non-null ``ts_ms`` for None: a cell without a timestamp is never taken
    (no watermark can account for it)."""
    if config.family:
        cells = cells.filter(F.col("family") == config.family)
    if config.qualifiers:
        cells = cells.filter(F.col("qualifier").isin(*config.qualifiers))
    ts = F.col("ts_ms")
    return cells.filter(
        ts.isNotNull() if watermark_ms is None else ts > F.lit(watermark_ms))


def river_tick_plan(cells: DataFrame, config: RiverConfig,
                    watermark_ms: int | None) -> DataFrame:
    """The river's one document plan, run by the tick and by both streams:
    scope -> assemble -> upsert as one lazy plan. ``watermark_ms=None``
    takes every in-scope cell with a non-null ``ts_ms``.

    The upsert-by-id ranks only under ``id_field``: without it ``doc_id``
    is the row key, already unique after assembly's ``groupBy(row_key)``."""
    docs = assemble_documents(_tick_scan(cells, config, watermark_ms), config)
    if not config.id_field:
        return docs
    # latest doc_ts wins, row_key breaks ties (HBaseParser.java:145-159)
    w = Window.partitionBy("doc_id").orderBy(F.col("doc_ts_ms").desc(),
                                             F.col("row_key").desc())
    return (docs.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).drop("rn"))


def apply_sink_mapping(docs: DataFrame, config: RiverConfig) -> DataFrame:
    """Custom sink mapping passthrough (SURVEY.md §2.1 row 16): the
    reference accepts a user-supplied mapping JSON and applies it at index
    bootstrap (HBaseRiver.java:118-122, put-mapping :250-261). The engine
    analog: cast/project the assembled documents onto the declared target
    schema before the sink write. Columns named in the mapping but absent
    from the documents come back as typed NULLs (dynamic-mapping documents
    may simply lack a field); extra document columns are dropped — exactly
    what a fixed ES mapping does to unmapped fields with dynamic off."""
    if not config.custom_mapping:
        return docs
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(config.custom_mapping)
    return docs.select(*[
        (F.col(f.name).cast(f.dataType) if f.name in docs.columns
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in target.fields
    ])


@dataclass
class TickResult:
    rows_indexed: int
    watermark_ms: int
    deleted_keys: int


def _hidden(name: str) -> bool:
    """Spark's hidden-path rule for file-source listing
    (``InMemoryFileIndex.shouldFilterOutPathName``): ``_SUCCESS``,
    ``_temporary``, ``.crc`` checksums and in-flight copies are not data;
    a ``_col=v`` partition directory is."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def data_files(path: str) -> list[str]:
    """The parquet data files a Spark read of ``path`` scans, listed on the
    driver: partition subdirectories (``dt=…/``) included, hidden names
    skipped at every level. An absent directory, or one a crashed first
    write left holding only ``_temporary``, lists empty. Assumes a local
    filesystem, as ``os.path`` does."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out.extend(os.path.join(root, f) for f in files if not _hidden(f))
    return out


def _footer_range(path: str,
                  column: str) -> tuple[int | None, int | None, int]:
    """``(min, max, nulls)`` of the integer ``column`` of one parquet file,
    from its footer's row-group statistics (min and max are None when the
    file holds no non-null value). A row group whose stats lack the null
    count, or lack min/max next to values (a foreign writer's
    ``write_statistics=False``), is answered by reading this file's
    ``column``, so the result stays exact.
    Raises ValueError unless the file has exactly one top-level column
    named ``column`` under Spark's case-insensitive resolution, spelled
    exactly so, of signed integer type."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    paths = [md.schema.column(j).path for j in range(md.num_columns)]
    hits = [j for j, p in enumerate(paths)
            if p.split(".")[0].lower() == column.lower()]
    if len(hits) != 1 or paths[hits[0]] != column:
        raise ValueError(f"{path} has no unambiguous {column} column")
    col = hits[0]
    c = md.schema.column(col)
    if (c.physical_type not in ("INT32", "INT64")
            or c.logical_type.type not in ("NONE", "INT")
            or c.converted_type.startswith("UINT")):
        raise ValueError(f"{path}: {column} must be an integer column, "
                         f"found {c.physical_type} {c.logical_type}")
    lo = hi = None
    nulls = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(col).statistics
        if rg.num_rows == 0:
            continue
        if (st is None or not st.has_null_count
                or (st.null_count < rg.num_rows and not st.has_min_max)):
            values = pq.ParquetFile(path).read(columns=[column]).column(0)
            mm = pc.min_max(values).as_py()
            return mm["min"], mm["max"], values.null_count
        nulls += st.null_count
        if st.null_count < rg.num_rows:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return lo, hi, nulls


def sink_max_ts(spark: SparkSession, sink_path: str) -> int:
    """Watermark lookup from the sink (HBaseParser.java:258-280): max+1 of
    ``doc_ts_ms``, cold-start 0 when the sink holds no data file.

    Like the reference's sorted facet query, this is an index lookup, not
    a scan: the max comes from the parquet footers of :func:`data_files`,
    read on the driver, with no Spark job (``spark`` is unused). The cost
    is O(files), one footer read each. Median wall time per call on a
    4-cpu host, sinks of 10-row engine-written files, this footer read vs
    the Spark aggregate it replaced (3 jobs: schema inference + a
    two-stage scan of every file): 240 files 0.022 s vs 0.44 s, 2,400
    files 0.16 s vs 1.65 s, 24,000 files 1.9 s vs 10.7 s. ``write_bulk``
    maps ``batchSize`` to rows per row group and writes one file per task,
    so a tick adds a file per write task, not per ``batchSize`` docs."""
    maxes = [m for f in data_files(sink_path)
             if (m := _footer_range(f, "doc_ts_ms")[1]) is not None]
    return max(maxes) + 1 if maxes else 0


_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PARQUET = ("org.apache.spark.sql.execution.datasources.parquet."
            "ParquetFileFormat")


def _scan_files(cells: DataFrame) -> list[str] | None:
    """The ``inputFiles()`` URIs of ``cells`` when it is a plain file scan:
    its analyzed plan is exactly a ``LogicalRelation`` over a parquet
    ``HadoopFsRelation`` with no partition columns, on the local
    filesystem, with a BIGINT ``ts_ms`` and no ``_metadata`` data column.
    The list is the listing Spark made when the DataFrame was built. None
    for every other input (a melt, ``createDataFrame``, csv/json/orc, any
    filter or projection)."""
    if (dict(cells.dtypes).get("ts_ms") != "bigint"
            or any(c.lower() == "_metadata" for c in cells.columns)):
        return None
    plan = cells._jdf.queryExecution().analyzed()
    if plan.getClass().getName() != _LOGICAL_RELATION:
        return None
    rel = plan.relation()
    if (rel.getClass().getName() != _FS_RELATION
            or rel.fileFormat().getClass().getName() != _PARQUET
            or rel.partitionSchema().nonEmpty()):
        return None
    uris = cells.inputFiles()
    if any(urlparse(u).scheme != "file" or urlparse(u).netloc for u in uris):
        return None
    return uris


def _prune_to_watermark(cells: DataFrame,
                        seen: int) -> tuple[DataFrame | None, bool, bool]:
    """File-level min-timestamp skipping, the twin of the reference's
    ``scanner.setMinTimestamp`` (HBaseParser.java:100), for a plain
    parquet scan (:func:`_scan_files`): a file whose footer proves every
    ``ts_ms`` is ≤ ``seen`` or null holds no cell the tick can take, so it
    is dropped from the scan before any job runs.

    Returns ``(cells, proven, covered)``. ``cells`` keeps the caller's
    DataFrame, its reader options and imposed schema, restricted to the
    kept files by a ``_metadata.file_path`` filter that Spark applies while
    listing; it is None when no file is kept. ``proven`` is True when some
    kept file's footer shows a value above ``seen``; ``covered`` when every
    kept file's footer shows all its ``ts_ms`` non-null and above ``seen``,
    so a ``ts_ms > seen`` filter would drop nothing. A file whose footer
    cannot answer (unreadable, no exact ``ts_ms`` column, ``ts_ms`` not a
    signed integer) is kept, and Spark reads it exactly as before. Any
    other input comes back unchanged with ``proven`` and ``covered``
    False."""
    uris = _scan_files(cells)
    if uris is None:
        return cells, False, False
    kept, proven, covered = [], False, True
    for uri in uris:
        try:
            lo, hi, nulls = _footer_range(unquote(urlparse(uri).path), "ts_ms")
        except (OSError, ValueError):
            kept.append(uri)
            covered = False
            continue
        if hi is not None and hi > seen:
            kept.append(uri)
            proven = True
            covered = covered and nulls == 0 and lo > seen
    if not kept:
        return None, False, False
    if len(kept) < len(uris):
        # file_path is the URI without the empty authority: file:/a%20b
        # where inputFiles() gives file:///a%20b
        cells = cells.filter(F.col("_metadata.file_path").isin(
            ["file:" + urlparse(u).path for u in kept]))
    return cells, proven, covered


def run_once(spark: SparkSession, cells: DataFrame, config: RiverConfig,
             sink_path: str, reject_when: F.Column | None = None,
             dead_letter_path: str | None = None) -> TickResult:
    """One scheduler tick (HBaseParser.java:82-128): incremental scan from
    the sink watermark, transform, upsert-append to the sink.

    Watermark rule: the sink is read once, ``wm = sink_max_ts`` before the
    write, and the tick takes the in-scope cells with ``ts_ms >= wm`` (a
    cell whose ``ts_ms`` is null is never taken). Documents come from
    :func:`river_tick_plan`, which ranks latest-wins per ``doc_id`` only
    under ``id_field``. An idle tick (no such cell) writes nothing and
    keeps ``wm``. Otherwise the write job itself reports the count and max
    ``doc_ts_ms`` of the rows it appended, and the new watermark is
    ``max(wm, max + 1)``: what a post-write ``sink_max_ts`` would return,
    since the new sink is the old one plus exactly those rows. That holds
    for a single writer per sink, as in the reference (one river thread
    per index).

    Source pruning applies when ``cells`` is a plain parquet file scan, as
    ``read_cells(spark, path)`` returns (:func:`_scan_files` has the exact
    rule). The tick then reads every source file's footer on the driver
    and never scans a file whose ``ts_ms`` max is below ``wm``
    (:func:`_prune_to_watermark`). The emptiness probe is skipped when the
    config has no family/qualifiers scope and a kept file's footer already
    shows a cell at or above ``wm``. Any other ``cells`` (a melt such as
    ``cells_from_events``, ``createDataFrame``, csv/json/orc, a filtered
    or projected DataFrame) is scanned whole, with the probe.

    When the kept files' footers prove every ``ts_ms`` non-null and at or
    above ``wm`` (deltas landed in ts order), the ``ts_ms >= wm`` filter
    could drop nothing, so neither the tick's plan nor the probe carries
    it; both keep only a literal-free ``ts_ms IS NOT NULL``. The plan then
    holds no per-tick literal, and a steady-state delta tick reuses the
    code generated for the last one. A kept file that straddles ``wm``,
    holds a null ``ts_ms`` or has a footer that cannot answer, and every
    non-scan input, keep the filter; its watermark is inlined in the
    generated code as a literal.

    Spark jobs per tick: the watermark read and the footer reads run none,
    the emptiness probe one, the observed write two. On a pruned source a
    no-op tick runs 0 jobs (1 if a file holds only out-of-scope cells at or
    above ``wm``), an unscoped cold or delta tick 2 and a scoped one 3. On
    any other input a no-op tick runs 1 job and a cold or delta tick 3.
    Classes compiled per tick (``CodegenMetrics``), once the session has
    run a tick of the same shape: 0 for a no-op tick, 0 for a delta tick
    without the filter, and 2 for a delta tick with one (a new watermark
    is new code).

    Scale, on a 4-cpu host over 2,000-row deltas landed one parquet file
    each (median of 4 ticks; before this pruning → with it). At 16, 106
    and 406 source files the no-op tick took 0.19 → 0.066 s, 0.43 →
    0.27 s and 1.24 → 1.09 s, and ran 1 → 0 jobs. The delta tick took
    1.20 → 1.05 s, 1.14 → 0.93 s and 2.30 → 2.03 s, and its scans read 1
    file instead of every source file twice (probe and write). What the
    no-op tick still spends grows with history: one source footer read per
    landed file, and the sink footer read (:func:`sink_max_ts`). With one
    sink file per tick that read took 0.015, 0.077 and 0.14 s at 16, 106
    and 406 sink files; with one file per ``batchSize`` bulk it took
    0.048, 0.27 and 0.94 s at 400, 2,200 and 8,200.

    With a ``reject_when`` predicate (the engine analog of bulk-response
    failures), failed rows are diverted to ``dead_letter_path`` and —
    exactly like the reference's failed-key exclusion,
    HBaseParser.java:166-177 — never counted as delete candidates, and
    never move the watermark."""
    from elasticsearch_hbase_river_spark.operators.bulk_sink import (
        write_bulk, write_with_dead_letter,
    )

    if reject_when is not None and dead_letter_path is None:
        raise ValueError("reject_when requires dead_letter_path")
    wm = sink_max_ts(spark, sink_path)
    # wm is max + 1, and the scan starts AT it, as the reference's
    # setMinTimestamp(max + 1) is inclusive (HBaseParser.java:271-272)
    seen = wm - 1
    cells, proven, covered = _prune_to_watermark(cells, seen)
    # footers proving every kept ts_ms above seen make the filter a no-op;
    # without its literal the plan's generated code is the last tick's
    bound = None if covered else seen
    # a footer value above seen proves an unscoped tick non-empty
    probe = not proven or bool(config.family or config.qualifiers)
    if cells is None or (probe and _tick_scan(cells, config, bound).isEmpty()):
        return TickResult(rows_indexed=0, watermark_ms=wm, deleted_keys=0)
    out = apply_sink_mapping(river_tick_plan(cells, config, bound), config)
    if reject_when is None:
        res = write_bulk(out, sink_path, config.batch_size)
    else:
        res = write_with_dead_letter(out, sink_path, dead_letter_path,
                                     reject_when, reason="bulk item failed",
                                     batch_size=config.batch_size)
    mx = res.max_doc_ts_ms
    return TickResult(rows_indexed=res.rows_acked,
                      watermark_ms=wm if mx is None else max(wm, mx + 1),
                      deleted_keys=res.rows_acked if config.delete_old else 0)


def dedup_against_sink(spark: SparkSession, new_docs: DataFrame,
                       sink_path: str) -> DataFrame:
    """Incremental content dedup: drop new documents whose content already
    exists in the sink (by md5 of doc_json). The sink side reduces to its
    distinct hash set before the join — at scale this is a pre-computed
    fingerprint table, and the anti-join shuffles only hashes. A sink with
    no data file yet (absent, or a crashed first write) passes every
    document through."""
    if not data_files(sink_path):
        return new_docs
    hashed = new_docs.withColumn("content_hash", F.md5("doc_json"))
    seen = (spark.read.parquet(sink_path)
            .select(F.md5("doc_json").alias("content_hash")).distinct())
    return (hashed.join(seen, "content_hash", "left_anti")
                  .drop("content_hash"))


#: Band-table format version. v2 = BIGINT minhash signatures + BIGINT
#: band_hash (integer Karp-Rabin gram hashing); v1 (pre-round-4) stored md5
#: hex STRINGS. The two are join-incompatible (a string-vs-bigint band_hash
#: equi-join silently matches nothing => historical near-dups stop being
#: detected) and scan-incompatible (mixed-schema parquet directory), so the
#: sink carries an explicit marker and appends REFUSE a mismatched history.
BANDS_FORMAT_VERSION = 2
_BANDS_META = "_bands_meta.json"


def _check_bands_format(bands_path: str) -> None:
    """Refuse to mix band-table formats: a pre-existing sink must carry a
    marker with the current version, else the caller has to rebuild (or
    discard) the history explicitly."""
    found = (read_json(os.path.join(bands_path, _BANDS_META))
             or {}).get("format_version")
    if found != BANDS_FORMAT_VERSION:
        raise ValueError(
            f"persistent band table at {bands_path} has format_version="
            f"{found!r}, engine expects {BANDS_FORMAT_VERSION} — appending "
            "would create a mixed-schema directory with silent join misses. "
            "Rebuild the band history (re-run doc_bands over the sink "
            "corpus) or point bands_path at a fresh directory.")


def _stamp_bands_format(bands_path: str, ticks_since_compact: int = 0) -> None:
    write_json_atomic(os.path.join(bands_path, _BANDS_META),
                      {"format_version": BANDS_FORMAT_VERSION,
                       "ticks_since_compact": ticks_since_compact})


#: Compact the band table every N append ticks (same decoupled-cadence
#: policy as the index epochs, SCALE.md §3i/§3n: appends stay cheap and
#: delta-sized; the rewrite cost is paid once per N ticks instead of
#: degrading every tick's table scan through small-file accretion).
BANDS_COMPACT_EVERY = 16


def band_ticks_since_compact(bands_path: str) -> int:
    """Append ticks since the last compaction (0 for a fresh/absent sink;
    pre-counter metas read as 0 — the first post-upgrade append starts
    the count)."""
    meta = read_json(os.path.join(bands_path, _BANDS_META)) or {}
    return int(meta.get("ticks_since_compact", 0))


def band_compaction_due(bands_path: str,
                        every_n: int = BANDS_COMPACT_EVERY) -> bool:
    """True when the append-tick counter has reached the cadence."""
    return band_ticks_since_compact(bands_path) >= every_n


#: Target bytes per compacted band-table file (healthy split size).
BANDS_BYTES_PER_FILE = 25 * 1024 * 1024


def _assert_no_interrupted_compaction(bands_path: str) -> None:
    """Make the compaction swap window LOUD instead of lossy.

    :func:`compact_band_table` renames the live directory aside before
    renaming the rewrite in; a crash between the two leaves no
    ``bands_path`` at all — and a fresh tick would then silently treat
    the sink as empty, accept every near-duplicate of the stranded
    history, and start a new table (the exact silent-reset this module's
    format marker exists to prevent). So: a missing ``bands_path`` with a
    stranded ``.old-*`` sibling REFUSES with recovery instructions. A
    stranded ``.old-*`` NEXT TO a live marker-valid ``bands_path`` is the
    benign tail of the swap (crash after the rename-in, before cleanup) —
    superseded, removed here."""
    parent = os.path.dirname(os.path.abspath(bands_path)) or "."
    base = os.path.basename(os.path.abspath(bands_path))
    if not os.path.isdir(parent):
        return
    stranded = [os.path.join(parent, e) for e in os.listdir(parent)
                if e.startswith(f"{base}.old-")]
    if not stranded:
        return
    if os.path.exists(os.path.join(bands_path, _BANDS_META)):
        for d in stranded:  # superseded history: swap completed
            shutil.rmtree(d, ignore_errors=True)
        return
    raise RuntimeError(
        f"band table {bands_path} is missing but a compaction-era "
        f"sibling survives ({stranded[0]}) — a compaction crashed "
        "mid-swap. Recover the history with "
        f"`mv {stranded[0]} {bands_path}` (then re-run compaction) "
        "instead of starting an empty sink that would silently accept "
        "near-duplicates of everything already ingested.")


def compact_band_table(spark: SparkSession, bands_path: str,
                       bytes_per_file: int = BANDS_BYTES_PER_FILE) -> dict:
    """Rewrite the append-log band table into size-targeted files and
    reset the tick counter.

    The table's CONTENT is already minimal (every row is a live band of
    an accepted doc — nothing is superseded), so compaction is purely a
    small-file rewrite: each tick's append lands ≥1 file per task, and
    after hundreds of ticks the per-tick candidate join pays listing +
    footer overhead proportional to tick COUNT rather than data size
    (measured in tools/bands_compact_scale.py; SCALE.md §3n). ONE data
    pass: the output file count comes from the input BYTES (already
    listed), and the row count from the rewrite's parquet footers — the
    earlier count()-then-rewrite shape scanned the accreted table twice,
    doubling exactly the I/O compaction exists to save. Single-writer
    swap discipline: the rewrite lands in a tmp dir, the old directory
    moves aside, tmp renames in, old is dropped; the swap window is
    guarded by :func:`_assert_no_interrupted_compaction` (a mid-swap
    crash refuses the next tick with recovery instructions instead of
    silently resetting history). Run it from the (single) maintenance
    tick, not concurrently with an append."""
    _assert_no_interrupted_compaction(bands_path)
    _check_bands_format(bands_path)
    before = data_files(bands_path)
    total_bytes = sum(os.path.getsize(f) for f in before)
    n_files = max(1, -(-total_bytes // bytes_per_file))

    def _rewrite(tmp: str) -> int:
        (spark.read.parquet(bands_path).repartition(n_files)
         .write.mode("overwrite").parquet(tmp))
        _stamp_bands_format(tmp, ticks_since_compact=0)
        # footer-only row count of the rewrite (no data scan)
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(f).num_rows for f in data_files(tmp))

    rows = swap_dir(bands_path, _rewrite)
    return {"rows": rows, "files_before": len(before),
            "files_after": len(data_files(bands_path))}


def near_dedup_against_sink(spark: SparkSession, new_docs: DataFrame,
                            bands_path: str,
                            min_shared: int | None = None,
                            compact_every: int = BANDS_COMPACT_EVERY,
                            auto_compact: bool = True) -> DataFrame:
    """MinHash twin of :func:`dedup_against_sink`: drop new documents that
    are NEAR-duplicates of the HISTORICAL corpus — not just exact-hash
    matches, and not just duplicates within the current micro-batch.

    The history is a persistent LSH band table at ``bands_path``
    (doc_id, mh, band_idx, band_hash — `operators/dedup.py:doc_bands`),
    appended on every tick with the accepted docs' bands, so the state
    survives restarts the same way the sink itself does. Per tick:
    candidates = equi-join of the new docs' bands against the table
    (bucket-bounded, never |new| x |history|), verification from the
    signatures already on the band rows, accept = anti-join on the
    verified dup ids. At 100 TB the band table is the ONLY thing the tick
    re-reads — k-hashes-per-doc sized, not corpus-sized — and it is a
    plain parquet append; small-file accretion is bounded by the
    compaction cadence (:func:`band_compaction_due` every
    BANDS_COMPACT_EVERY ticks -> :func:`compact_band_table`, measured
    in SCALE.md §3n).
    Within-batch self-dedup is the batch operator's job
    (`q_near_dedup`) — compose it upstream when a single tick can carry
    its own near-copies. ``new_docs`` needs (doc_id, text); extra columns
    pass through. Oracle-checked batch twin: `q_incremental_near_dedup`.
    """
    from elasticsearch_hbase_river_spark.operators.dedup import (
        NEAR_DUP_MIN_SHARED, doc_bands, near_dup_decisions,
    )

    # refuse a mid-swap compaction crash BEFORE the data-file check below
    # could misread a stranded history as a fresh sink
    _assert_no_interrupted_compaction(bands_path)
    threshold = NEAR_DUP_MIN_SHARED if min_shared is None else min_shared
    nb = doc_bands(new_docs.select("doc_id", "text")).persist()
    # a table with no data file yet (absent, or a crashed first append
    # that left only _temporary) has no history to check against
    if data_files(bands_path):
        _check_bands_format(bands_path)
        dec = near_dup_decisions(nb, spark.read.parquet(bands_path))
        dups = (dec.filter(F.col("n_shared_max") >= threshold)
                .select("doc_id"))
        accepted = new_docs.join(dups, "doc_id", "left_anti")
    else:
        accepted = new_docs
    ticks = band_ticks_since_compact(bands_path)
    (nb.join(accepted.select("doc_id"), "doc_id")
       .write.mode("append").parquet(bands_path))
    _stamp_bands_format(bands_path, ticks_since_compact=ticks + 1)
    nb.unpersist()
    # the cadence is PART of the tick, not an optional chore a deployment
    # must remember to wire: every compact_every appends, pay the rewrite
    # once so the next N-1 ticks read a compacted table
    if auto_compact and band_compaction_due(bands_path, compact_every):
        # the returned (lazy) accepted still references the PRE-compaction
        # band files through the anti-join's lineage; cut it with an
        # eager checkpoint (delta-sized) before the swap deletes them
        accepted = accepted.localCheckpoint(eager=True)
        compact_band_table(spark, bands_path)
    return accepted


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end query (driver smoke): melt -> incremental scan
    (cold start) -> assemble nested docs -> latest-wins upsert."""
    from elasticsearch_hbase_river_spark.sources.cells import cells_from_events

    config = RiverConfig(table="events", index="river", type_name="doc",
                         column_separator="::")
    return river_tick_plan(cells_from_events(spark, sf_dir), config, watermark_ms=0)
