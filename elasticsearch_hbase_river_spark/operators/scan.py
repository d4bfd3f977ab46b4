"""Scan-side parity operators (SURVEY.md §2.1 rows 1-4).

The reference opens one HBase scanner with family/qualifier pushdown and a
min-timestamp predicate derived from the sink's max(_timestamp)
(HBaseParser.java:85-110,258-280). Spark-first: all of these are plain
declarative filters on the ``cells`` relation — Catalyst pushes them into the
parquet scan (check ``PushedFilters`` in ``.explain``), and at 100 TB the
``ts`` predicate becomes partition pruning on a date-partitioned cells table.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.artifacts import artifact_path, publish_dir
from elasticsearch_hbase_river_spark.sources.cells import CELLS_CTE, cells_from_events

#: Fixed incremental watermark for the oracle-checked query: the median
#: event ``ts`` of the sf0.01 fixture, as epoch millis (FIXTURES.md §4 —
#: never computed at run time, so the query is deterministic at any SF).
WATERMARK_MS = 1_705_367_014_557


def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental-scan source relation (HBaseParser.java:85-110)."""
    return cells_from_events(spark, sf_dir)


def q_family_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-family pushdown: scanner.setFamily (HBaseParser.java:91-93)."""
    return cells_from_events(spark, sf_dir).filter(F.col("family") == "data")


def q_qualifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qualifier IN-list pushdown (documented intent of the setQualifier loop,
    HBaseParser.java:94-98 — the asynchbase quirk where only the last
    qualifier wins is a bug, not spec; SURVEY.md §2.1 row 3)."""
    return (
        cells_from_events(spark, sf_dir)
        .filter((F.col("family") == "meta")
                & F.col("qualifier").isin("event_type", "user_id"))
    )


def q_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-side high-watermark lookup: max(_timestamp)+1, cold-start 0
    (HBaseParser.java:258-280). A 1-row global agg — partial-aggregated
    map-side, negligible at any scale."""
    return cells_from_events(spark, sf_dir).agg(
        F.coalesce(F.max("ts_ms") + F.lit(1), F.lit(0)).cast("long").alias("watermark_ms")
    )


def q_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC delta scan: only cells newer than the stored watermark
    (scanner.setMinTimestamp, HBaseParser.java:272). The predicate is
    applied to the raw ``ts`` inside the source so it reaches the parquet
    scan (PushedFilters) instead of filtering post-melt."""
    return cells_from_events(spark, sf_dir, min_ts_ms_exclusive=WATERMARK_MS)


def q_cellstore_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same CDC delta scan, but THROUGH the pluggable connector
    (`sources/cellstore.py`) instead of a pre-loaded DataFrame: builds a
    region-sharded store from the cells relation once per fixture dir,
    then reads it back with the watermark predicate travelling through
    ``pushFilters`` into the storage layer (watermark-dead regions are
    pruned from the manifest without being opened). Oracle-identical to
    ``q_incremental_scan`` — the connector must be transparent."""
    from elasticsearch_hbase_river_spark.sources import cellstore

    store = cellstore_path_for(sf_dir)
    publish_dir(store, cellstore.MANIFEST, {}, lambda tmp: {
        "regions": cellstore.write_regions(cells_from_events(spark, sf_dir),
                                           tmp, n_regions=8)})
    cellstore.register(spark)
    return (spark.read.format("cellstore").option("path", store).load()
            .filter(F.col("ts_ms") > WATERMARK_MS))


def cellstore_path_for(sf_dir: str) -> str:
    """The cached connector store of ``sf_dir``'s cells, keyed by the
    events fixture's fingerprint so a regenerated fixture directory never
    hits a stale store."""
    return artifact_path(tempfile.gettempdir(), sf_dir, "events",
                         prefix="spark_graft_cellstore_")


QUERIES = {
    "q_scan": q_scan,
    "q_family_filter": q_family_filter,
    "q_qualifier_filter": q_qualifier_filter,
    "q_watermark": q_watermark,
    "q_incremental_scan": q_incremental_scan,
    "q_cellstore_scan": q_cellstore_scan,
}

ORACLES = {
    "q_scan": f"{CELLS_CTE} SELECT row_key, family, qualifier, value, ts_ms FROM cells",
    "q_family_filter": f"{CELLS_CTE} SELECT row_key, family, qualifier, value, ts_ms "
                       "FROM cells WHERE family = 'data'",
    "q_qualifier_filter": f"{CELLS_CTE} SELECT row_key, family, qualifier, value, ts_ms "
                          "FROM cells WHERE family = 'meta' "
                          "AND qualifier IN ('event_type', 'user_id')",
    "q_watermark": f"{CELLS_CTE} SELECT CAST(COALESCE(MAX(ts_ms) + 1, 0) AS BIGINT) "
                   "AS watermark_ms FROM cells",
    "q_incremental_scan": f"{CELLS_CTE} SELECT row_key, family, qualifier, value, ts_ms "
                          f"FROM cells WHERE ts_ms > {WATERMARK_MS}",
    "q_cellstore_scan": f"{CELLS_CTE} SELECT row_key, family, qualifier, value, ts_ms "
                        f"FROM cells WHERE ts_ms > {WATERMARK_MS}",
}
