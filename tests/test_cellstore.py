"""The pluggable cellstore connector: region-parallel scans, the reference
scanner's pushdown surface (family / qualifier IN / min-timestamp —
HBaseParser.java:91-100), manifest-level region pruning, and the
incremental-scanner streaming source (HBaseParser.java:258-280)."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNotNull

from elasticsearch_hbase_river_spark.sources import cellstore
from elasticsearch_hbase_river_spark.sources.cells import cells_from_events


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cellstore"))
    cells = cells_from_events(spark, sf_dir).persist()
    cellstore.write_cellstore(cells, path, n_regions=4)
    cellstore.register(spark)
    yield path, cells
    cells.unpersist()


def _read(spark, path):
    return spark.read.format("cellstore").option("path", path).load()


def test_roundtrip_multiset_equality(spark, store):
    path, cells = store
    got = Counter(map(tuple, _read(spark, path).collect()))
    want = Counter(map(tuple, cells.collect()))
    assert got == want


def test_family_and_qualifier_pushdown_results(spark, store):
    path, cells = store
    got = (_read(spark, path)
           .filter((F.col("family") == "meta")
                   & F.col("qualifier").isin("user_id", "event_type"))
           .count())
    want = (cells.filter((F.col("family") == "meta")
                         & F.col("qualifier").isin("user_id", "event_type"))
            .count())
    assert got == want > 0


def test_watermark_pushdown_results(spark, store):
    path, cells = store
    wm = int(cells.agg(F.expr("percentile(ts_ms, 0.5)")).first()[0])
    got = _read(spark, path).filter(F.col("ts_ms") > wm).count()
    want = cells.filter(F.col("ts_ms") > wm).count()
    assert got == want > 0


def test_reader_accepts_exactly_the_scanner_pushdowns():
    """Unit-level contract: family EqualTo, qualifier In, ts GreaterThan are
    consumed (scanner-side); anything else is returned to Spark."""
    r = cellstore.CellStoreReader({"path": "/nonexistent"})
    keep = r.pushFilters([
        EqualTo(("family",), "meta"),
        In(("qualifier",), ("user_id", "event_type")),
        GreaterThan(("ts_ms",), 123),
        IsNotNull(("value",)),          # not a scanner capability
        EqualTo(("row_key",), "42"),    # not a scanner capability
    ])
    assert r.family == "meta"
    assert r.qualifiers == ("user_id", "event_type")
    assert r.min_ts_ms_exclusive == 123
    kinds = {type(f).__name__ for f in keep}
    assert kinds == {"IsNotNull", "EqualTo"}


def test_watermark_prunes_whole_regions(spark, store):
    """A region whose max ts is at or below the watermark must be skipped
    without being opened — the manifest carries min/max ts per region."""
    path, cells = store
    max_ts = int(cells.agg(F.max("ts_ms")).first()[0])
    r = cellstore.CellStoreReader({"path": path})
    all_parts = r.partitions()
    r2 = cellstore.CellStoreReader({"path": path})
    r2.pushFilters([GreaterThan(("ts_ms",), max_ts)])
    pruned = r2.partitions()
    # everything pruned -> the single sentinel empty partition remains
    assert len(all_parts) == 4
    assert len(pruned) == 1 and pruned[0].file == ""


def test_streaming_incremental_scanner(spark, store, tmp_path):
    """CDC semantics over the streaming source: tick 1 delivers the initial
    load, an idle tick delivers nothing, a tick after append_cells delivers
    exactly the delta above the committed watermark."""
    path_all, cells = store
    wm = int(cells.agg(F.expr("percentile(ts_ms, 0.5)")).first()[0])
    old = cells.filter(F.col("ts_ms") <= wm)
    new = cells.filter(F.col("ts_ms") > wm)
    store_dir = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    cellstore.write_cellstore(old, store_dir, n_regions=3)

    def tick() -> int:
        stream = (spark.readStream.format("cellstore")
                  .option("path", store_dir).load())
        q = (stream.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "stream did not drain in 120s"
        return spark.read.parquet(out).count()

    assert tick() == old.count()
    assert tick() == old.count()  # idle tick: no re-delivery
    cellstore.append_cells(new, store_dir)
    assert tick() == cells.count()  # exactly the delta arrived


def test_full_river_lifecycle_over_connectors(spark, sf_dir, tmp_path):
    """SURVEY.md §3.2 end-to-end over pluggable storage: tick 1 bulk-loads
    the initial store through the source connector, cells appended after
    the watermark arrive alone in tick 2 (the ts predicate travels through
    pushFilters into the store), and the assembled documents publish
    through the bulksink connector's atomic manifest."""
    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.operators.bulk_sink import es_bulk_lines
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        assemble_documents, run_once,
    )
    from elasticsearch_hbase_river_spark.sources import bulksink

    cells = cells_from_events(spark, sf_dir).persist()
    wm = int(cells.agg(F.expr("percentile(ts_ms, 0.5)")).first()[0])
    old = cells.filter(F.col("ts_ms") <= wm)
    new = cells.filter(F.col("ts_ms") > wm)
    store_dir = str(tmp_path / "store")
    sink = str(tmp_path / "sink")
    cellstore.write_cellstore(old, store_dir, n_regions=3)
    cellstore.register(spark)
    config = RiverConfig(table="t", index="i", type_name="d",
                         column_separator="::")

    # one fresh read per tick — the reference opens a new scanner each run
    # (HBaseParser.java:89), and a fresh load picks up newly-split regions
    t1 = run_once(spark, _read(spark, store_dir), config, sink)
    assert t1.rows_indexed == old.select("row_key").distinct().count()

    t_idle = run_once(spark, _read(spark, store_dir), config, sink)
    assert t_idle.rows_indexed == 0  # watermark holds, nothing re-indexed

    cellstore.append_cells(new, store_dir)
    t2 = run_once(spark, _read(spark, store_dir), config, sink)
    assert t2.rows_indexed == new.select("row_key").distinct().count()
    assert t2.watermark_ms > t1.watermark_ms

    # publish the same documents through the bulk sink connector
    bulksink.register(spark)
    bulk_dir = str(tmp_path / "bulk")
    docs = es_bulk_lines(assemble_documents(_read(spark, store_dir), config),
                         config.index, config.type_name).select("bulk")
    (docs.write.format("bulksink").option("path", bulk_dir)
     .mode("append").save())
    assert (bulksink.read_manifest(bulk_dir)["n_docs"]
            == cells.select("row_key").distinct().count())
    cells.unpersist()


def test_river_transforms_over_connector(spark, store):
    """The parity pipeline runs unchanged over the connector: document
    assembly on connector-read cells equals assembly on the melted cells."""
    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.plans.pipeline import assemble_documents

    path, cells = store
    config = RiverConfig(table="t", index="i", type_name="d",
                         column_separator="::")
    via_store = assemble_documents(_read(spark, path), config)
    via_frame = assemble_documents(cells, config)
    a = Counter(map(tuple, via_store.collect()))
    b = Counter(map(tuple, via_frame.collect()))
    assert a == b


def test_append_after_sparse_write_loses_nothing(spark, tmp_path):
    """Regression: a bulk write whose range-sharding yields EMPTY partitions
    (distinct row_keys < n_regions) leaves index gaps in the region
    filenames. A later append must allocate indices ABOVE the max on disk —
    allocating at len(manifest) would os.replace-clobber a live region and
    list its file twice in the manifest (old cells silently lost, new cells
    double-read)."""
    path = str(tmp_path / "sparse_store")
    old = spark.createDataFrame(
        [("a", "f", "q", "v1", 10), ("b", "f", "q", "v2", 20)],
        cellstore.CELLS_DDL)
    # 2 distinct keys over 4 range partitions -> at least 2 empty writer tasks
    cellstore.write_cellstore(old, path, n_regions=4)
    new = spark.createDataFrame(
        [("c", "f", "q", "v3", 30), ("d", "f", "q", "v4", 40)],
        cellstore.CELLS_DDL)
    cellstore.append_cells(new, path, n_regions=2)

    manifest = cellstore._load_manifest(path)
    files = [r["file"] for r in manifest]
    assert len(files) == len(set(files)), f"manifest lists a file twice: {files}"
    cellstore.register(spark)
    got = Counter(map(tuple, _read(spark, path).collect()))
    want = Counter(map(tuple, old.unionByName(new).collect()))
    assert got == want


def test_cached_scan_store_ignores_a_crashed_builds_leftovers(
        spark, sf_dir, tmp_path, monkeypatch):
    """Regression: ``q_cellstore_scan`` built its cached store in a fixed
    ``<store>.building`` directory, so concurrent builders shared it and a
    crashed build's leftovers were renamed into the published store. Each
    build now gets its own tmp directory; a stale ``.building`` sibling is
    never published."""
    from elasticsearch_hbase_river_spark.operators import scan

    cellstore.register(spark)
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    store = scan.cellstore_path_for(sf_dir)
    os.makedirs(store + ".building")
    with open(os.path.join(store + ".building", "stale"), "w") as f:
        f.write("left by a crashed build")

    got = scan.q_cellstore_scan(spark, sf_dir)
    assert not os.path.exists(os.path.join(store, "stale"))
    want = scan.q_incremental_scan(spark, sf_dir)
    assert (Counter(map(tuple, got.collect()))
            == Counter(map(tuple, want.collect())))
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in (store, store + ".building"))
