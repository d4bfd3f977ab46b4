"""The bulksink writer connector: micro-batched bulk bodies, manifest-atomic
commit (the DSv2 replacement for per-item ack scanning,
HBaseParser.java:135-175), and exactly-once epochs. Lines are rendered by
``es_bulk_lines``, the package's one bulk-line renderer."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import elasticsearch_hbase_river_spark as pkg
import pytest
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.operators.bulk_sink import es_bulk_lines
from elasticsearch_hbase_river_spark.sources import bulksink


@pytest.fixture()
def docs(spark):
    """250 documents rendered as bulk action/source pairs (index ``river``,
    type ``doc``): the one ``bulk`` column the writer takes."""
    return es_bulk_lines(spark.range(0, 250).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
        (F.lit(1_700_000_000_000) + F.col("id")).alias("doc_ts_ms"),
        F.concat(F.lit('{"n":'), F.col("id"), F.lit("}")).alias("doc_json"),
    )).select("bulk")


def test_batch_write_publishes_all_docs_in_bulk_files(spark, docs, tmp_path):
    bulksink.register(spark)
    path = str(tmp_path / "sink")
    (docs.repartition(4).write.format("bulksink")
     .option("path", path).option("batch_size", 30).mode("append").save())
    m = bulksink.read_manifest(path)
    assert m["n_docs"] == 250
    lines = bulksink.committed_lines(path)
    # two lines per doc: action + source
    assert len(lines) == 500
    actions = [json.loads(l)["index"] for l in lines[::2]]
    ids = {a["_id"] for a in actions}
    assert ids == {f"k{i}" for i in range(250)}
    assert {(a["_index"], a["_type"]) for a in actions} == {("river", "doc")}
    for source_line in lines[1::2]:
        source = json.loads(source_line)
        assert isinstance(source, dict) and source


def test_bulk_files_respect_batch_size(spark, docs, tmp_path):
    bulksink.register(spark)
    path = str(tmp_path / "sink")
    (docs.repartition(4).write.format("bulksink")
     .option("path", path).option("batch_size", 30).mode("append").save())
    for fname in bulksink.read_manifest(path)["bulks"]:
        lines = [l for l in open(f"{path}/{fname}").read().splitlines() if l]
        assert len(lines) % 2 == 0 and len(lines) // 2 <= 30
        # one file == one bulk: every action line is followed by its source
        for action_line, source_line in zip(lines[0::2], lines[1::2]):
            assert json.loads(action_line)["index"]["_index"] == "river"
            assert isinstance(json.loads(source_line), dict)


def test_writer_takes_exactly_one_bulk_column(spark, tmp_path):
    """Unrendered documents are refused: the writer never renders."""
    bulksink.register(spark)
    raw = spark.createDataFrame(
        [("k1", 1, "{}")], "doc_id string, doc_ts_ms long, doc_json string")
    with pytest.raises(Exception, match="one string column named 'bulk'"):
        (raw.write.format("bulksink").option("path", str(tmp_path / "sink"))
         .mode("append").save())


def test_append_merges_manifest(spark, docs, tmp_path):
    bulksink.register(spark)
    path = str(tmp_path / "sink")
    for _ in range(2):
        (docs.write.format("bulksink").option("path", path)
         .mode("append").save())
    assert bulksink.read_manifest(path)["n_docs"] == 500


def test_uncommitted_files_stay_invisible(spark, docs, tmp_path):
    """A file on disk that no manifest lists must never be read — that is
    the atomic-visibility contract replacing ack scanning."""
    bulksink.register(spark)
    path = str(tmp_path / "sink")
    (docs.write.format("bulksink").option("path", path)
     .mode("append").save())
    stray = tmp_path / "sink" / "bulk-deadbeef.ndjson"
    stray.write_text('{"index":{}}\n{"rogue":1}\n')
    lines = bulksink.committed_lines(path)
    assert all("rogue" not in l for l in lines)
    assert len(lines) == 500


def test_epoch_replay_publishes_exactly_once(spark, docs, tmp_path):
    """Replaying an epoch-tagged batch write (foreachBatch retry after a
    crash between sink write and checkpoint commit) must not
    double-publish: the manifest is the exactly-once ledger."""
    bulksink.register(spark)
    path = str(tmp_path / "sink")
    for _ in range(2):  # same epoch written twice
        (docs.write.format("bulksink").option("path", path)
         .option("epoch", 7).mode("append").save())
    m = bulksink.read_manifest(path)
    assert m["n_docs"] == 250
    assert m["epochs"] == [7]
    assert len(bulksink.committed_lines(path)) == 500


def test_connector_river_stream(spark, sf_dir, tmp_path):
    """cellstore stream -> document assembly -> bulksink, twice: the second
    availableNow run publishes only the appended delta."""
    from pyspark.sql import functions as F2

    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.sources import cellstore
    from elasticsearch_hbase_river_spark.sources.cells import cells_from_events
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_river_stream,
    )

    cells = cells_from_events(spark, sf_dir).persist()
    wm = int(cells.agg(F2.expr("percentile(ts_ms, 0.5)")).first()[0])
    old = cells.filter(F2.col("ts_ms") <= wm)
    new = cells.filter(F2.col("ts_ms") > wm)
    store = str(tmp_path / "store")
    bulk_dir = str(tmp_path / "bulk")
    ckpt = str(tmp_path / "ckpt")
    cellstore.write_cellstore(old, store, n_regions=3)
    config = RiverConfig(table="t", index="i", type_name="d",
                         column_separator="::")

    def drain() -> None:
        q = start_river_stream(spark, config, store, bulk_dir, ckpt,
                               available_now=True, sink_format="es_bulk")
        assert q.awaitTermination(180), "stream did not drain in 180s"

    drain()
    assert (bulksink.read_manifest(bulk_dir)["n_docs"]
            == old.select("row_key").distinct().count())
    cellstore.append_cells(new, store)
    drain()
    assert (bulksink.read_manifest(bulk_dir)["n_docs"]
            == cells.select("row_key").distinct().count())
    cells.unpersist()


_PKG = Path(pkg.__file__).parent


def _bulk_writer_uses(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, what) of every ``format("bulksink")`` call and every
    ``maxRecordsPerFile`` string (docstrings included)."""
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format" and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "bulksink"):
            out.append((node.lineno, 'format("bulksink")'))
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and "maxRecordsPerFile" in node.value):
            out.append((node.lineno, "maxRecordsPerFile"))
    return out


def test_one_bulk_file_writer_in_the_package():
    """Bulk files are written in one place: the streaming river's
    ``bulksink`` publication. No Spark text write splits them by
    ``maxRecordsPerFile``."""
    uses = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        uses += [(rel, what)
                 for _, what in _bulk_writer_uses(ast.parse(path.read_text()))]
    assert uses == [("streaming/river_stream.py", 'format("bulksink")')]

