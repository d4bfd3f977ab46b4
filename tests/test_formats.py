"""Round-trip tests for multi-format cells ingest and the ES bulk-line renderer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.sources.cells import cells_from_events
from elasticsearch_hbase_river_spark.sources.formats import (
    CELLS_SCHEMA, FORMATS, read_cells, write_cells,
)


@pytest.mark.parametrize("fmt", FORMATS)
def test_cells_round_trip(spark, sf_dir, tmp_path, fmt):
    cells = cells_from_events(spark, sf_dir)
    path = str(tmp_path / f"cells_{fmt}")
    write_cells(cells, path, fmt)
    back = read_cells(spark, path, fmt)
    assert back.schema == CELLS_SCHEMA
    assert back.count() == cells.count()
    # Value-level check including the JSON-bearing props qualifier.
    orig = {tuple(r) for r in cells.collect()}
    rt = {tuple(r) for r in back.collect()}
    assert rt == orig


def test_es_bulk_ids_match_documents(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.operators.bulk_sink import es_bulk_lines
    from elasticsearch_hbase_river_spark.plans.pipeline import assemble_documents

    docs = assemble_documents(cells_from_events(spark, sf_dir),
                              RiverConfig(index="river", type_name="doc",
                                          table="events"))
    lines = es_bulk_lines(docs)
    joined = lines.withColumn(
        "id_in_action",
        F.get_json_object(F.split("bulk", "\n")[0], "$.index._id"))
    assert joined.filter(F.col("id_in_action") != F.col("doc_id")).count() == 0
