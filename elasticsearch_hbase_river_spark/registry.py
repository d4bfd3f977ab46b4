"""Merged query/oracle registry consumed by ``__spark_entry__``."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = (
    "elasticsearch_hbase_river_spark.operators.scan",
    "elasticsearch_hbase_river_spark.operators.assemble",
    "elasticsearch_hbase_river_spark.operators.sink",
    "elasticsearch_hbase_river_spark.operators.text",
    "elasticsearch_hbase_river_spark.operators.dedup",
    "elasticsearch_hbase_river_spark.operators.similarity",
    "elasticsearch_hbase_river_spark.operators.rollup",
    "elasticsearch_hbase_river_spark.operators.tpch",
    "elasticsearch_hbase_river_spark.operators.tpch2",
    "elasticsearch_hbase_river_spark.operators.multimodal",
    "elasticsearch_hbase_river_spark.operators.curation",
    "elasticsearch_hbase_river_spark.operators.pretrain",
    "elasticsearch_hbase_river_spark.operators.analytics",
    "elasticsearch_hbase_river_spark.operators.graph",
    "elasticsearch_hbase_river_spark.operators.search",
    "elasticsearch_hbase_river_spark.operators.retrieval",
    "elasticsearch_hbase_river_spark.operators.indexed_search",
    "elasticsearch_hbase_river_spark.operators.multifield",
    "elasticsearch_hbase_river_spark.operators.nesteddoc",
    "elasticsearch_hbase_river_spark.operators.liveserve",
    "elasticsearch_hbase_river_spark.operators.esagg",
    "elasticsearch_hbase_river_spark.operators.esdsl2",
    "elasticsearch_hbase_river_spark.operators.esdsl3",
    "elasticsearch_hbase_river_spark.operators.esdsl4",
    "elasticsearch_hbase_river_spark.operators.esdsl5",
    "elasticsearch_hbase_river_spark.operators.esdsl6",
    "elasticsearch_hbase_river_spark.operators.esdsl7",
    "elasticsearch_hbase_river_spark.operators.esdsl8",
    "elasticsearch_hbase_river_spark.operators.esdsl9",
    "elasticsearch_hbase_river_spark.operators.esdsl10",
    "elasticsearch_hbase_river_spark.operators.esql_pack",
    "elasticsearch_hbase_river_spark.operators.ccnet",
    "elasticsearch_hbase_river_spark.operators.unicode_text",
    "elasticsearch_hbase_river_spark.operators.observability",
    "elasticsearch_hbase_river_spark.operators.vector_index",
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import importlib

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(mod_name)
        for name, fn in mod.QUERIES.items():
            assert name not in out, f"duplicate query name {name}"
            out[name] = fn
    return out


def all_oracles() -> dict[str, str]:
    import importlib

    out: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(mod_name)
        out.update(getattr(mod, "ORACLES", {}))
    return out
