"""Nested-document search surface: the river's assembled dynamic fields.

Pins (a) the sparse-view semantics (writer-conditioned cell presence),
(b) the dynamic field discovery from real families/qualifiers + JSON
leaves, (c) the fielded index's pruned-read plan shape, and (d) that the
ids query filter lands below the assembly fold. Value-level correctness
vs DuckDB is the oracle gate's job (all six queries carry oracles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.operators import nesteddoc as nd
from elasticsearch_hbase_river_spark.streaming.epochs import epoch_ids


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sparse_cells_writer_conditioned(spark, sf_dir):
    """data:value only for purchase/click; data:props for everything but
    signup; meta:* always — per the documented sparse-view contract."""
    cells = nd.sparse_cells(spark, sf_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    n_pc = ev.filter(F.col("event_type").isin("purchase", "click")).count()
    n_sign = ev.filter(F.col("event_type") == "signup").count()
    got = {(r["family"], r["qualifier"]): r["n"]
           for r in cells.groupBy("family", "qualifier")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got[("meta", "event_type")] == n
    assert got[("meta", "user_id")] == n
    assert got[("data", "value")] == n_pc
    assert got[("data", "props")] == n - n_sign


def test_nested_live_fixture_docs_are_the_churned_events(spark, sf_dir):
    """The live fixture's epoch takes its doc manifest from the melted
    cells' row keys, as the nested stream does; ``sparse_melt`` keeps both
    meta cells of every event, so that manifest is exactly the churned
    event ids."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        nested_epoch_parts,
    )

    churned = (nd.load_table(spark, sf_dir, "events")
               .filter(nd._nlive_churn_sel()))
    docs = nested_epoch_parts(nd.sparse_melt(churned))["docs"]
    want = {str(r.event_id) for r in churned.select("event_id").collect()}
    assert {r.doc_id for r in docs.collect()} == want and want


def test_fielded_cells_discovers_json_leaves(spark, sf_dir):
    """The props JSON object must expand to data.props.<key> leaf fields;
    the raw object itself is an interior node, never a field."""
    fields = {r["field"] for r in
              nd.fielded_cells(spark, sf_dir).select("field")
              .distinct().collect()}
    assert "data.props.k" in fields
    assert "data.props" not in fields
    assert {"meta.event_type", "meta.user_id", "data.value"} <= fields


def test_ids_filter_pushes_below_assembly(spark, sf_dir):
    """The ids query must filter BEFORE the groupBy(row_key) fold: the
    events scan carries a pushed filter, and the assembly shuffle sees
    only the requested rows (no full-corpus aggregate)."""
    plan = _plan(nd.q_ids(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # the id literals reach the scan-level filter
    assert "no_such_row" in plan or "isnotnull" in plan


def test_nested_index_serves_pruned_buckets(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """The indexed multi_match must read ONLY the query terms' token
    buckets (PartitionFilters on tbucket), rebuild nothing corpus-sized
    (no events scan), and never plan a cartesian."""
    monkeypatch.setenv("RIVER_INDEX_ROOT", str(tmp_path / "idx_root"))
    plan = _plan(nd.q_nested_field_search_indexed(spark, sf_dir))
    assert "tbucket" in plan
    assert "events.parquet" not in plan, "indexed path re-scanned the corpus"
    assert "CartesianProduct" not in plan


def test_exists_indexed_is_sidecar_only(spark, sf_dir, tmp_path,
                                        monkeypatch):
    """exists served from the fstats sidecar must touch ONE relation."""
    monkeypatch.setenv("RIVER_INDEX_ROOT", str(tmp_path / "idx_root"))
    nd.ensure_nested_index(spark, sf_dir)
    plan = _plan(nd.q_exists_field_indexed(spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "events.parquet" not in plan


def test_ids_returns_only_existing_ids(spark, sf_dir):
    out = {r["doc_id"] for r in nd.q_ids(spark, sf_dir).collect()}
    assert out == {"7", "19", "23"}  # no_such_row absent, as in ES


def test_ids_indexed_is_docstore_point_lookup(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """The indexed ids query must read ONLY the docstore, pruned to the id
    literals' dbuckets — no corpus scan, no re-assembly (no aggregate),
    and the same rows as the rebuild path."""
    monkeypatch.setenv("RIVER_INDEX_ROOT", str(tmp_path / "idx_root"))
    df = nd.q_ids_indexed(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "events.parquet" not in plan
    assert "dbucket" in plan
    assert "HashAggregate" not in plan, "point lookup should not aggregate"
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, nd.q_ids(spark, sf_dir).collect()))
    assert got == want


def test_json_leaf_extraction_parity_beyond_flat_values(spark, sf_dir):
    """The fixture's props are flat {"k": N}; a real river carries nested
    objects, arrays, nulls, doubles, booleans. The engine's leaf
    extraction (from_json map<string,string>) must render each value
    byte-identically to the oracle's json_extract_string — nested objects
    as compact JSON text, JSON null as SQL NULL (ES: a null leaf does not
    exist)."""
    import duckdb

    vals = ['{"a": {"b": 1}}', '{"arr": [1,2]}', '{"s": null}',
            '{"n": 1.5}', '{"b": true}', '{"t": "x y"}', "{}"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = sorted((r["k"], r["val"]) for r in df.select(
        F.explode(F.from_json("v", "map<string,string>"))
        .alias("k", "val")).collect())
    con = duckdb.connect()
    want = sorted(map(tuple, con.execute(
        "SELECT k, json_extract_string(v, '$.' || k) FROM ("
        "SELECT v, unnest(json_keys(v)) AS k FROM (SELECT unnest(?) AS v))",
        [vals]).fetchall()))
    assert got == want


def _mk_cells(spark, rows):
    """rows: (row_key, family, qualifier, value, ts_ms)."""
    return spark.createDataFrame(
        rows, "row_key string, family string, qualifier string, "
              "value string, ts_ms long")


def _doc_cells(doc, et, uid, ts):
    return [(doc, "meta", "event_type", et, ts),
            (doc, "meta", "user_id", uid, ts)]


def test_nested_stream_live_serving_equals_rebuild(spark, tmp_path):
    """Two stream epochs over the fielded index — an update superseded by
    a later update plus a brand-new doc — served live must equal the
    rebuild over the final corpus (same scoring pipeline, same rows)."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_nested_index_stream,
    )

    base_cells = _mk_cells(spark, (
        _doc_cells("1", "error", "87", 10)
        + _doc_cells("2", "click", "12", 10)
        + _doc_cells("3", "error error purchase", "87", 10)))
    base = str(tmp_path / "base_idx")
    nd.build_nested_index(spark, nd.fielded_cells_from(base_cells), base)

    src = str(tmp_path / "src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "ckpt")
    # epoch 0: doc 1 re-indexed (user_id flips to 12)
    _mk_cells(spark, _doc_cells("1", "error", "12", 20)) \
        .write.mode("append").parquet(src)
    q = start_nested_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    # epoch 1: doc 1 AGAIN (supersedes epoch 0) + brand-new doc 4
    _mk_cells(spark, _doc_cells("1", "view", "87", 30)
              + _doc_cells("4", "error purchase", "87", 30)) \
        .write.mode("append").parquet(src)
    q = start_nested_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    final_cells = _mk_cells(spark, (
        _doc_cells("1", "view", "87", 30)
        + _doc_cells("2", "click", "12", 10)
        + _doc_cells("3", "error error purchase", "87", 10)
        + _doc_cells("4", "error purchase", "87", 30)))
    rebuilt = str(tmp_path / "rebuilt_idx")
    nd.build_nested_index(spark, nd.fielded_cells_from(final_cells),
                          rebuilt)

    terms = ("error", "87")
    live = sorted(map(tuple, nd.nested_field_search_live(
        spark, base, epochs, terms=terms).collect()))
    # rebuild reference: the indexed read path over the rebuilt snapshot
    p = nd.read_fpostings(spark, rebuilt, terms)
    fdl = p.select("doc_id", "field", "dl").distinct()
    fstats = (nd.read_fstats(spark, rebuilt)
              .select("field", "n_docs", "avgdl"))
    dfr = nd.read_fvocab(spark, rebuilt, terms)
    want = sorted(map(tuple, nd._score_fielded(
        p.select("doc_id", "field", "token", "tf"), fdl, fstats,
        dfr).collect()))
    assert live == want and len(live) > 0


def test_nested_stream_single_drain_multibatch_live_equals_rebuild(
        spark, tmp_path):
    """ONE availableNow drain over three time-sliced source files with
    files_per_trigger=1: three real micro-batch boundaries inside a
    single stream run, landing three epochs whose arbitration (doc 1
    updated twice then once more, doc 5 emptied of analyzable fields,
    doc 4 born mid-run) must serve live exactly like a rebuild over the
    final corpus."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_nested_index_stream,
    )

    base_cells = _mk_cells(spark, (
        _doc_cells("1", "error", "87", 10)
        + _doc_cells("2", "click", "12", 10)
        + _doc_cells("3", "error error purchase", "87", 10)
        + _doc_cells("5", "error", "87", 10)))
    base = str(tmp_path / "mb_base_idx")
    nd.build_nested_index(spark, nd.fielded_cells_from(base_cells), base)

    src = str(tmp_path / "mb_src")
    # three files, written oldest-first => three triggers in ONE drain
    _mk_cells(spark, _doc_cells("1", "error", "12", 20)) \
        .coalesce(1).write.mode("append").parquet(src)
    _mk_cells(spark, _doc_cells("1", "view", "87", 30)
              + _doc_cells("4", "error purchase", "87", 30)) \
        .coalesce(1).write.mode("append").parquet(src)
    # doc 5 re-indexed with NO analyzable tokens in any field value
    _mk_cells(spark, [("5", "meta", "event_type", "", 40),
                      ("5", "meta", "user_id", "", 40)]) \
        .coalesce(1).write.mode("append").parquet(src)

    epochs = str(tmp_path / "mb_epochs")
    q = start_nested_index_stream(spark, src, epochs,
                                  str(tmp_path / "mb_ckpt"),
                                  files_per_trigger=1)
    assert q.awaitTermination(240), "stream did not drain in 240s"
    n_epochs = len(epoch_ids(epochs, "docs"))
    assert n_epochs == 3, f"expected 3 micro-batch epochs, got {n_epochs}"

    final_cells = _mk_cells(spark, (
        _doc_cells("1", "view", "87", 30)
        + _doc_cells("2", "click", "12", 10)
        + _doc_cells("3", "error error purchase", "87", 10)
        + _doc_cells("4", "error purchase", "87", 30)
        + [("5", "meta", "event_type", "", 40),
           ("5", "meta", "user_id", "", 40)]))
    rebuilt = str(tmp_path / "mb_rebuilt_idx")
    nd.build_nested_index(spark, nd.fielded_cells_from(final_cells),
                          rebuilt)

    terms = ("error", "87")
    live = sorted(map(tuple, nd.nested_field_search_live(
        spark, base, epochs, terms=terms).collect()))
    p = nd.read_fpostings(spark, rebuilt, terms)
    fdl = p.select("doc_id", "field", "dl").distinct()
    fstats = (nd.read_fstats(spark, rebuilt)
              .select("field", "n_docs", "avgdl"))
    dfr = nd.read_fvocab(spark, rebuilt, terms)
    want = sorted(map(tuple, nd._score_fielded(
        p.select("doc_id", "field", "token", "tf"), fdl, fstats,
        dfr).collect()))
    assert live == want and len(live) > 0


def test_nested_stream_sidecar_fast_path_equals_rebuild(spark, tmp_path):
    """Same three-epoch drain as above but with ``base_index_dir`` set,
    so every epoch lands an ``fstats_delta`` sidecar (prev-version
    removal: base for first-touch docs, the latest earlier epoch after
    that). The serve path then takes the two-job sidecar route — it must
    still equal the rebuild exactly, including the doc re-indexed twice
    (telescoping deltas) and the doc emptied of analyzable fields."""
    import os

    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_nested_index_stream,
    )

    base_cells = _mk_cells(spark, (
        _doc_cells("1", "error", "87", 10)
        + _doc_cells("2", "click", "12", 10)
        + _doc_cells("3", "error error purchase", "87", 10)
        + _doc_cells("5", "error", "87", 10)))
    base = str(tmp_path / "sc_base_idx")
    nd.build_nested_index(spark, nd.fielded_cells_from(base_cells), base)

    src = str(tmp_path / "sc_src")
    _mk_cells(spark, _doc_cells("1", "error", "12", 20)) \
        .coalesce(1).write.mode("append").parquet(src)
    _mk_cells(spark, _doc_cells("1", "view", "87", 30)
              + _doc_cells("4", "error purchase", "87", 30)) \
        .coalesce(1).write.mode("append").parquet(src)
    _mk_cells(spark, [("5", "meta", "event_type", "", 40),
                      ("5", "meta", "user_id", "", 40)]) \
        .coalesce(1).write.mode("append").parquet(src)

    epochs = str(tmp_path / "sc_epochs")
    q = start_nested_index_stream(spark, src, epochs,
                                  str(tmp_path / "sc_ckpt"),
                                  files_per_trigger=1,
                                  base_index_dir=base)
    assert q.awaitTermination(240), "stream did not drain in 240s"
    assert epoch_ids(epochs, "docs") == {0, 1, 2}
    assert epoch_ids(epochs, "fstats_delta") == {0, 1, 2}

    final_cells = _mk_cells(spark, (
        _doc_cells("1", "view", "87", 30)
        + _doc_cells("2", "click", "12", 10)
        + _doc_cells("3", "error error purchase", "87", 10)
        + _doc_cells("4", "error purchase", "87", 30)
        + [("5", "meta", "event_type", "", 40),
           ("5", "meta", "user_id", "", 40)]))
    rebuilt = str(tmp_path / "sc_rebuilt_idx")
    nd.build_nested_index(spark, nd.fielded_cells_from(final_cells),
                          rebuilt)

    terms = ("error", "87")
    live = sorted(map(tuple, nd.nested_field_search_live(
        spark, base, epochs, terms=terms).collect()))
    p = nd.read_fpostings(spark, rebuilt, terms)
    fdl = p.select("doc_id", "field", "dl").distinct()
    fstats = (nd.read_fstats(spark, rebuilt)
              .select("field", "n_docs", "avgdl"))
    dfr = nd.read_fvocab(spark, rebuilt, terms)
    want = sorted(map(tuple, nd._score_fielded(
        p.select("doc_id", "field", "token", "tf"), fdl, fstats,
        dfr).collect()))
    assert live == want and len(live) > 0
