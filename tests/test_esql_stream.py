"""Streaming ES|QL: foreachBatch partial-agg maintenance + merge-at-read.

The reference's tick loop ships transformed rows on a timer
(`HBaseRiver.java:263`); here the same tick maintains an ES|QL STATS
result. Mergeable mode must equal the batch compiler's answer exactly
after a multi-batch availableNow drain — across REAL micro-batch
boundaries (maxFilesPerTrigger=1 over a multi-file source)."""

import pytest

from elasticsearch_hbase_river_spark.esql import ESQLError, esql
from elasticsearch_hbase_river_spark.sources.tables import load_table
from elasticsearch_hbase_river_spark.streaming.epochs import (
    epoch_ids,
    read_feed,
)
from elasticsearch_hbase_river_spark.streaming.esql_stream import (
    plan_esql_stream,
    read_esql_stream_result,
    start_esql_stream,
)

MERGE_TEXT = """
FROM ev
| WHERE event_type IS NOT NULL AND value >= 0
| EVAL vkind = CASE(value > 90, "hot", "normal")
| STATS n = COUNT(*),
        total = ROUND(SUM(value), 4),
        hi = ROUND(MAX(value), 4),
        avg_v = ROUND(AVG(value), 4),
        n_hot = COUNT(*) WHERE vkind == "hot"
  BY event_type
| SORT event_type
"""


def _src(spark, sf_dir, tmp_path, n_files=4):
    src = str(tmp_path / "ev_src")
    (load_table(spark, sf_dir, "events")
     .select("event_id", "event_type", "value")
     .repartition(n_files).write.parquet(src))
    return src


def _stream(spark, src):
    return read_feed(spark, src, spark.read.parquet(src).schema,
                     files_per_trigger=1)


def test_mergeable_stream_equals_batch(spark, sf_dir, tmp_path):
    src = _src(spark, sf_dir, tmp_path)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, MERGE_TEXT, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain in 180s"

    # the maintenance crossed REAL micro-batch boundaries
    epochs = epoch_ids(state, "partials")
    assert len(epochs) >= 2, epochs

    got = read_esql_stream_result(spark, MERGE_TEXT, state)
    expect = esql(spark, MERGE_TEXT,
                  tables={"ev": spark.read.parquet(src)})
    assert got.columns == expect.columns
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in expect.collect()]


def test_recompute_mode_equals_batch(spark, sf_dir, tmp_path):
    text = ("FROM ev | STATS med = MEDIAN(value), "
            "users = COUNT_DISTINCT(event_id) BY event_type "
            "| SORT event_type")
    assert not plan_esql_stream(text)["mergeable"]
    src = _src(spark, sf_dir, tmp_path, n_files=3)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain in 180s"
    got = read_esql_stream_result(spark, text, state)
    expect = esql(spark, text, tables={"ev": spark.read.parquet(src)})
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in expect.collect()]


def test_global_stats_no_by(spark, sf_dir, tmp_path):
    text = ("FROM ev | WHERE value > 50 "
            "| STATS n = COUNT(*), total = ROUND(SUM(value), 4)")
    src = _src(spark, sf_dir, tmp_path, n_files=2)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180)
    got = read_esql_stream_result(spark, text, state).collect()
    expect = esql(spark, text,
                  tables={"ev": spark.read.parquet(src)}).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def test_state_dir_refuses_different_query(spark, sf_dir, tmp_path):
    src = _src(spark, sf_dir, tmp_path, n_files=2)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, MERGE_TEXT, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180)
    other = "FROM ev | STATS n = COUNT(*) BY event_type"
    with pytest.raises(ValueError, match="different"):
        read_esql_stream_result(spark, other, state)
    with pytest.raises(ValueError, match="DIFFERENT"):
        start_esql_stream(spark, other, _stream(spark, src), state,
                          str(tmp_path / "ckpt2"))


def test_plan_validation():
    with pytest.raises(ESQLError, match="exactly one STATS"):
        plan_esql_stream("FROM ev | WHERE a == 1")
    with pytest.raises(ESQLError, match="exactly one STATS"):
        plan_esql_stream("FROM ev | STATS n = COUNT(*) BY a "
                         "| STATS m = SUM(n)")
    with pytest.raises(ESQLError, match="not streamable before STATS"):
        plan_esql_stream("FROM ev | SORT a | STATS n = COUNT(*)")
    with pytest.raises(ESQLError, match="FROM"):
        plan_esql_stream("ROW a = 1 | STATS n = COUNT(*)")
    # scalar wrappers and per-agg WHERE stay mergeable
    assert plan_esql_stream(MERGE_TEXT)["mergeable"]


def test_multi_index_head_refused():
    with pytest.raises(ESQLError, match="batch-only"):
        plan_esql_stream("FROM a, b | STATS n = COUNT(*)")


def test_weighted_avg_is_mergeable_and_equals_batch(spark, sf_dir, tmp_path):
    text = ("FROM ev | STATS w = ROUND(WEIGHTED_AVG(value, event_id), 4) "
            "BY event_type | SORT event_type")
    assert plan_esql_stream(text)["mergeable"]
    src = _src(spark, sf_dir, tmp_path, n_files=3)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180)
    got = read_esql_stream_result(spark, text, state).collect()
    expect = esql(spark, text,
                  tables={"ev": spark.read.parquet(src)}).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


TS_TEXT = """
TS ev
| STATS load = ROUND(AVG(AVG_OVER_TIME(value)), 4),
        peak = ROUND(MAX(MAX_OVER_TIME(value)), 4),
        fst = MIN(FIRST_OVER_TIME(value)),
        lst = MAX(LAST_OVER_TIME(value)),
        n = SUM(COUNT_OVER_TIME(value)),
        n_series = COUNT(*)
  BY event_type, tb = BUCKET(ts, 1 day)
| SORT event_type, tb
| LIMIT 40
"""


def test_streaming_ts_gauge_equals_batch(spark, sf_dir, tmp_path):
    """Continuous hypertable rollup: a series' bucket SPANS micro-batches
    (the source is NOT time-partitioned), so per-epoch inner partials
    must merge back to exactly the batch TS answer."""
    from elasticsearch_hbase_river_spark.esql import TimeSeriesSpec

    spec = {"ev": TimeSeriesSpec("ts", ("user_id", "event_type"))}
    src = str(tmp_path / "ev_src")
    (load_table(spark, sf_dir, "events")
     .select("event_id", "ts", "user_id", "event_type", "value")
     .repartition(4).write.parquet(src))
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, TS_TEXT, _stream(spark, src), state,
                          str(tmp_path / "ckpt"), ts_specs=spec)
    assert q.awaitTermination(180), "stream did not drain in 180s"
    epochs = epoch_ids(state, "partials")
    assert len(epochs) >= 2, epochs
    got = read_esql_stream_result(spark, TS_TEXT, state)
    expect = esql(spark, TS_TEXT, tables={"ev": spark.read.parquet(src)},
                  ts_specs=spec)
    assert got.columns == expect.columns
    g_rows, e_rows = got.collect(), expect.collect()
    assert len(g_rows) == len(e_rows)
    for g, e in zip(g_rows, e_rows):
        # TS averages are order-free exact-decimal (esql._ts_pinned_avg),
        # so even `load` — whose partials re-associate across epochs — is
        # BIT-EXACT against batch, not merely within a rounding step
        for col in ("event_type", "tb", "load", "peak", "fst", "lst", "n",
                    "n_series"):
            assert g[col] == e[col], (col, g, e)


def test_streaming_ts_rejects_rate():
    with pytest.raises(ESQLError, match="not stream-maintainable"):
        plan_esql_stream("TS ev | STATS r = SUM(RATE(c)) "
                         "BY tb = BUCKET(ts, 1 hour)")


def test_order_statistics_stream_as_exact_list_partials(
        spark, sf_dir, tmp_path):
    """MEDIAN / PERCENTILE / MEDIAN_ABSOLUTE_DEVIATION stream as exact
    bounded partials (per-group sorted arrays, concatenated at read and
    finalized with the BATCH aggregate functions) — the result must
    equal the batch compiler bit-for-bit across real micro-batch
    boundaries."""
    text = ("FROM ev | STATS med = MEDIAN(value), "
            "p90 = PERCENTILE(value, 90), "
            "mad = MEDIAN_ABSOLUTE_DEVIATION(value), "
            "n = COUNT(*) BY event_type | SORT event_type")
    assert plan_esql_stream(text)["mergeable"]
    src = _src(spark, sf_dir, tmp_path, n_files=3)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain in 180s"
    epochs = epoch_ids(state, "partials")
    assert len(epochs) >= 2, epochs
    got = read_esql_stream_result(spark, text, state)
    expect = esql(spark, text, tables={"ev": spark.read.parquet(src)})
    assert got.columns == expect.columns
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in expect.collect()]


def test_order_statistics_global_no_by(spark, sf_dir, tmp_path):
    text = ("FROM ev | WHERE value > 10 "
            "| STATS med = MEDIAN(value), p50 = PERCENTILE(value, 50)")
    src = _src(spark, sf_dir, tmp_path, n_files=2)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180)
    got = read_esql_stream_result(spark, text, state).collect()
    expect = esql(spark, text,
                  tables={"ev": spark.read.parquet(src)}).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def test_order_statistics_cap_aborts_loudly(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """A group whose value count exceeds STREAM_VALUES_CAP must abort
    in-plan with the documented message, never build unbounded state."""
    import elasticsearch_hbase_river_spark.streaming.esql_stream as es

    monkeypatch.setattr(es, "STREAM_VALUES_CAP", 5)
    text = "FROM ev | STATS med = MEDIAN(value) BY event_type"
    src = _src(spark, sf_dir, tmp_path, n_files=1)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="STREAM_VALUES_CAP"):
        q.awaitTermination(180)
        raise AssertionError("drain should have failed")


def test_moment_family_streams_as_power_sums(spark, sf_dir, tmp_path):
    """VARIANCE / SKEWNESS / KURTOSIS stream as algebraic power-sum
    partials; the merged result equals the batch compiler (to the
    query's rounding — double addition order differs between one pass
    and merged partials, the same contract as AVG)."""
    text = ("FROM ev | STATS var = ROUND(VARIANCE(value), 4), "
            "sk = ROUND(SKEWNESS(value), 6), "
            "ku = ROUND(KURTOSIS(value), 6) BY event_type "
            "| SORT event_type")
    assert plan_esql_stream(text)["mergeable"]
    src = _src(spark, sf_dir, tmp_path, n_files=3)
    state = str(tmp_path / "state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ckpt"))
    assert q.awaitTermination(180), "stream did not drain in 180s"
    got = read_esql_stream_result(spark, text, state)
    expect = esql(spark, text, tables={"ev": spark.read.parquet(src)})
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in expect.collect()]


def test_order_statistics_null_group_key(spark, tmp_path):
    """A NULL BY-key group must keep its streamed MEDIAN — the finalize
    join-back is null-safe on the group keys."""
    rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0),
            (None, 30.0)]
    src = str(tmp_path / "ng_src")
    spark.createDataFrame(rows, "g string, v double") \
        .repartition(2).write.parquet(src)
    text = "FROM ev | STATS med = MEDIAN(v) BY g | SORT g"
    state = str(tmp_path / "ng_state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "ng_ckpt"))
    assert q.awaitTermination(180)
    got = {r.g: r.med for r in
           read_esql_stream_result(spark, text, state).collect()}
    assert got == {None: 20.0, "a": 2.0}


def test_stream_partial_agg_kql_dtype_dispatch(spark, tmp_path):
    """A per-aggregate WHERE KQL on a numeric column must dispatch on the
    column dtype in the STREAMING partial too (the compiler's dtype
    stash is populated at this entry point, not only in apply())."""
    rows = [(404.0,), (404.5,), (200.0,)]
    src = str(tmp_path / "kd_src")
    spark.createDataFrame(rows, "value double") \
        .coalesce(1).write.parquet(src)
    text = 'FROM ev | STATS n404 = COUNT(*) WHERE KQL("value:404")'
    state = str(tmp_path / "kd_state")
    q = start_esql_stream(spark, text, _stream(spark, src), state,
                          str(tmp_path / "kd_ckpt"))
    assert q.awaitTermination(180)
    got = read_esql_stream_result(spark, text, state).collect()[0]
    # numeric equality: only 404.0 (an analyzed-text match would also
    # count 404.5, whose stringified tokens contain "404")
    assert got.n404 == 1


def test_interrupted_marker_stamp_does_not_poison_state(tmp_path,
                                                        monkeypatch):
    """Regression: the state marker was written in place, so a write
    interrupted mid-``json.dump`` left a truncated marker and every later
    stamp failed with JSONDecodeError. The marker is now replaced whole."""
    import json

    from elasticsearch_hbase_river_spark.streaming import esql_stream as es

    state = str(tmp_path / "state")
    real_dump = json.dump
    calls = []

    def torn_once(obj, f, **kw):
        if not calls:
            calls.append(obj)
            f.write('{"query_sha": "')
            raise OSError("disk full")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(json, "dump", torn_once)
    with pytest.raises(OSError, match="disk full"):
        es._stamp_state(state, MERGE_TEXT, "merge")
    es._stamp_state(state, MERGE_TEXT, "merge")
    assert es._read_meta(state)["query_sha"] == es._query_sha(MERGE_TEXT)
