"""End-to-end river pipeline semantics (SURVEY.md §3.2)."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.plans.pipeline import (
    flagship, river_tick_plan, run_once, sink_max_ts,
)
from elasticsearch_hbase_river_spark.sources.cells import cells_from_events


@pytest.fixture()
def cfg():
    return RiverConfig(table="events", index="river", type_name="doc",
                       column_separator="::", delete_old=True)


def test_flagship_documents_are_valid_sorted_json(spark, sf_dir):
    rows = flagship(spark, sf_dir).limit(50).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.doc_json)  # escaping is correct
        assert set(doc) <= {"data", "meta"}
        assert list(doc) == sorted(doc)  # deterministic key order
        assert r.doc_id == r.row_key


def _sink_files(sink: str) -> list[str]:
    return sorted(f for f in os.listdir(sink) if f.startswith("part-"))


def _job_ids(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits from this thread."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_run(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` submits from this thread."""
    return len(_job_ids(spark, fn))


def test_tick_is_incremental(spark, sf_dir, cfg, tmp_path):
    cells = cells_from_events(spark, sf_dir)
    sink = str(tmp_path / "sink")
    r1 = run_once(spark, cells, cfg, sink)
    assert r1.rows_indexed == 1000
    assert r1.deleted_keys == 1000  # delete_old: acked rows eligible
    # the observed watermark equals a fresh read of the sink
    assert r1.watermark_ms == sink_max_ts(spark, sink)
    files = _sink_files(sink)
    r2 = run_once(spark, cells, cfg, sink)
    assert r2.rows_indexed == 0  # watermark: nothing new
    assert r2.watermark_ms == r1.watermark_ms
    assert sink_max_ts(spark, sink) == r1.watermark_ms
    assert _sink_files(sink) == files  # an idle tick writes nothing


def test_tick_job_counts(spark, sf_dir, cfg, tmp_path):
    """The tick is a footer-only watermark read (no job), one emptiness
    probe and one observed write: no recount of the output, no sink scan."""
    cells = cells_from_events(spark, sf_dir)
    lo, hi = cells.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    old = cells.filter(F.col("ts_ms") <= (lo + hi) // 2)
    sink = str(tmp_path / "sink_jobs")
    ticks = []

    def tick(c):
        return _jobs_run(spark, lambda: ticks.append(run_once(spark, c, cfg,
                                                              sink)))

    assert tick(old) <= 3                      # cold: absent sink
    assert tick(cells) <= 3                    # delta on an existing sink
    assert tick(cells) <= 1                    # no-op
    assert [t.rows_indexed > 0 for t in ticks] == [True, True, False]


def _files_read(spark, job_ids) -> set[int]:
    """The ``number of files read`` of every file scan in the SQL
    executions that ran those jobs."""
    store = spark._jsparkSession.sharedState().statusStore()
    out, it = set(), store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if not any(e.jobs().contains(j) for j in job_ids):
            continue
        values = store.executionMetrics(e.executionId())
        metrics = e.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            if m.name() == "number of files read":
                out.add(int(values.get(m.accumulatorId()).get()))
    return out


def test_tick_takes_a_cell_one_ms_past_the_sink_max(spark, cfg, tmp_path):
    """The watermark is max + 1 and the scan includes it, like the
    reference's inclusive ``setMinTimestamp(max + 1)``: a cell landing
    exactly one millisecond after the sink's newest is indexed."""
    cells = spark.createDataFrame(
        [("a", "f", "q", "1", 5), ("b", "f", "q", "2", 6)],
        "row_key string, family string, qualifier string, value string, "
        "ts_ms long")
    sink = str(tmp_path / "sink_edge")
    first = run_once(spark, cells.filter(F.col("ts_ms") <= 5), cfg, sink)
    assert (first.rows_indexed, first.watermark_ms) == (1, 6)
    second = run_once(spark, cells, cfg, sink)
    assert (second.rows_indexed, second.watermark_ms) == (1, 7)


def test_file_source_tick_job_counts(spark, sf_dir, cfg, tmp_path):
    """Over landed parquet files, the footers decide what a tick reads: a
    no-op tick runs no job, an unscoped tick skips the emptiness probe,
    and a delta tick scans only the file landed since the last tick."""
    from elasticsearch_hbase_river_spark.sources.formats import (
        read_cells, write_cells,
    )

    cells = cells_from_events(spark, sf_dir)
    lo, hi = cells.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    slices = [cells.filter(F.col("ts_ms") <= cut1),
              cells.filter(F.col("ts_ms").between(cut1 + 1, cut2)),
              cells.filter(F.col("ts_ms") > cut2)]
    family = RiverConfig(table="events", index="river", type_name="doc",
                         column_separator="::", family="meta")
    for name, config, cold_max, delta_max in (("unscoped", cfg, 2, 2),
                                              ("family", family, 3, 3)):
        src, sink = str(tmp_path / f"src_{name}"), str(tmp_path / name)
        ticks = []

        def tick():
            return _job_ids(spark, lambda: ticks.append(
                run_once(spark, read_cells(spark, src), config, sink)))

        for s in slices[:2]:
            write_cells(s.coalesce(1), src, mode="append")
        assert len(tick()) <= cold_max, name               # cold
        write_cells(slices[2].coalesce(1), src, mode="append")
        delta = tick()
        assert len(delta) <= delta_max, name
        assert _files_read(spark, delta) == {1}, name      # the new file
        assert len(tick()) == 0, name                      # no-op
        assert [t.rows_indexed > 0 for t in ticks] == [True, True, False]
        assert ticks[2].watermark_ms == ticks[1].watermark_ms


def _row_groups(path: str) -> list[int]:
    """Rows of each row group of one parquet file, in file order."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return [md.row_group(g).num_rows for g in range(md.num_row_groups)]


def _compiles(spark) -> int:
    """Whole-stage and expression classes Janino has compiled in this JVM."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_steady_state_river_ops_compile_nothing(spark, sf_dir, cfg,
                                                tmp_path):
    """Neither the tick nor the stream puts a per-op literal (the
    watermark, the micro-batch id) in its plan, so once a delta tick and a
    drain have run, the next ones reuse their generated code. The delta
    tick writes one file per write task however many bulks it holds."""
    from elasticsearch_hbase_river_spark.sources.formats import (
        read_cells, write_cells,
    )
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_river_stream,
    )

    cells = cells_from_events(spark, sf_dir)
    lo, hi = cells.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    cuts = [lo - 1] + [lo + i * (hi - lo) // 4 for i in (1, 2, 3)] + [hi]
    src, sink = str(tmp_path / "src_steady"), str(tmp_path / "sink_steady")

    def land(i):
        write_cells(cells.filter(F.col("ts_ms").between(cuts[i] + 1,
                                                        cuts[i + 1]))
                    .coalesce(1), src, mode="append")

    def tick():
        return run_once(spark, read_cells(spark, src), cfg, sink)

    def drain():
        q = start_river_stream(spark, cfg, src, str(tmp_path / "stream"),
                               str(tmp_path / "ckpt"), available_now=True)
        assert q.awaitTermination(120), "stream did not drain in 120s"
        assert q.exception() is None

    for i in (0, 1):                   # a cold tick, then a delta tick
        land(i)
        tick()
        drain()
    land(2)
    before = set(_sink_files(sink))
    c0 = _compiles(spark)
    res = tick()
    c1 = _compiles(spark)
    drain()
    assert (c1 - c0, _compiles(spark) - c1) == (0, 0)
    new = sorted(set(_sink_files(sink)) - before)
    assert res.rows_indexed > cfg.batch_size
    # part-<task>-<job>-c<n>: a task that split its output would write c001
    assert new and all(f.split(".")[0].endswith("-c000") for f in new)
    assert sum(sum(_row_groups(os.path.join(sink, f))) for f in new) \
        == res.rows_indexed


def _multi_file_sink(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.operators.bulk_sink import write_bulk

    sink = str(tmp_path / "sink_multi")
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::")
    write_bulk(river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
               .repartition(10), sink, batch_size=40)
    files = _sink_files(sink)
    assert len(files) >= 10
    assert any(len(_row_groups(os.path.join(sink, f))) >= 2 for f in files)
    return sink, None


def _day_partitioned_sink(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.operators.bulk_sink import write_bulk

    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::")
    sink = str(tmp_path / "sink_days")
    write_bulk(river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0),
               sink, batch_size=500, partition_by_day=True)
    assert any(d.startswith("dt=") for d in os.listdir(sink))
    return sink, None


def _custom_mapped_sink(spark, sf_dir, tmp_path):
    cfg = RiverConfig(
        table="events", index="river", type_name="doc", column_separator="::",
        custom_mapping="doc_id STRING, doc_ts_ms LONG, doc_json STRING, "
                       "ingest_tag STRING")
    sink = str(tmp_path / "sink_mapped")
    run_once(spark, cells_from_events(spark, sf_dir), cfg, sink)
    return sink, None


def _max_ts_dead_lettered_sink(spark, sf_dir, tmp_path):
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::")
    cells = cells_from_events(spark, sf_dir)
    top = river_tick_plan(cells, cfg, 0).agg(F.max("doc_ts_ms")).first()[0]
    sink = str(tmp_path / "sink_rejects")
    run_once(spark, cells, cfg, sink, reject_when=F.col("doc_ts_ms") == top,
             dead_letter_path=str(tmp_path / "dlq_rejects"))
    return sink, None


def _foreign_rows(sink, ts):
    """A one-row pyarrow table with the engine sink's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(os.path.join(sink, _sink_files(sink)[0]))
    row = {f.name: [ts if f.name == "doc_ts_ms" else "foreign"]
           for f in schema}
    return pa.table(row, schema=schema)


def _stats_less_file_sink(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    sink, _ = _multi_file_sink(spark, sf_dir, tmp_path)
    top = spark.read.parquet(sink).agg(F.max("doc_ts_ms")).first()[0]
    path = os.path.join(sink, "part-foreign.parquet")
    pq.write_table(_foreign_rows(sink, top + 5), path, write_statistics=False)
    assert pq.read_metadata(path).row_group(0).column(0).statistics is None
    return sink, top + 6     # the max lives only in the stats-less file


def _hidden_entries_sink(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    sink, _ = _multi_file_sink(spark, sf_dir, tmp_path)
    top = spark.read.parquet(sink).agg(F.max("doc_ts_ms")).first()[0]
    attempt = os.path.join(sink, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(attempt)
    huge = _foreign_rows(sink, top + 10**9)
    pq.write_table(huge, os.path.join(attempt, "part-uncommitted.parquet"))
    pq.write_table(huge, os.path.join(sink, ".part-hidden.parquet"))
    names = os.listdir(sink)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    return sink, top + 1


@pytest.mark.parametrize("make_sink", [
    _multi_file_sink, _day_partitioned_sink, _custom_mapped_sink,
    _max_ts_dead_lettered_sink, _stats_less_file_sink, _hidden_entries_sink,
], ids=lambda f: f.__name__.strip("_"))
def test_footer_watermark_matches_spark_aggregate(spark, sf_dir, tmp_path,
                                                  make_sink):
    """The footer-stat watermark equals Spark's own max(doc_ts_ms) + 1 over
    the same sink, and reading it submits no Spark job."""
    sink, expected = make_sink(spark, sf_dir, tmp_path)
    got = []
    assert _jobs_run(spark, lambda: got.append(sink_max_ts(spark, sink))) == 0
    mx = spark.read.parquet(sink).agg(F.max("doc_ts_ms")).first()[0]
    assert got == [mx + 1]
    if expected is not None:
        assert got == [expected]


def test_footer_watermark_rejects_non_integer_doc_ts(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = tmp_path / "sink_str_ts"
    sink.mkdir()
    pq.write_table(pa.table({"doc_ts_ms": ["1700000000000"]}),
                   str(sink / "part-0.parquet"))
    with pytest.raises(ValueError, match="doc_ts_ms must be an integer"):
        sink_max_ts(spark, str(sink))


def _crashed_first_write(tmp_path) -> str:
    """A sink whose first write died before its job commit: only the
    committer's ``_temporary`` tree exists, holding a torn part file."""
    attempt = tmp_path / "sink_crashed" / "_temporary" / "0" / "_temporary"
    attempt.mkdir(parents=True)
    (attempt / "part-00000-torn.snappy.parquet").write_bytes(b"PAR1\0torn")
    return str(tmp_path / "sink_crashed")


def test_crashed_first_write_cold_starts_the_watermark(spark, sf_dir, cfg,
                                                       tmp_path):
    """No data file means cold start at 0 (HBaseParser.java:277), and the
    next tick indexes everything instead of failing on every tick."""
    sink = _crashed_first_write(tmp_path)
    assert sink_max_ts(spark, sink) == 0
    r = run_once(spark, cells_from_events(spark, sf_dir), cfg, sink)
    assert r.rows_indexed == 1000
    assert r.watermark_ms == sink_max_ts(spark, sink) > 0


def test_dedup_against_crashed_first_write_passes_through(spark, sf_dir, cfg,
                                                          tmp_path):
    from elasticsearch_hbase_river_spark.plans.pipeline import dedup_against_sink

    docs = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    sink = _crashed_first_write(tmp_path)
    assert dedup_against_sink(spark, docs, sink).count() == 1000


def test_tick_picks_up_new_cells(spark, sf_dir, cfg, tmp_path):
    cells = cells_from_events(spark, sf_dir)
    sink = str(tmp_path / "sink")
    old = cells.filter(F.col("ts_ms") % 2 == 0)
    new = cells.filter(F.col("ts_ms") % 2 == 1)
    r1 = run_once(spark, old, cfg, sink)
    # second tick sees the full table; only cells above the watermark load
    r2 = run_once(spark, cells, cfg, sink)
    expected_new = (new.filter(F.col("ts_ms") > r1.watermark_ms - 1)
                    .select("row_key").distinct().count())
    assert r2.rows_indexed == expected_new


def test_family_and_qualifier_pushdown(spark, sf_dir):
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      family="meta", qualifiers=("event_type",))
    out = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    docs = out.limit(5).collect()
    for r in docs:
        doc = json.loads(r.doc_json)
        assert list(doc) == ["meta"]
        assert list(doc["meta"]) == ["event_type"]


def test_id_field_path_extraction(spark, sf_dir):
    """idField config routes doc_id through the separator-path lookup
    (findKeyInDataTree parity) instead of the row key."""
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", id_field="meta::user_id")
    out = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    rows = out.limit(20).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.doc_json)
        assert r.doc_id == doc["meta"]["user_id"]
        assert r.doc_id != r.row_key or doc["meta"]["user_id"] == r.row_key


def test_id_field_normalizes_path_components(spark, sf_dir):
    """A dirty configured path ('Meta::User_ID!') matches the normalized
    document keys."""
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", id_field="Meta::User_ID!")
    out = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    r = out.limit(1).collect()[0]
    assert r.doc_id == json.loads(r.doc_json)["meta"]["user_id"]


def test_id_field_missing_path_drops_rows(spark, sf_dir):
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", id_field="meta::nonexistent")
    out = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    assert out.count() == 0


def test_bulk_write_respects_batch_size(spark, sf_dir, cfg, tmp_path):
    """batchSize parity: each row group holds at most batch_size rows and
    every row group but a file's last exactly batch_size (the bulk-request
    analog, HBaseRiver.java:59-62), and the row groups hold every indexed
    row."""
    cells = cells_from_events(spark, sf_dir)
    sink = str(tmp_path / "sink_bulk")
    small = RiverConfig(table="events", index="river", type_name="doc",
                        column_separator="::", batch_size=100)
    res = run_once(spark, cells, small, sink)
    groups = [_row_groups(os.path.join(sink, f)) for f in _sink_files(sink)]
    assert groups
    for g in groups:
        assert all(n <= 100 for n in g)
        assert all(n == 100 for n in g[:-1])
    assert sum(map(sum, groups)) == res.rows_indexed


def test_bulk_write_day_partitioned_sink(spark, sf_dir, cfg, tmp_path):
    """Date-partitioned sink layout: a time-ranged read prunes partitions
    (the 100 TB watermark-lookup shape)."""
    import os

    from elasticsearch_hbase_river_spark.operators.bulk_sink import write_bulk

    docs = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    sink = str(tmp_path / "sink_part")
    write_bulk(docs, sink, batch_size=500, partition_by_day=True)
    parts = [d for d in os.listdir(sink) if d.startswith("dt=")]
    assert parts
    back = spark.read.parquet(sink)
    assert back.count() == 1000
    one_day = parts[0][len("dt="):]
    pruned = back.filter(F.col("dt") == one_day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "dt" in plan


def test_dead_letter_channel(spark, sf_dir, cfg, tmp_path):
    """Failure channel: rejected rows land in the dead-letter table with a
    reason; acked excludes them (failed-key exclusion parity)."""
    from pyspark.sql import functions as F

    from elasticsearch_hbase_river_spark.operators.bulk_sink import (
        write_with_dead_letter,
    )

    docs = river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0)
    sink = str(tmp_path / "sink_dl")
    dlq = str(tmp_path / "dlq")
    res = write_with_dead_letter(
        docs, sink, dlq,
        reject_when=F.col("doc_id").endswith("7"),
        reason="synthetic bulk failure")
    assert res.rows_acked + res.rows_failed == 1000
    assert res.rows_failed == 100  # ids 7, 17, ..., 997
    dead = spark.read.parquet(dlq)
    assert dead.count() == 100
    assert dead.filter(F.col("reject_reason") != "synthetic bulk failure").count() == 0
    acked = spark.read.parquet(sink)
    assert acked.count() == 900
    assert acked.filter(F.col("doc_id").endswith("7")).count() == 0


def test_run_once_with_failure_channel(spark, sf_dir, tmp_path):
    """Failed bulk items are dead-lettered and excluded from the ack/delete
    count (failed-key exclusion, end-to-end through run_once)."""
    from pyspark.sql import functions as F

    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", delete_old=True)
    cells = cells_from_events(spark, sf_dir)
    sink = str(tmp_path / "sink_f")
    dlq = str(tmp_path / "dlq_f")
    # also reject the docs carrying the tick's max doc_ts_ms: the watermark
    # must come from what landed, not from the tick's whole output
    docs = river_tick_plan(cells, cfg, 0)
    top_ts = docs.agg(F.max("doc_ts_ms")).first()[0]
    reject = (F.col("doc_id").endswith("3")
              | (F.col("doc_ts_ms") == top_ts))
    n_rejected = docs.filter(reject).count()
    r = run_once(spark, cells, cfg, sink, reject_when=reject,
                 dead_letter_path=dlq)
    assert r.rows_indexed == 1000 - n_rejected
    assert r.deleted_keys == r.rows_indexed   # failed keys NOT delete candidates
    assert spark.read.parquet(dlq).count() == n_rejected
    assert r.watermark_ms == sink_max_ts(spark, sink)
    assert r.watermark_ms <= top_ts


def test_dedup_against_sink(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.plans.pipeline import dedup_against_sink

    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::")
    cells = cells_from_events(spark, sf_dir)
    sink = str(tmp_path / "sink_dd")
    run_once(spark, cells, cfg, sink)
    docs = river_tick_plan(cells, cfg, 0)
    # everything is already indexed -> all dropped
    assert dedup_against_sink(spark, docs, sink).count() == 0
    # unseen content -> kept
    fresh = docs.withColumn("doc_json", F.concat("doc_json", F.lit(" ")))
    assert dedup_against_sink(spark, fresh, sink).count() == 1000
    # cold start (no sink) -> passthrough
    assert dedup_against_sink(spark, docs,
                              str(tmp_path / "nope")).count() == 1000


def test_assembly_adversarial_cells(spark):
    """The one-shuffle fold must agree with the reference semantics on
    hostile input: LWW collisions (same leaf, different ts — and ts ties
    broken by value), separator-nested qualifiers, empty-trailing collapse,
    dirty names, values needing JSON escaping, multiple families."""
    from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_py
    from elasticsearch_hbase_river_spark.functions.qualifier import effective_path
    from elasticsearch_hbase_river_spark.plans.pipeline import assemble_documents

    rows = [
        # row_key, family, qualifier, value, ts_ms
        ("r1", "Fam!", "a::b::c", "v1", 10),
        ("r1", "Fam!", "a::b::c", "v2-newer", 20),     # LWW on ts
        ("r1", "Fam!", "x::", "collapsed", 5),          # empty-trailing
        ("r1", "other", "q", 'say "hi" \\ bye', 7),     # escaping
        ("r2", "m", "tie", "AAA", 5),
        ("r2", "m", "tie", "BBB", 5),                   # ts tie -> max value
    ]
    cells = spark.createDataFrame(
        rows, "row_key string, family string, qualifier string, "
              "value string, ts_ms long")
    cfg = RiverConfig(table="t", index="i", type_name="d",
                      column_separator="::")
    got = {r.row_key: r for r in assemble_documents(cells, cfg).collect()}

    def leaf(q):
        return "::".join(effective_path(q, "::"))

    d1 = json.loads(got["r1"].doc_json)
    f = normalize_field_py("Fam!", "::")
    assert d1[f][leaf("a::b::c")] == "v2-newer"          # newest wins
    assert d1[f][leaf("x::")] == "collapsed"
    assert leaf("x::") == "x"                            # collapse semantics
    assert d1["other"]["q"] == 'say "hi" \\ bye'         # round-trips JSON
    assert got["r1"].doc_ts_ms == 5                      # min over kept cells
    d2 = json.loads(got["r2"].doc_json)
    assert d2["m"]["tie"] == "BBB"                       # deterministic tie
    assert list(d1) == sorted(d1)                        # sorted keys


def test_cli_batch_tick(spark, sf_dir, tmp_path):
    """The import.sh analog: one CLI invocation = one incremental tick."""
    from elasticsearch_hbase_river_spark.__main__ import main

    src = str(tmp_path / "cells_src")
    cells_from_events(spark, sf_dir).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "cli_sink")
    rc = main(["--source", src, "--sink", sink,
               "--table", "events", "--index", "river", "--type", "doc",
               "--separator", "::", "--batch-size", "500"])
    assert rc == 0
    # main() reuses (and must not stop) the ambient test session
    assert spark.read.parquet(sink).count() == 1000


@pytest.mark.parametrize("flags, complaint", [
    (["--sink-format", "es_bulk"], "--sink-format es_bulk requires --streaming"),
    (["--streaming", "--checkpoint", "CKPT", "--source-format", "csv"],
     "--source-format csv is batch-only"),
])
def test_cli_refuses_flags_its_mode_would_ignore(tmp_path, capsys, flags,
                                                 complaint):
    """Batch mode always writes parquet and a stream always reads parquet
    or a cellstore: a flag saying otherwise exits 2 with one stderr line,
    before any Spark work."""
    from elasticsearch_hbase_river_spark.__main__ import main

    argv = ["--source", str(tmp_path / "src"), "--sink", str(tmp_path / "sink"),
            "--table", "events", "--index", "river", "--type", "doc"]
    argv += [str(tmp_path / "ckpt") if f == "CKPT" else f for f in flags]
    assert main(argv) == 2
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and complaint in err[0]
    assert not list(tmp_path.iterdir())


def test_cli_batch_tick_from_csv_source(spark, sf_dir, tmp_path):
    """The river ingests a CSV landing of the cells relation end-to-end."""
    from elasticsearch_hbase_river_spark.__main__ import main
    from elasticsearch_hbase_river_spark.sources.formats import write_cells

    src = str(tmp_path / "cells_csv")
    write_cells(cells_from_events(spark, sf_dir), src, "csv")
    sink = str(tmp_path / "cli_sink_csv")
    rc = main(["--source", src, "--sink", sink, "--source-format", "csv",
               "--table", "events", "--index", "river", "--type", "doc",
               "--batch-size", "500"])
    assert rc == 0
    assert spark.read.parquet(sink).count() == 1000


def test_melt_wide_table_feeds_the_river(spark, sf_dir):
    """Any relational table enters the pipeline via the generic melt;
    binary columns are decoded with the configured charset."""
    from elasticsearch_hbase_river_spark.sources.cells import melt_wide_table
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    orders = (load_table(spark, sf_dir, "orders").limit(20)
              .withColumn("bin_priority", F.encode("o_orderpriority", "UTF-8")))
    cells = melt_wide_table(
        orders, key_col="o_orderkey", ts_ms_expr="CAST(1 AS BIGINT)",
        family_map={"o": ["o_orderpriority", "bin_priority", "o_totalprice"]})
    got = {(r.row_key, r.qualifier): r.value for r in cells.collect()}
    src = orders.collect()
    for r in src:
        k = str(r.o_orderkey)
        # binary column decoded == its string source (charset parity)
        assert got[(k, "bin_priority")] == got[(k, "o_orderpriority")]
        assert got[(k, "o_totalprice")] is not None

    cfg = RiverConfig(table="orders", index="river", type_name="doc",
                      column_separator="::")
    docs = river_tick_plan(cells, cfg, 0)
    assert docs.count() == 20
    doc = json.loads(docs.limit(1).collect()[0].doc_json)
    assert set(doc) == {"o"}
    assert set(doc["o"]) == {"o_orderpriority", "bin_priority", "o_totalprice"}


def test_custom_sink_mapping(spark, sf_dir, tmp_path):
    """Custom mapping passthrough (parity row 16, HBaseRiver.java:118-122,
    250-261): the sink lands with the user-declared schema — declared
    columns cast, missing columns as typed NULLs, extras dropped."""
    cfg = RiverConfig(
        table="events", index="river", type_name="doc", column_separator="::",
        custom_mapping="doc_id STRING, doc_ts_ms LONG, doc_json STRING, "
                       "ingest_tag STRING")
    cells = cells_from_events(spark, sf_dir)
    sink = str(tmp_path / "sink_map")
    r = run_once(spark, cells, cfg, sink)
    assert r.rows_indexed == 1000
    out = spark.read.parquet(sink)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "string"), ("doc_ts_ms", "bigint"),
        ("doc_json", "string"), ("ingest_tag", "string")]
    assert "row_key" not in out.columns          # unmapped column dropped
    assert out.filter(F.col("ingest_tag").isNotNull()).count() == 0
    # the watermark still works on the mapped sink
    r2 = run_once(spark, cells, cfg, sink)
    assert r2.rows_indexed == 0


@pytest.mark.parametrize("mapping", [
    "doc_id STRING, doc_json STRING",
    "doc_id STRING, doc_ts_ms STRING, doc_json STRING",
    "doc_id STRING, old_doc_ts_ms BIGINT, doc_json STRING",
], ids=["dropped", "string_typed", "prefixed_name"])
def test_custom_sink_mapping_requires_watermark_column(mapping):
    with pytest.raises(ValueError, match="doc_ts_ms"):
        RiverConfig(table="events", index="river", type_name="doc",
                    custom_mapping=mapping)


def test_upsert_latest_wins(spark, sf_dir, cfg):
    cells = cells_from_events(spark, sf_dir)
    # duplicate every cell with a newer ts and marker value
    newer = cells.withColumn("ts_ms", F.col("ts_ms") + 10_000) \
                 .withColumn("value", F.lit("NEWER"))
    out = river_tick_plan(cells.unionByName(newer), cfg, 0)
    sample = out.limit(20).collect()
    assert sample
    for r in sample:
        doc = json.loads(r.doc_json)
        for fam in doc.values():
            for v in fam.values():
                assert v == "NEWER"


def test_approx_stats_within_bounds(spark, sf_dir):
    """The sketch aggregates must land near their exact twins: HLL++ within
    5% relative error on distinct users; approx percentiles inside the
    observed value range and within 15% of exact."""
    from elasticsearch_hbase_river_spark.operators.analytics import q_approx_stats
    from elasticsearch_hbase_river_spark.sources.tables import load_events

    approx = {r.event_type: r for r in q_approx_stats(spark, sf_dir).collect()}
    ev = load_events(spark, sf_dir)
    exact = {r.event_type: r for r in
             ev.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("users"),
                 F.expr("percentile(value, 0.5)").alias("p50"),
                 F.expr("percentile(value, 0.95)").alias("p95"),
             ).collect()}
    assert set(approx) == set(exact)
    for t, a in approx.items():
        e = exact[t]
        assert abs(a.approx_users - e.users) <= max(2, 0.05 * e.users)
        assert abs(a.approx_p50 - e.p50) <= max(0.5, 0.15 * abs(e.p50))
        assert abs(a.approx_p95 - e.p95) <= max(0.5, 0.15 * abs(e.p95))


def test_near_dedup_against_sink_history_survives_restarts(spark, sf_dir, tmp_path):
    """The persistent LSH band table dedups new docs against the WHOLE
    historical corpus, across process restarts: tick 1 seeds history,
    tick 2 (fresh read of the on-disk state) rejects a truncated
    near-copy of a tick-1 doc while accepting a genuinely new doc, and
    tick 3 rejects a copy of the doc ACCEPTED in tick 2 — history grows
    with every accepted doc, not just the seed corpus."""
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        near_dedup_against_sink,
    )

    bands = str(tmp_path / "sink_bands")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))

    # tick 1: cold start — everything accepted, history seeded
    seed = docs.filter(F.col("doc_id") < 50)
    acc1 = near_dedup_against_sink(spark, seed, bands)
    assert acc1.count() == seed.count()

    # tick 2: near-copy of doc 0 (drop last 3 tokens) + genuinely new doc
    near_copy = seed.filter(F.col("doc_id") == 0).select(
        F.lit(9_000_000).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1,
                             F.greatest(F.size(F.split("text", " ")) - 3,
                                        F.lit(1))), " ").alias("text"))
    fresh = docs.filter(F.col("doc_id") == 77).select(
        F.lit(9_000_001).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"))
    acc2 = near_dedup_against_sink(
        spark, near_copy.unionByName(fresh), bands)
    got2 = {r.doc_id for r in acc2.collect()}
    assert got2 == {9_000_001}, f"tick2 accepted {got2}"

    # tick 3: exact copy of the doc accepted in tick 2 — history includes
    # tick-2 acceptances, so it must now be rejected
    copy_of_fresh = fresh.select(F.lit(9_000_002).alias("doc_id"), "text")
    acc3 = near_dedup_against_sink(spark, copy_of_fresh, bands)
    assert acc3.count() == 0


def test_vector_index_upsert_equals_rebuild(spark, sf_dir, tmp_path):
    """Vector-index maintenance: merging a delta batch latest-version-wins
    must serve the SAME index a from-scratch build over the merged corpus
    would — for every serving table (cells assignment and centroids)."""
    from pyspark.sql import functions as F

    from elasticsearch_hbase_river_spark.operators import vector_index as vx
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base_dir = str(tmp_path / "vidx_base")
    vx.build_vector_index(spark, emb, base_dir)

    # delta: one moved vector (vec 3 gets vec 5's embedding and label) and
    # one brand-new vector cloned from vec 7
    moved = (emb.filter(F.col("vec_id") == 5)
             .select(F.lit(3).cast("long").alias("vec_id"),
                     "embedding", "label"))
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    new = (emb.filter(F.col("vec_id") == 7)
           .select(F.lit(max_id + 1).cast("long").alias("vec_id"),
                   "embedding", "label"))
    delta = moved.unionByName(new)

    merged_dir = str(tmp_path / "vidx_merged")
    vx.upsert_vectors(spark, base_dir, delta, merged_dir)

    rebuilt_corpus = (
        emb.filter(~F.col("vec_id").isin(3))
        .unionByName(emb.filter(F.col("vec_id") == 5)
                     .select(F.lit(3).cast("long").alias("vec_id"),
                             "embedding", "label")
                     .select("vec_id", "embedding", "label"))
        .unionByName(new.select("vec_id", "embedding", "label"))
    )
    rebuilt_dir = str(tmp_path / "vidx_rebuilt")
    vx.build_vector_index(spark, rebuilt_corpus, rebuilt_dir)

    def snap_cells(path):
        return sorted(
            (r["vec_id"], r["cell"]) for r in
            vx.read_cells(spark, path).select("vec_id", "cell").collect())

    def snap_centroids(path):
        return sorted(
            (r["cell"], tuple(r["centroid"])) for r in
            vx.read_centroids(spark, path).collect())

    assert snap_cells(merged_dir) == snap_cells(rebuilt_dir)
    assert snap_centroids(merged_dir) == snap_centroids(rebuilt_dir)


def test_reindex_alias_swap_is_zero_downtime(spark, sf_dir, tmp_path):
    """ES blue-green reindex: readers resolve the alias to the old index
    generation until the atomic swap, the new generation serves the
    transformed corpus afterwards, and the old directory stays intact for
    rollback."""
    from pyspark.sql import functions as F

    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    gen1 = str(tmp_path / "idx_gen1")
    gen2 = str(tmp_path / "idx_gen2")
    alias = str(tmp_path / "docs_alias.json")

    ix.build_index(spark, docs, gen1)
    ix.write_alias(alias, gen1)
    assert ix.resolve_alias(alias) == gen1
    n1 = ix.read_doclen(spark, ix.resolve_alias(alias)).count()
    assert n1 == docs.count()

    # reindex with a filter transform (drop even doc_ids) + swap
    ix.reindex(spark, docs.filter(F.col("doc_id") % 2 == 1), alias, gen2)
    assert ix.resolve_alias(alias) == gen2
    n2 = ix.read_doclen(spark, ix.resolve_alias(alias)).count()
    assert n2 == docs.filter(F.col("doc_id") % 2 == 1).count()
    # old generation intact for rollback
    assert ix.read_doclen(spark, gen1).count() == n1
    ix.write_alias(alias, gen1)
    assert ix.resolve_alias(alias) == gen1


def test_band_sink_refuses_incompatible_format(spark, sf_dir, tmp_path):
    """The persistent band table is stamped with a format-version sidecar;
    a history written by an older engine version (md5 hex STRING bands)
    must be refused — appending BIGINT bands would create a mixed-schema
    directory whose string-vs-bigint join silently misses every
    historical near-dup."""
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        _BANDS_META, BANDS_FORMAT_VERSION, near_dedup_against_sink,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 20))

    # fresh sink: accepted, and stamped with the current format version
    bands = str(tmp_path / "bands_ok")
    near_dedup_against_sink(spark, docs, bands)
    with open(f"{bands}/{_BANDS_META}") as f:
        assert json.load(f)["format_version"] == BANDS_FORMAT_VERSION
    # compatible history: appends fine
    near_dedup_against_sink(
        spark, docs.select((F.col("doc_id") + 10_000).alias("doc_id"),
                           "text"), bands)

    # v1 history (string bands, pre-round-4): refused with guidance
    legacy = str(tmp_path / "bands_legacy")
    spark.createDataFrame(
        [(1, ["aa"], 0, "deadbeef")],
        "doc_id long, mh array<string>, band_idx int, band_hash string",
    ).write.parquet(legacy)
    with pytest.raises(ValueError, match="format_version"):
        near_dedup_against_sink(spark, docs, legacy)

    # unstamped directory of unknown provenance: also refused
    unstamped = str(tmp_path / "bands_unstamped")
    spark.createDataFrame([(1,)], "doc_id long").write.parquet(unstamped)
    with pytest.raises(ValueError, match="format_version"):
        near_dedup_against_sink(spark, docs, unstamped)


def test_band_table_after_crashed_first_append(spark, sf_dir, tmp_path):
    """A band table whose first append died before its job commit holds
    only ``_temporary`` and no marker. It has no history, so the next
    tick starts it afresh instead of refusing it as a foreign format."""
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        _BANDS_META, BANDS_FORMAT_VERSION, near_dedup_against_sink,
    )

    bands = _crashed_first_write(tmp_path)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 20))
    assert near_dedup_against_sink(spark, docs, bands).count() == 20
    with open(os.path.join(bands, _BANDS_META)) as f:
        assert json.load(f)["format_version"] == BANDS_FORMAT_VERSION
    # the restarted table now holds history: a copy is a duplicate
    assert near_dedup_against_sink(spark, docs, bands).count() == 0


def test_vector_upsert_into_occupied_out_path_raises(spark, sf_dir, tmp_path):
    """Publishing a merged vector index into an out_path that ALREADY
    holds an index must fail loudly — the old behavior silently kept the
    stale directory while the caller believed the merge landed."""
    from elasticsearch_hbase_river_spark.operators import vector_index as vx
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base_dir = str(tmp_path / "vidx_base")
    vx.build_vector_index(spark, emb, base_dir)

    delta = emb.filter(F.col("vec_id") == 5).select(
        F.lit(3).cast("long").alias("vec_id"), "embedding", "label")
    occupied = str(tmp_path / "vidx_occupied")
    vx.build_vector_index(spark, emb, occupied)
    with pytest.raises(OSError):
        vx.upsert_vectors(spark, base_dir, delta, occupied)


def test_band_table_compaction_cadence_and_equivalence(spark, sf_dir, tmp_path):
    """The band table's log-compaction loop (SCALE.md §3n): the tick
    counter advances per append, the policy fires at the cadence, the
    rewrite shrinks the file count without changing a single row, and a
    post-compaction tick still rejects a near-copy of PRE-compaction
    history."""
    from collections import Counter

    from elasticsearch_hbase_river_spark.plans.pipeline import (
        band_compaction_due,
        band_ticks_since_compact,
        compact_band_table,
        near_dedup_against_sink,
    )

    bands = str(tmp_path / "compact_bands")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    assert band_ticks_since_compact(bands) == 0
    for i in range(3):
        tick = docs.filter((F.col("doc_id") >= 20 * i)
                           & (F.col("doc_id") < 20 * (i + 1)))
        near_dedup_against_sink(spark, tick, bands)
        assert band_ticks_since_compact(bands) == i + 1
    assert not band_compaction_due(bands, every_n=3 + 1)
    assert band_compaction_due(bands, every_n=3)

    def snapshot():
        # mh is an array column — tuple-ify for hashable multiset compare
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in row)
            for row in spark.read.parquet(bands).collect())

    before = snapshot()
    stats = compact_band_table(spark, bands)
    assert stats["rows"] == sum(before.values())
    assert stats["files_after"] < stats["files_before"]
    assert snapshot() == before       # content-identical rewrite
    assert band_ticks_since_compact(bands) == 0

    # post-compaction tick: a near-copy of pre-compaction history (doc 0,
    # last 3 tokens dropped) is still rejected
    near_copy = docs.filter(F.col("doc_id") == 0).select(
        F.lit(9_100_000).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1,
                             F.greatest(F.size(F.split("text", " ")) - 3,
                                        F.lit(1))), " ").alias("text"))
    assert near_dedup_against_sink(spark, near_copy, bands).count() == 0
    assert band_ticks_since_compact(bands) == 1


def test_band_compaction_crash_window_is_loud(spark, sf_dir, tmp_path):
    """A compaction that crashed mid-swap (bands dir renamed aside, rewrite
    not yet renamed in) must REFUSE the next tick with recovery
    instructions — not silently start an empty history; a stranded .old
    beside a live marker-valid table (crash after the rename-in) is
    benign and cleaned."""
    import pytest

    from elasticsearch_hbase_river_spark.plans.pipeline import (
        near_dedup_against_sink,
    )

    bands = str(tmp_path / "crash_bands")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").limit(20))
    near_dedup_against_sink(spark, docs, bands)

    # simulate the mid-swap crash: history stranded aside, no live table
    import os
    import shutil

    stranded = bands + ".old-deadbeef"
    os.rename(bands, stranded)
    with pytest.raises(RuntimeError, match="mid-swap"):
        near_dedup_against_sink(spark, docs, bands)
    # recovery per the error message: move the history back, tick works
    os.rename(stranded, bands)
    near_dedup_against_sink(spark, docs, bands)

    # benign tail: live table + superseded .old -> cleaned, tick proceeds
    shutil.copytree(bands, bands + ".old-cafe")
    near_dedup_against_sink(spark, docs, bands)
    assert not os.path.exists(bands + ".old-cafe")


def test_band_auto_compaction_fires_at_cadence(spark, sf_dir, tmp_path):
    """The cadence is wired into the tick itself: with compact_every=2 the
    second append triggers an in-tick compaction (counter resets, files
    collapse) and the RETURNED accepted frame stays materializable after
    the swap deleted the files its lineage referenced."""
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        band_ticks_since_compact,
        data_files,
        near_dedup_against_sink,
    )

    bands = str(tmp_path / "auto_bands")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    t1 = docs.filter(F.col("doc_id") < 20)
    t2 = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
    near_dedup_against_sink(spark, t1, bands, compact_every=2)
    assert band_ticks_since_compact(bands) == 1
    acc = near_dedup_against_sink(spark, t2, bands, compact_every=2)
    assert band_ticks_since_compact(bands) == 0   # compaction ran in-tick
    assert len(data_files(bands)) == 1
    assert acc.count() == t2.count()              # lineage survived swap


def test_index_mode_marker_refuses_mixed_tokenizations(spark, tmp_path):
    """The analyzer mode rides the same marker discipline as the layout
    version: a unicode-built index refuses ascii epochs (and vice versa)
    at BOTH maintenance entry points — the epoch merge and the live
    serve — and the stream writer refuses to resume cross-mode."""
    import pytest

    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.operators import liveserve as lv
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    uni_docs = spark.createDataFrame(
        [(1, "Grüße données café"), (2, "données et café")],
        "doc_id long, text string")
    uni_idx = str(tmp_path / "uni_idx")
    ix.build_index(spark, uni_docs, uni_idx, mode="unicode")
    assert ix.index_mode(uni_idx) == "unicode"

    # ascii epochs from the stream writer
    src = str(tmp_path / "src")
    spark.createDataFrame([(3, "plain ascii text", None)],
                          "doc_id long, text string, ver long") \
        .write.mode("append").parquet(src)
    epochs = str(tmp_path / "ascii_epochs")
    q = start_index_stream(spark, src, epochs, str(tmp_path / "ck1"))
    assert q.awaitTermination(120), "stream did not drain in 120s"

    with pytest.raises(ValueError, match="analyzer mode"):
        ix.apply_epoch_deltas(spark, uni_idx, epochs,
                              str(tmp_path / "merged"))
    with pytest.raises(ValueError, match="analyzer mode"):
        lv.bm25_live(spark, uni_idx, epochs, terms=("café",), top=5)

    # resuming the SAME epochs dir with a unicode-mode stream refuses too
    spark.createDataFrame([(4, "more ascii", None)],
                          "doc_id long, text string, ver long") \
        .write.mode("append").parquet(src)
    q2 = start_index_stream(spark, src, epochs, str(tmp_path / "ck1"),
                            mode="unicode")
    with pytest.raises(Exception, match="analyzer mode"):
        assert q2.awaitTermination(120)
        q2.processAllAvailable()
