"""``river`` workload: the river's own dataflow, tick by tick.

Set-up lands the seeded initial slice, backfills the tick sink with one
cold ``run_once`` (latest-wins arbitrates the slice's re-emitted keys),
drains the same slice into the stream sink with
``start_river_stream(available_now=True)``, and plays delta 1 as an
untimed warm-up round.

Each timed round lands the next seeded delta as one parquet file in the
cells source directory, then runs, closed-loop on one client:

- ``tick_delta``: ``run_once`` over the whole source; it must index
  exactly the delta's distinct documents;
- ``tick_noop``: ``run_once`` again; it must index nothing;
- ``drain``: the streaming river over the same directory, resumed from its
  checkpoint; it must read exactly the delta's cells.

After the timed rounds (untimed): one cold tick over the union of every
slice into a fresh sink; the tick sink and the stream sink, each read
latest-wins per ``doc_id``, must equal it; and the backfill must equal an
independent DuckDB assembly of the initial slice.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.gen import RIVER_T0_MS, RiverFeed

#: Document shape of the registry's ``q_doc_pivot``: qualifiers verbatim,
#: keys sorted, the row key as the document id.
CONFIG = dict(table="cells", index="river", type_name="doc",
              column_separator=None, normalize_fields=False)

#: Untimed rounds before timing: the first incremental rounds in a JVM are
#: the slowest (JIT), and round times keep falling for a while after these.
WARMUP_ROUNDS = 2

_LWW_CELLS = """
SELECT row_key, family, qualifier, value, ts_ms FROM (
  SELECT *, row_number() OVER (PARTITION BY row_key, family, qualifier
                               ORDER BY ts_ms DESC, value DESC) AS rn
  FROM read_parquet('{src}'))
WHERE rn = 1"""

#: Independent assembly of the backfill: per-cell last-write-wins, then the
#: ``q_doc_pivot`` oracle's JSON fold.
_ESC = r"""replace(replace(value, '\', '\\'), '"', '\"')"""
BACKFILL_ORACLE = f"""
WITH cells AS ({_LWW_CELLS}),
fam AS (
  SELECT row_key, family, min(ts_ms) AS fam_ts,
         '"' || family || '":{{' ||
         string_agg('"' || qualifier || '":"' || {_ESC} || '"', ','
                    ORDER BY '"' || qualifier || '":"' || {_ESC} || '"')
         || '}}' AS fam_json
  FROM cells GROUP BY row_key, family)
SELECT row_key AS doc_id, min(fam_ts) AS doc_ts_ms,
       '{{' || string_agg(fam_json, ',' ORDER BY fam_json) || '}}' AS doc_json
FROM fam GROUP BY row_key"""

_LATEST = """
SELECT doc_id, doc_ts_ms, doc_json FROM (
  SELECT doc_id, doc_ts_ms, doc_json,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY doc_ts_ms DESC) AS rn
  FROM read_parquet('{path}/*.parquet'))
WHERE rn = 1"""


def _same(con, a: str, b: str) -> bool:
    """Set equality of two DuckDB queries (both directions of EXCEPT)."""
    n = con.execute(f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ({b}))) + "
                    f"(SELECT count(*) FROM (({b}) EXCEPT ({a})))").fetchone()
    return n[0] == 0


class River:
    name = "river"

    def __init__(self, ctx):
        from elasticsearch_hbase_river_spark.config import RiverConfig

        self.ctx = ctx
        self.feed = RiverFeed(ctx.seed)
        self.config = RiverConfig(**CONFIG)
        w = ctx.work_dir
        self.source = os.path.join(w, "cells")
        self.sink = os.path.join(w, "sink")
        self.stream_sink = os.path.join(w, "stream_sink")
        self.checkpoint = os.path.join(w, "stream_checkpoint")
        self.k = 0
        self.backfill_s = 0.0
        self.progress: list[dict] = []
        self.phases: dict[str, float] = {}
        self.written: dict[str, list[tuple[int, int, int]]] = {}

    # -- ops ---------------------------------------------------------------
    def _sink_files(self) -> tuple[int, int]:
        """(data files, bytes) in the tick sink; ``.crc`` files excluded."""
        if not os.path.isdir(self.sink):
            return 0, 0
        files = [e for e in os.scandir(self.sink)
                 if e.name.startswith("part-") and not e.name.endswith(".crc")]
        return len(files), sum(e.stat().st_size for e in files)

    def _tick(self, kind: str, expect: int) -> float:
        from elasticsearch_hbase_river_spark.plans import pipeline
        from elasticsearch_hbase_river_spark.sources import formats

        spark = self.ctx.spark
        n0, b0 = self._sink_files()
        with self.ctx.op(kind) as t:
            res = pipeline.run_once(spark, formats.read_cells(spark, self.source),
                                    self.config, self.sink)
        n1, b1 = self._sink_files()
        self.written.setdefault(kind, []).append((n1 - n0, b1 - b0, n0))
        self.ctx.check(res.rows_indexed == expect,
                       f"{kind} k={self.k}: rows_indexed={res.rows_indexed}, "
                       f"expected {expect}")
        return t["s"]

    def _drain(self, expect_cells: int) -> None:
        from elasticsearch_hbase_river_spark.streaming import river_stream

        with self.ctx.op("drain"):
            q = river_stream.start_river_stream(
                self.ctx.spark, self.config, self.source, self.stream_sink,
                self.checkpoint, available_now=True)
            q.awaitTermination()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.progress.extend(batches)
        got = sum(p["numInputRows"] for p in batches)
        self.ctx.check(q.exception() is None and got == expect_cells,
                       f"drain k={self.k}: read {got} cells, "
                       f"expected {expect_cells}")

    def _round(self) -> None:
        self.k += 1
        self.feed.write(self.k, self.source)
        with self.ctx.round():
            self._tick("tick_delta", self.feed.distinct_docs(self.k))
            self._tick("tick_noop", 0)
            self._drain(self.feed.cells(self.k).num_rows)

    # -- phases ------------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self.feed.write(0, self.source)
        self.phases["setup.inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.backfill_s = self._tick("backfill", self.feed.distinct_docs(0))
        self._drain(self.feed.cells(0).num_rows)
        self.phases["setup.prebuild_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            self._round()
        self.phases["setup.warmup_s"] = time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        self.progress = []  # per-trigger numbers of timed drains only
        self.written = {}
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(self.ctx.rounds) < 2:
            self._round()

    def verify(self) -> None:
        import duckdb

        from elasticsearch_hbase_river_spark.plans import pipeline
        from elasticsearch_hbase_river_spark.sources import formats

        spark = self.ctx.spark
        union = os.path.join(self.ctx.work_dir, "union_sink")
        res = pipeline.run_once(spark, formats.read_cells(spark, self.source),
                                self.config, union)
        distinct = self.feed.keys_before(self.k + 1)
        self.ctx.check(res.rows_indexed == distinct,
                       f"union tick indexed {res.rows_indexed}, "
                       f"expected {distinct}")
        con = duckdb.connect()
        try:
            want = _LATEST.format(path=union)
            for name, path in (("tick sink", self.sink),
                               ("stream sink", self.stream_sink)):
                self.ctx.check(_same(con, _LATEST.format(path=path), want),
                               f"{name} differs from one tick over the union")
            first = os.path.join(self.source, "part-00000.parquet")
            backfill = (f"SELECT doc_id, doc_ts_ms, doc_json FROM "
                        f"read_parquet('{self.sink}/*.parquet') "
                        f"WHERE doc_ts_ms < {RIVER_T0_MS + self.feed.window_ms}")
            self.ctx.check(_same(con, backfill,
                                 BACKFILL_ORACLE.replace("{src}", first)),
                           "backfill differs from the DuckDB assembly")
        finally:
            con.close()

    # -- report ------------------------------------------------------------
    def metrics(self) -> dict:
        """Named report metrics: name -> (value, unit, samples)."""
        from perfbench.stats import summarize

        wall = self.ctx.timed_by_kind("s")
        delta = summarize(wall["tick_delta"])
        noop = summarize(wall["tick_noop"])
        drain = summarize(wall["drain"])
        triggers = [p["durationMs"].get("triggerExecution", 0) / 1000.0
                    for p in self.progress]
        report = {
            "backfill_docs_per_s": (self.feed.distinct_docs(0)
                                    / self.backfill_s, "1/s", 1),
            "tick_delta_p50_s": (delta["p50"], "s", delta["n"]),
            "tick_delta_tail_s": (delta.get("tail"), "s", delta["n"]),
            "tick_noop_p50_s": (noop["p50"], "s", noop["n"]),
            "stream_drain_s": (drain["p50"], "s", drain["n"]),
            "stream_trigger_p50_s": (statistics.median(triggers), "s",
                                     len(triggers)),
            "stream.batches": (len(self.progress), "count", 1),
            "stream.rows_per_batch": (
                statistics.median(p["numInputRows"] for p in self.progress),
                "rows", len(self.progress)),
        }
        for kind in ("tick_delta", "tick_noop"):
            w = self.written[kind]
            report[f"bulk_sink.files_written.{kind}"] = (
                statistics.median(x[0] for x in w), "count", len(w))
            report[f"bulk_sink.bytes_written.{kind}"] = (
                statistics.median(x[1] for x in w), "bytes", len(w))
        starts = [x[2] for x in self.written["tick_delta"]]
        report["sink.files_total"] = (statistics.median(starts), "count",
                                      len(starts))
        report["sources.files_listed"] = (self.k + 1, "count", 1)
        report["sources.cells_per_delta"] = (
            self.feed.cells(self.k).num_rows, "rows", 1)
        for key, name in (("addBatch", "add_batch_s"),
                          ("queryPlanning", "planning_s"),
                          ("latestOffset", "offsets_s"),
                          ("commitOffsets", "commit_s")):
            vals = [p["durationMs"].get(key, 0) / 1000.0 for p in self.progress]
            report[f"stream.{name}"] = (statistics.median(vals), "s", len(vals))
        return report
