"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pytest

from perfbench import diff, run
from perfbench.gen import RIVER_T0_MS, RiverFeed, fixture_tables
from perfbench.query_mix import QueryMix
from perfbench.river import River
from perfbench.stats import (
    geomean_of_medians, percentile, summarize, tail_percentile, tree_cpu_s,
)
from perfbench.trace import _plan_counts

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator --------------------------------------------------------------

def test_fixture_is_deterministic_per_seed():
    a, b, c = fixture_tables(7), fixture_tables(7), fixture_tables(8)
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    assert not a["documents"].equals(c["documents"])


def test_river_feed_is_deterministic_per_seed():
    for k in (0, 1, 5):
        assert RiverFeed(3).cells(k).equals(RiverFeed(3).cells(k))
        assert not RiverFeed(3).cells(k).equals(RiverFeed(4).cells(k))


def test_river_feed_slices():
    feed = RiverFeed(3)
    keys0, ts0 = feed.versions(0)
    # the initial slice re-emits a share of its keys at a newer ts
    assert keys0.size > np.unique(keys0).size == feed.initial_rows
    hi = ts0.max()
    for k in (1, 2, 3):
        keys, ts = feed.versions(k)
        assert ts.min() > hi and ts.min() >= RIVER_T0_MS + k * feed.window_ms
        hi = ts.max()
        new = keys >= feed.keys_before(k)
        assert new.sum() == feed.new_per_delta
        assert np.unique(keys).size == keys.size == feed.distinct_docs(k)
        assert feed.cells(k).num_rows == 4 * keys.size


# -- percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n,want", [(5, None), (19, None), (20, 50.0),
                                    (39, 50.0), (40, 75.0), (100, 90.0),
                                    (199, 90.0), (200, 95.0), (1000, 99.0),
                                    (10_000, 99.9)])
def test_tail_rule_leaves_ten_samples_beyond(n, want):
    p = tail_percentile(n)
    assert p == want
    if p is not None:
        assert round(n * (100 - p) / 100, 9) >= 10


def test_tree_cpu_clock_counts_children():
    import subprocess
    import sys

    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(10**7))"], check=True)
    # the reaped child's CPU is this process's cutime, charged to the root
    assert tree_cpu_s(os.getpid()) - before > 0.05


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).exponential(1.0, 57))
    for p in (50, 75, 90, 99):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    s = summarize(xs)
    assert s["n"] == 57 and s["tail_pct"] == 75.0
    assert s["p50"] == statistics.median(xs)


# -- every contract name is printed -----------------------------------------

class _Ctx:
    """Stand-in for ``run.Context`` after a measured phase."""

    def __init__(self, kinds):
        self.ops = [{"kind": k, "tag": f"{k}#{i}", "timed": True, "s": 1.0,
                     "cpu_s": 2.0, "plan_s": 0.1}
                    for i, k in enumerate(kinds * 3)]
        self.rounds = [{"s": 3.0, "cpu_s": 6.0}] * 3
        self.tracer = type("T", (), {"build_s": lambda self, tag: 0.01})()

    timed_by_kind = run.Context.timed_by_kind


def _river(ctx) -> River:
    r = River.__new__(River)
    r.ctx, r.feed, r.k, r.backfill_s, r.sink = ctx, RiverFeed(1), 4, 2.0, "/x"
    prog = {"numInputRows": 8000,
            "durationMs": {"triggerExecution": 700, "addBatch": 500,
                           "queryPlanning": 9, "latestOffset": 30,
                           "commitOffsets": 30}}
    r.progress = [prog] * 3
    r.written = {"tick_delta": [(20, 9000, 200)] * 3,
                 "tick_noop": [(1, 500, 220)] * 3}
    return r


def _query_mix(ctx) -> QueryMix:
    q = QueryMix.__new__(QueryMix)
    q.ctx, q.index_root = ctx, "/x"
    q.prebuild_s = {"ensure_vector_index": 2.0}
    return q


#: The named end-to-end metrics each workload's report line carries.
ISSUE_NAMES = {
    "River": ("backfill_docs_per_s", "tick_delta_p50_s", "tick_delta_tail_s",
              "tick_noop_p50_s", "stream_drain_s", "stream_trigger_p50_s"),
    "QueryMix": ("query_p50_s", "query_tail_s", "query_round_s"),
}


def test_every_contract_name_is_printed():
    contract = _contract()
    fields = ("jobs", "stages", "tasks", "cpu_ms", "run_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes", "exchanges", "joins")
    for make, kinds in ((_river, ["tick_delta", "tick_noop", "drain"]),
                        (_query_mix, ["q_scan", "q_bm25"])):
        ctx = _Ctx(kinds)
        wl = make(ctx)
        assert set(ISSUE_NAMES[type(wl).__name__]) <= set(wl.metrics())
        e2e = {"setup_s": 30.0,
               "op_cpu_geomean_s": geomean_of_medians(
                   ctx.timed_by_kind("cpu_s")),
               "round_cpu_s": 6.0}
        line = run.result_line(contract, False, e2e, 10, 0)
        assert list(line["metrics"]) == [m["name"]
                                         for m in contract["end_to_end"]]
        assert all(v["value"] > 0 for v in line["metrics"].values())
        folded = {"ops": {o["tag"]: {f: 1 for f in fields} for o in ctx.ops}}
        per_layer = {"session.start_s": 6.0, "session.gc_ms": 300,
                     "session.jvm_rss_mb": 1800.0, "setup.inputs_s": 0.1,
                     "setup.prebuild_s": 10.0, "setup.warmup_s": 5.0,
                     **run._op_ledger(ctx, folded)}
        line = run.result_line(contract, True, per_layer, 10, 0)
        assert list(line["metrics"]) == [m["name"]
                                         for m in contract["per_layer"]]


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(RuntimeError, match="setup_s"):
        run.result_line(_contract(), False, {"round_s": 1.0}, 1, 0)


# -- trace and diff ---------------------------------------------------------

def test_plan_counts():
    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   * SortMergeJoin Inner (8)
   :- * Sort (3)
   :  +- ShuffleQueryStage (2)
   :     +- Exchange (1)
   +- BroadcastQueryStage (6)
      +- BroadcastExchange (5)
         +- ReusedExchange (4)

(1) Exchange
Input: []"""
    assert _plan_counts(plan) == (2, 1)


def _fake_run(wl: str, round_s: float, jobs: int) -> dict:
    return {"report": {"workload": wl, "trace": 0, "end_to_end": {},
                       "metrics": {}, "per_layer": {"op.jobs": jobs}},
            "result": {"metrics": {"round_s": {"value": round_s,
                                               "unit": "s"}}}}


def test_diff_marks_changes_inside_the_spread_unresolved():
    base = [_fake_run("river", x, 8) for x in (3.0, 3.1, 3.2, 3.3)]
    near = [_fake_run("river", x, 8) for x in (3.05, 3.15, 3.2, 3.25)]
    far = [_fake_run("river", x, 6) for x in (2.0, 2.1, 2.05, 2.0)]
    rows = {r["metric"]: r for r in diff.compare(base, near, {}, {})}
    assert rows["round_s"]["verdict"] == "unresolved"
    assert rows["op.jobs"]["verdict"] == "same"
    rows = {r["metric"]: r for r in diff.compare(base, far, {}, {})}
    assert rows["round_s"]["verdict"] == "better"
    assert rows["op.jobs"]["verdict"] == "changed"
    noisy = {"river": {"round_s": 0.5}}
    rows = {r["metric"]: r for r in diff.compare(base, far, noisy, {})}
    assert rows["round_s"]["verdict"] == "unresolved"
