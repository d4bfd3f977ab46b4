#!/usr/bin/env python3
"""River benchmark: one seeded, closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload {river,query_mix} --seed N \\
        --seconds S --trace {0,1}

Run it from the repository root. It generates its inputs from ``--seed``,
sets up (Spark session, inputs, prebuilt state, an untimed warm-up), times
rounds of the workload for at least ``--seconds``, checks every output, and
prints two JSON lines on stdout:

1. ``{"report": ...}``: every named metric of the workload with its unit
   and sample count; with ``--trace 1`` also the per-module ledger.
2. The result line: ``{"correct", "attempted", "failed", "metrics"}`` with
   the ``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
   ``per_layer`` metrics (``--trace 1``).

Everything the run writes (Spark scratch, sinks, checkpoints, indexes,
event log) lives in a fresh directory under ``.perfbench_tmp/`` that is
removed on exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

PKG = "elasticsearch_hbase_river_spark"
ROOT = os.getcwd()
WORKLOADS = ("river", "query_mix")


class Context:
    """What a workload sees: the session, the tracer, its work directory,
    the seed, and the op, round and correctness bookkeeping."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, cpu):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.cpu = cpu
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []
        self.rounds: list[dict] = []
        self.queries: dict = {}
        self.timing = False

    @contextmanager
    def op(self, kind: str):
        """One counted op; its wall and CPU seconds land in the yielded
        dict."""
        rec = {"kind": kind, "tag": f"{kind}#{len(self.ops)}",
               "timed": self.timing}
        with self.tracer.op(kind, rec["tag"]) as traced:
            c0 = self.cpu()
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t0
                rec["cpu_s"] = self.cpu() - c0
        rec["plan_s"] = traced.get("plan_s", 0.0)
        self.attempted += 1
        self.ops.append(rec)

    @contextmanager
    def round(self):
        """One round of ops; recorded while timing."""
        c0 = self.cpu()
        t0 = time.perf_counter()
        yield
        if self.timing:
            self.rounds.append({"s": time.perf_counter() - t0,
                                "cpu_s": self.cpu() - c0})

    def check(self, ok: bool, msg: str, op: bool = False) -> None:
        """Record a correctness check; ``op=True`` counts it as an op."""
        self.attempted += op
        if not ok:
            self.failed += 1
            self.errors.append(msg)

    def timed_by_kind(self, field: str) -> dict[str, list[float]]:
        """op kind -> ``field`` of each timed op of that kind."""
        out: dict[str, list[float]] = {}
        for o in self.ops:
            if o["timed"]:
                out.setdefault(o["kind"], []).append(o[field])
        return out


def _load_workload(name: str):
    if name == "river":
        from perfbench.river import River
        return River
    from perfbench.query_mix import QueryMix
    return QueryMix


def _op_ledger(ctx: Context, folded: dict) -> dict:
    """Per-op means over the timed ops: the layer split every workload
    shares (Python build, Catalyst plan, execution, and the event log's
    job/stage/task, CPU, GC, shuffle and plan-shape counters)."""
    timed = [o for o in ctx.ops if o["timed"]]
    n = len(timed)
    out = {}
    build = [o.get("build_s", ctx.tracer.build_s(o["tag"])) for o in timed]
    out["op.build_s"] = sum(build) / n
    out["op.plan_s"] = sum(o["plan_s"] for o in timed) / n
    out["op.exec_s"] = sum(o["s"] - b - o["plan_s"]
                           for o, b in zip(timed, build)) / n
    fields = ("jobs", "stages", "tasks", "cpu_ms", "run_ms", "gc_ms",
              "shuffle_write_bytes", "spill_bytes", "exchanges", "joins")
    for f in fields:
        out[f"op.{f}"] = sum(folded["ops"][o["tag"]][f] for o in timed) / n
    return out


def _layer_report(folded: dict) -> dict:
    rep = {}
    for layer, rec in sorted(folded["layers"].items()):
        for k, v in rec.items():
            rep[f"{layer}.{k}"] = v
    return rep


def _load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run in a fresh work directory, removed afterwards."""
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-",
                            dir=os.path.join(ROOT, ".perfbench_tmp"))
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        return _run_in(work, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_in(work: str, workload: str, seed: int, seconds: float,
            trace: bool) -> dict:
    from perfbench import session
    from perfbench.stats import geomean_of_medians, rss_peak_mb, tree_cpu_s
    from perfbench.trace import Tracer, fold, read_event_log

    spark = None
    try:
        t_setup = time.perf_counter()
        cpu_setup = sum(os.times()[:2])
        spark, start_s = session.start(work, trace)
        cpu = functools.partial(tree_cpu_s, session.jvm_pid(spark))
        tracer = Tracer(spark, trace)
        ctx = Context(spark, tracer, work, seed, cpu)
        wl = _load_workload(workload)(ctx)
        from elasticsearch_hbase_river_spark.registry import all_queries

        ctx.queries = tracer.wrap_queries(all_queries())
        tracer.install()
        wl.setup()
        setup_wall_s = time.perf_counter() - t_setup
        setup_cpu_s = cpu() - cpu_setup
        phases = {"session.start_s": start_s, **wl.phases}

        gc0 = session.jvm_gc_ms(spark)
        ctx.timing = True
        wl.measure(seconds)
        ctx.timing = False
        phases["session.gc_ms"] = session.jvm_gc_ms(spark) - gc0
        # peak RSS of the workload itself, before the checks' DuckDB reads
        jvm_rss = rss_peak_mb(session.jvm_pid(spark))
        peak_rss = jvm_rss + rss_peak_mb()
        wl.verify()
        named = wl.metrics()
        phases["session.jvm_rss_mb"] = jvm_rss
    finally:
        if spark is not None:
            session.stop(spark)

    e2e = {
        "setup_s": setup_cpu_s,
        "op_cpu_geomean_s": geomean_of_medians(ctx.timed_by_kind("cpu_s")),
        "round_cpu_s": statistics.median(r["cpu_s"] for r in ctx.rounds),
    }
    wall = {
        "setup_wall_s": setup_wall_s,
        "op_p50_geomean_s": geomean_of_medians(ctx.timed_by_kind("s")),
        "round_s": statistics.median(r["s"] for r in ctx.rounds),
        "peak_rss_mb": peak_rss,
    }
    report = {"workload": workload, "seed": seed, "trace": int(trace),
              "attempted": ctx.attempted, "failed": ctx.failed,
              "errors": ctx.errors[:20],
              "timed_ops": sum(o["timed"] for o in ctx.ops),
              "end_to_end": {**e2e, **wall},
              "samples": {"rounds": ctx.rounds,
                          "ops": [{k: o[k] for k in ("kind", "s", "cpu_s")}
                                  for o in ctx.ops if o["timed"]]},
              "metrics": {k: {"value": v, "unit": u, "n": n}
                          for k, (v, u, n) in named.items()}}
    per_layer = dict(phases)
    if trace:
        folded = fold(tracer, read_event_log(os.path.join(work, "eventlog")))
        per_layer.update(_op_ledger(ctx, folded))
        report["layers"] = _layer_report(folded)
    report["per_layer"] = per_layer

    return {"report": report,
            "result": result_line(_load_contract(), trace,
                                  per_layer if trace else e2e,
                                  ctx.attempted, ctx.failed)}


def result_line(contract: dict, trace: bool, values: dict, attempted: int,
                failed: int) -> dict:
    """The result object: the contract's ``per_layer`` metrics for a traced
    run, else its ``end_to_end`` metrics, taken by name from ``values``."""
    wanted = contract["per_layer"] if trace else contract["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"no value for {missing}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                    "unit": m["unit"]} for m in wanted}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"report": out["report"]}, default=float))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
