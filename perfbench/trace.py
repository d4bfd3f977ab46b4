"""Traced-run ledger: spans around the engine's public functions, joined to
Spark's event log.

Spans come from wrapping functions, never from editing the engine: every
loaded module attribute that *is* a target function is replaced by a
wrapper, so ``from x import f`` bindings made at import time are covered
too, and functions that are looked up at call time (``run_once`` imports
``write_bulk`` inside its body) pick the wrapper up from their module.

Each op the workload times is an :meth:`Tracer.op` window tagged with
``setJobGroup``. After the session stops, :func:`read_event_log` folds the
log's job, stage, task and SQL-execution events onto those windows: a job
belongs to the op whose tag it carries, or, for jobs started off the
driver thread (streaming micro-batches), to the op whose window holds its
submission time. Within an op, each job is also charged to the innermost
module span open at its submission. Exchange and join counts come from
the last (final, under AQE) physical plan each SQL execution reported.
"""

from __future__ import annotations

import functools
import glob
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "elasticsearch_hbase_river_spark"

#: (module, function, layer) for the engine functions the ledger wraps;
#: :meth:`Tracer.install` adds every ``ensure_*`` prebuild, and
#: :meth:`Tracer.wrap_queries` the registry's query functions.
TARGETS = (
    ("sources.cells", "cells_from_events", "sources"),
    ("sources.formats", "read_cells", "sources"),
    ("sources.tables", "load_table", "sources"),
    ("plans.pipeline", "sink_max_ts", "pipeline.watermark"),
    ("plans.pipeline", "river_tick_plan", "pipeline.build"),
    ("plans.pipeline", "assemble_documents", "pipeline.assemble"),
    ("operators.bulk_sink", "write_bulk", "bulk_sink.write"),
    ("esql", "esql", "esql.compile"),
    ("streaming.river_stream", "start_river_stream", "stream.start"),
)

#: Layers whose span time is Python-side DataFrame construction.
BUILD_LAYERS = ("sources", "pipeline.build", "pipeline.assemble",
                "esql.compile")

_PLAN_HDR = "== Physical Plan =="
_NODE = re.compile(r"^[\s:+\-|*]*([A-Za-z][A-Za-z0-9]*)")


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a cheap no-op
    and nothing is patched, so untraced runs measure the bare engine."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []     # closed module spans
        self.ops: list[dict] = []       # closed op windows
        self._stack: list[dict] = []
        self._op: dict | None = None

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        s = {"layer": layer, "t0": time.time(), "child_s": 0.0,
             "op": self._op["tag"] if self._op else None}
        self._stack.append(s)
        try:
            yield
        finally:
            self._stack.pop()
            s["t1"] = time.time()
            dur = s["t1"] - s["t0"]
            s["self_s"] = dur - s["child_s"]
            if self._stack:
                self._stack[-1]["child_s"] += dur
            self.spans.append(s)

    @contextmanager
    def op(self, kind: str, tag: str):
        """Window of one timed op; jobs started inside carry ``tag``."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        rec = {"kind": kind, "tag": tag, "t0": time.time(), "plan_s": 0.0}
        self._op = rec
        sc.setJobGroup(tag, kind)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops.append(rec)

    def force_plan(self, df) -> None:
        """Time Catalyst analysis, optimization and physical planning of
        ``df`` on its own (traced runs only); charged to the open op."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        dt = time.perf_counter() - t0
        if self._op is not None:
            self._op["plan_s"] += dt
        if self._stack:
            self._stack[-1]["child_s"] += dt

    # -- patching ----------------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        if layer == "bulk_sink.write":
            @functools.wraps(fn)
            def wrapper(docs, *a, **k):
                with tracer.span(layer):
                    tracer.force_plan(docs)
                    return fn(docs, *a, **k)
        else:
            @functools.wraps(fn)
            def wrapper(*a, **k):
                with tracer.span(layer):
                    return fn(*a, **k)
        return wrapper

    def _patch(self, fn, layer: str) -> None:
        wrapper = self._wrap(fn, layer)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap :data:`TARGETS` and every ``ensure_*`` prebuild."""
        if not self.enabled:
            return
        import importlib

        for mod_name, fn_name, layer in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            self._patch(getattr(mod, fn_name), layer)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith(f"{PKG}.operators"):
                continue
            for attr, val in list(vars(mod).items()):
                if (attr.startswith("ensure_") and callable(val)
                        and getattr(val, "__module__", "") == name):
                    self._patch(val, f"setup.{attr[len('ensure_'):]}")

    def wrap_queries(self, queries: dict) -> dict:
        """``queries`` with each function wrapped in a span named after its
        registry module (``query.<module>``)."""
        if not self.enabled:
            return queries
        return {q: self._wrap(fn, "query." + fn.__module__.rsplit(".", 1)[-1])
                for q, fn in queries.items()}

    def build_s(self, op_tag: str) -> float:
        """Python construction time spent inside one op."""
        return sum(s["self_s"] for s in self.spans
                   if s["op"] == op_tag and s["layer"] in BUILD_LAYERS)


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

def _plan_counts(desc: str) -> tuple[int, int]:
    """(Exchanges, joins) in the tree part of a formatted physical plan."""
    tree = desc.split(_PLAN_HDR, 1)[-1].strip().split("\n\n", 1)[0]
    ex = joins = 0
    for line in tree.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange") and not node.startswith("Reused"):
            ex += 1
        elif "Join" in node or node == "CartesianProduct":
            joins += 1
    return ex, joins


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages, tasks and SQL executions from the (single,
    uncompressed) event log in ``log_dir``."""
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    exec_time: dict[int, float] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                sql = props.get("spark.sql.execution.id")
                jobs[jid] = {"t": e["Submission Time"] / 1000.0,
                             "group": props.get("spark.jobGroup.id"),
                             "sql": int(sql) if sql is not None else None,
                             "stages": 0, "tasks": 0, "run_ms": 0,
                             "cpu_ms": 0.0, "gc_ms": 0,
                             "shuffle_write_bytes": 0,
                             "shuffle_read_bytes": 0, "spill_bytes": 0}
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif ev == "SparkListenerStageCompleted":
                jid = stage_job.get(e["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                j["gc_ms"] += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                j["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                plans[e["executionId"]] = e.get("physicalPlanDescription", "")
                exec_time[e["executionId"]] = e["time"] / 1000.0
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = e.get("physicalPlanDescription", "")
    sqls = {}
    for xid, desc in plans.items():
        ex, joins = _plan_counts(desc)
        sqls[xid] = {"t": exec_time.get(xid, 0.0), "exchanges": ex,
                     "joins": joins}
    return {"jobs": jobs, "sql": sqls}


JOB_FIELDS = ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def _owner(t: float, windows: list[dict]) -> dict | None:
    for w in windows:
        if w["t0"] <= t <= w["t1"]:
            return w
    return None


def fold(tracer: Tracer, log: dict) -> dict:
    """Per-op and per-layer ledgers from the tracer's windows and the
    parsed event log. Returns ``{"ops": {tag: {...}}, "layers": {...}}``."""
    by_tag = {o["tag"]: o for o in tracer.ops}
    ops = {o["tag"]: {"kind": o["kind"], "jobs": 0, "exchanges": 0,
                      "joins": 0, **{k: 0 for k in JOB_FIELDS}}
           for o in tracer.ops}
    layers: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "self_s": 0.0, "jobs": 0,
                 **{k: 0 for k in JOB_FIELDS}})
    for s in tracer.spans:
        layers[s["layer"]]["calls"] += 1
        layers[s["layer"]]["self_s"] += s["self_s"]
    spans_by_depth = sorted(tracer.spans, key=lambda s: s["t1"] - s["t0"])
    for j in log["jobs"].values():
        op = by_tag.get(j["group"]) or _owner(j["t"], tracer.ops)
        if op is not None:
            rec = ops[op["tag"]]
            rec["jobs"] += 1
            for k in JOB_FIELDS:
                rec[k] += j[k]
        # innermost (shortest) span open at submission
        span = _owner(j["t"], spans_by_depth)
        if span is not None:
            lay = layers[span["layer"]]
            lay["jobs"] += 1
            for k in JOB_FIELDS:
                lay[k] += j[k]
    for x in log["sql"].values():
        op = _owner(x["t"], tracer.ops)
        if op is not None:
            ops[op["tag"]]["exchanges"] += x["exchanges"]
            ops[op["tag"]]["joins"] += x["joins"]
    return {"ops": ops, "layers": dict(layers)}
