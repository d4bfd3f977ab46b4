#!/usr/bin/env python3
"""Compare two sets of benchmark outputs.

    python3 perfbench/diff.py BASE NEW [--noise perfbench/noise.json]

BASE and NEW are each a file or a directory of files holding the stdout of
one or more ``perfbench/run.py`` runs. Runs are grouped by workload and by
``--trace``. For every (workload, metric) the tool prints the median of
each side, the change, and a verdict:

- ``unresolved`` when the change lies inside the same-tree spread: the
  largest of the two sides' own interquartile spreads (relative to their
  medians) and the spread recorded for that metric in the noise file (two
  same-tree run sets of this benchmark, see README.md);
- ``better`` / ``worse`` otherwise.

Noise-free counters (jobs, stages, tasks, Exchanges, joins, shuffle bytes,
files written) are printed next to the wall times. They depend on the
seeded data but not on timing, so a counter whose two sides' ranges do not
overlap has ``changed``. When one side holds traced and untraced runs of
the same workload, the tool also prints the tracing overhead (traced minus
untraced) of each end-to-end time.

Supersedes ``tools/compare_bench.py`` for this output format.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

#: Per-layer metrics that do not depend on timing.
COUNTERS = ("op.jobs", "op.stages", "op.tasks", "op.exchanges", "op.joins",
            "op.shuffle_write_bytes", "op.spill_bytes",
            "bulk_sink.files_written.tick_delta",
            "bulk_sink.files_written.tick_noop", "sink.files_total",
            "sources.files_listed", "setup.index_bytes")

_HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path: str) -> list[dict]:
    """Every run in ``path`` (a file, or a directory of files) as
    ``{"report": ..., "result": ...}``."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = []
    for fn in files:
        report = None
        with open(fn) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if "report" in obj:
                    report = obj["report"]
                elif "metrics" in obj and report is not None:
                    runs.append({"report": report, "result": obj})
                    report = None
    return runs


def spread(values: list[float]) -> float:
    """Interquartile range over the median (0 for fewer than 4 runs)."""
    if len(values) < 4:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def _values(runs: list[dict]) -> dict[str, list[float]]:
    """metric -> values over runs: the result line's metrics plus the
    report's named metrics and per-layer numbers."""
    out: dict[str, list[float]] = {}
    for r in runs:
        rep = r["report"]
        flat = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        flat.update({k: v for k, v in rep.get("end_to_end", {}).items()})
        flat.update({k: v["value"] for k, v in rep.get("metrics", {}).items()})
        flat.update(rep.get("per_layer", {}))
        for k, v in flat.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                out.setdefault(k, []).append(float(v))
    return out


def _group(runs: list[dict]) -> dict[tuple[str, int], list[dict]]:
    g: dict[tuple[str, int], list[dict]] = {}
    for r in runs:
        g.setdefault((r["report"]["workload"], r["report"]["trace"]),
                     []).append(r)
    return g


def compare(base: list[dict], new: list[dict], noise: dict,
            lower_is_better: dict[str, bool]) -> list[dict]:
    """One row per (workload, trace, metric) present on both sides."""
    rows = []
    gb, gn = _group(base), _group(new)
    for key in sorted(set(gb) & set(gn)):
        vb, vn = _values(gb[key]), _values(gn[key])
        for m in sorted(set(vb) & set(vn)):
            a, b = statistics.median(vb[m]), statistics.median(vn[m])
            change = (b - a) / a if a else (0.0 if b == a else float("inf"))
            counter = m in COUNTERS
            band = 0.0 if counter else max(
                spread(vb[m]), spread(vn[m]),
                noise.get(key[0], {}).get(m, 0.0))
            if counter:
                # counters move with the seeded data, not with timing: a
                # change is real once the two sides' ranges stop overlapping
                apart = min(vn[m]) > max(vb[m]) or max(vn[m]) < min(vb[m])
                verdict = ("same" if a == b else
                           "changed" if apart else "overlap")
            elif abs(change) <= band:
                verdict = "unresolved"
            else:
                lower = lower_is_better.get(m, True)
                verdict = "better" if (change < 0) == lower else "worse"
            rows.append({"workload": key[0], "trace": key[1], "metric": m,
                         "base": a, "new": b, "change": change,
                         "band": band, "verdict": verdict,
                         "n": (len(vb[m]), len(vn[m]))})
    return rows


def tracing_overhead(runs: list[dict]) -> list[tuple[str, str, float]]:
    """(workload, metric, traced - untraced median) for each end-to-end
    metric of workloads with runs in both modes."""
    g = _group(runs)
    out = []
    for (wl, trace) in sorted(g):
        if trace or (wl, 1) not in g:
            continue
        plain = _values(g[(wl, 0)])
        traced = {}
        for r in g[(wl, 1)]:
            for k, v in r["report"].get("end_to_end", {}).items():
                traced.setdefault(k, []).append(v)
        for m in sorted(set(plain) & set(traced)):
            out.append((wl, m, statistics.median(traced[m])
                        - statistics.median(plain[m])))
    return out


def _direction() -> dict[str, bool]:
    path = os.path.join(os.path.dirname(_HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        c = json.load(f)
    return {m["name"]: m["better"] == "lower"
            for m in c["end_to_end"] + c["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--noise", default=os.path.join(_HERE, "noise.json"),
                   help="same-tree spreads per workload and metric")
    args = p.parse_args(argv)
    noise = {}
    if os.path.exists(args.noise):
        with open(args.noise) as f:
            noise = json.load(f)
    base, new = load_runs(args.base), load_runs(args.new)
    if not base or not new:
        print("no runs found on one side", file=sys.stderr)
        return 2
    rows = compare(base, new, noise, _direction())
    print(f"{'workload':10s} {'t':1s} {'metric':34s} {'base':>12s} "
          f"{'new':>12s} {'change':>8s} {'band':>6s}  verdict")
    for r in rows:
        print(f"{r['workload']:10s} {r['trace']:1d} {r['metric']:34s} "
              f"{r['base']:12.4f} {r['new']:12.4f} {r['change']:+8.1%} "
              f"{r['band']:6.1%}  {r['verdict']}")
    for side, runs in (("base", base), ("new", new)):
        for wl, m, d in tracing_overhead(runs):
            print(f"tracing overhead ({side}) {wl} {m}: {d:+.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
