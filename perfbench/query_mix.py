"""``query_mix`` workload: the read path over registry queries.

Set-up writes the seeded fixture tables, prebuilds the persisted vector
index the mix reads (``ensure_vector_index``) into a fresh root under the
run's work directory, then runs every query once untimed through
``toPandas`` and checks it against its DuckDB twin with the dtype-strict
compare of ``tests/oracle_harness.py``. That pass doubles as the JIT
warm-up, so the first timed round is not charged for it.

Timed rounds run the whole list into the ``noop`` sink, rotating the start
by one query per round, with ``clearCache`` and a Python GC after every
query and a JVM GC after every tenth, as ``bench.py`` does.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import statistics
import time

#: The timed mix: river parity queries, text search, vector search (scan
#: and persisted IVF index), near-dedup, ES|QL, TPC-H aggregation,
#: sessionization and the bulk-payload render, each with a DuckDB twin.
#: Chosen so one warm round takes about 5 s on 4 cores; README.md says
#: which probed queries are left out and why.
QUERIES = (
    "q_scan", "q_doc_pivot", "q_upsert_latest", "q_tfidf", "q_bm25",
    "q_near_dedup", "q_knn_cosine", "q_ann_ivf_indexed", "q_esql_ts_prom",
    "q_pricing_summary", "q_sessionize", "q_es_bulk",
)

#: ``ensure_*`` prebuilds the mix depends on: (module, function).
PREBUILDS = (("vector_index", "ensure_vector_index"),)


def _oracle_compare():
    """``compare`` from the repository's own oracle harness."""
    path = os.path.join(os.getcwd(), "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.fixture = os.path.join(ctx.work_dir, "fixture")
        self.index_root = os.path.join(ctx.work_dir, "index")
        os.environ["RIVER_INDEX_ROOT"] = os.path.join(self.index_root, "s")
        os.environ["RIVER_VINDEX_ROOT"] = os.path.join(self.index_root, "v")
        self.prebuild_s: dict[str, float] = {}
        self.queries: dict = {}
        self.phases: dict[str, float] = {}

    def setup(self) -> None:
        from elasticsearch_hbase_river_spark.registry import all_oracles

        from perfbench.gen import write_fixture

        t0 = time.perf_counter()
        write_fixture(self.ctx.seed, self.fixture)
        self.phases["setup.inputs_s"] = time.perf_counter() - t0
        self.queries = {q: self.ctx.queries[q] for q in QUERIES}
        spark = self.ctx.spark
        for mod_name, fn_name in PREBUILDS:
            mod = importlib.import_module(
                f"elasticsearch_hbase_river_spark.operators.{mod_name}")
            t0 = time.perf_counter()
            getattr(mod, fn_name)(spark, self.fixture)
            self.prebuild_s[fn_name] = time.perf_counter() - t0
        self.phases["setup.prebuild_s"] = sum(self.prebuild_s.values())
        t0 = time.perf_counter()
        compare = _oracle_compare()
        oracles = all_oracles()
        for name, fn in self.queries.items():
            try:
                compare(fn(spark, self.fixture), oracles[name], self.fixture)
                ok, why = True, ""
            except AssertionError as e:
                ok, why = False, str(e).splitlines()[0]
            self.ctx.check(ok, f"{name}: {why}", op=True)
            spark.catalog.clearCache()
            gc.collect()
        self.phases["setup.warmup_s"] = time.perf_counter() - t0

    def _query(self, i: int, name: str) -> None:
        spark = self.ctx.spark
        with self.ctx.op(name) as t:
            t0 = time.perf_counter()
            df = self.queries[name](spark, self.fixture)
            t["build_s"] = time.perf_counter() - t0
            self.ctx.tracer.force_plan(df)
            df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        gc.collect()
        if i % 10 == 9:
            spark.sparkContext._jvm.System.gc()

    def measure(self, seconds: float) -> None:
        names, i = list(QUERIES), 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(self.ctx.rounds) < 2:
            r = len(self.ctx.rounds) % len(names)
            with self.ctx.round():
                for name in names[r:] + names[:r]:
                    self._query(i, name)
                    i += 1

    def verify(self) -> None:
        """Every query was checked against its twin during set-up."""

    def metrics(self) -> dict:
        """Named report metrics: name -> (value, unit, samples)."""
        from perfbench.stats import summarize

        by_query = self.ctx.timed_by_kind("s")
        lat = summarize([s for xs in by_query.values() for s in xs])
        rounds = [r["s"] for r in self.ctx.rounds]
        report = {
            "query_p50_s": (lat["p50"], "s", lat["n"]),
            "query_tail_s": (lat.get("tail"), "s", lat["n"]),
            "query_round_s": (statistics.median(rounds), "s", len(rounds)),
            "setup.index_bytes": (_dir_bytes(self.index_root), "bytes", 1),
        }
        for fn_name, s in self.prebuild_s.items():
            report[f"setup.{fn_name[len('ensure_'):]}_build_s"] = (s, "s", 1)
        for name, xs in sorted(by_query.items()):
            report[f"query.{name}.p50_s"] = (statistics.median(xs), "s", len(xs))
        return report
