#!/usr/bin/env python
"""Band-table compaction cadence measurement (SCALE.md §3n).

Drives the incremental near-dedup sink (`plans/pipeline.py:
near_dedup_against_sink`) for N append ticks over disjoint slices of a
scaled corpus, timing every tick as the parquet log accretes small
files, then compacts (`compact_band_table`) and times post-compaction
ticks — the measurement behind the BANDS_COMPACT_EVERY cadence, the
band-table analog of the §3i epoch-compaction study.

Usage: python tools/bands_compact_scale.py [SF_DIR] [N_TICKS]
       defaults: /tmp/sf1 24

Prints one JSON line:
  tick_sec        per-tick wall time, in order (pre-compaction)
  files_at_tick   band-table part-file count after each tick
  compact         {rows, files_before, files_after, sec}
  post_tick_sec   per-tick wall time for 3 more ticks after compaction
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    n_ticks = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from elasticsearch_hbase_river_spark.plans.pipeline import (
        compact_band_table,
        data_files,
        near_dedup_against_sink,
    )
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    # disjoint equal slices: tick i ingests the i-th id-range slab
    # (n_ticks pre-compaction + 3 post-compaction ticks)
    total_slices = n_ticks + 3
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = (hi - lo + 1) // total_slices or 1

    work = tempfile.mkdtemp(prefix="bands_scale_")
    bands = os.path.join(work, "bands")
    out: dict[str, object] = {"sf_dir": sf_dir, "n_docs": n_docs,
                              "n_ticks": n_ticks, "cpus": int(cpus)}
    try:
        def run_tick(i: int) -> float:
            s = lo + i * span
            tick = docs.filter((F.col("doc_id") >= s)
                               & (F.col("doc_id") < s + span))
            t0 = time.time()
            # auto_compact off: this tool MEASURES accretion, so the
            # in-tick cadence (the production default) must not reset it
            near_dedup_against_sink(spark, tick, bands,
                                    auto_compact=False) \
                .write.format("noop").mode("overwrite").save()
            return round(time.time() - t0, 2)

        tick_sec, files_at = [], []
        for i in range(n_ticks):
            tick_sec.append(run_tick(i))
            files_at.append(len(data_files(bands)))
        out["tick_sec"] = tick_sec
        out["files_at_tick"] = files_at

        t0 = time.time()
        stats = compact_band_table(spark, bands)
        stats["sec"] = round(time.time() - t0, 2)
        out["compact"] = stats

        out["post_tick_sec"] = [run_tick(n_ticks + j) for j in range(3)]
        out["files_post"] = len(data_files(bands))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
