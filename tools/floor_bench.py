#!/usr/bin/env python
"""Per-query fixed-cost floor: time trivial noop actions in a bench-shaped
session to establish what ANY query pays regardless of its plan.

Measures, 20 reps each after warmup:
  range1    — spark.range(1) noop write (pure job-round floor)
  scan      — events.parquet 2-column scan noop (adds scan task + codegen)
  agg       — groupBy count over events (adds one AQE shuffle round)

Usage: python tools/floor_bench.py [extra_conf=value ...]
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_builder


def main():
    b = bench_builder()
    for kv in sys.argv[1:]:
        k, v = kv.split("=", 1)
        b = b.config(k, v)
        print("extra conf:", k, "=", v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.count()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    cases = {
        "range1": lambda: spark.range(1),
        "scan": lambda: ev.select("event_id", "value"),
        "agg": lambda: ev.groupBy("event_type").agg(F.sum("value")),
    }
    for name, mk in cases.items():
        for _ in range(3):
            noop(mk())
        ts = []
        for _ in range(20):
            t0 = time.time()
            noop(mk())
            ts.append(time.time() - t0)
        print(f"{name}: median {statistics.median(ts)*1000:.0f} ms  "
              f"min {min(ts)*1000:.0f}  max {max(ts)*1000:.0f}")
    spark.stop()


if __name__ == "__main__":
    main()
