#!/usr/bin/env python
"""Isolated per-query measurement: bench-shaped session, noop sink, N reps.

Usage: python tools/iso_bench.py [--reps N] [--explain] [--phase] q_name [q_name ...]
Prints per-query: construction seconds (phase mode) and execution seconds per rep.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_builder


def main():
    args = sys.argv[1:]
    reps = 3
    explain = phase = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--explain":
            explain = True; i += 1
        elif a == "--phase":
            phase = True; i += 1
        else:
            names.append(a); i += 1

    spark = bench_builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from elasticsearch_hbase_river_spark.registry import all_queries
    queries = all_queries()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    import gc
    out = {}
    for name in names:
        fn = queries[name]
        rows = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t1 = time.time()
            if explain and r == 0:
                # capture BEFORE the noop: clearCache() below unpersists
                # registered caches, so a post-run explain re-plans
                # without the InMemoryRelations the real run used
                with open(f"/tmp/{name}_explain.txt", "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            rows.append((round(t1 - t0, 3), round(t2 - t1, 3)))
            spark.catalog.clearCache()
            gc.collect()
        out[name] = rows
        if phase:
            print(name, "build/exec per rep:", rows, flush=True)
        else:
            print(name, [round(b + e, 3) for b, e in rows], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
