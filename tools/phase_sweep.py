#!/usr/bin/env python
"""Registry-wide phase breakdown: per query, measure
  build  — Python-side DataFrame construction (py4j/compiler cost)
  plan   — analysis + optimization + physical planning (executedPlan force)
  exec   — noop-sink execution of a SECOND, fresh DataFrame (so the exec
           number includes its own planning, matching bench.py's timing,
           while build/plan isolate the fixed phases)

Usage: python tools/phase_sweep.py [--no-exec] [q_name ...]
Prints one line per query and a JSON summary to /tmp/phase_sweep.json.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_builder, prebuild


def main():
    args = [a for a in sys.argv[1:]]
    no_exec = "--no-exec" in args
    names = [a for a in args if not a.startswith("--")]

    spark = bench_builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from elasticsearch_hbase_river_spark.registry import all_queries
    queries = all_queries()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    prebuild(spark, SF_DIR)

    todo = names or sorted(queries)
    import gc
    out = {}
    for name in todo:
        fn = queries[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t1 = time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        texec = None
        if not no_exec:
            df2 = fn(spark, SF_DIR)
            t3 = time.time()
            df2.write.format("noop").mode("overwrite").save()
            texec = round(time.time() - t3, 3)
        out[name] = {"build": round(t1 - t0, 3), "plan": round(t2 - t1, 3),
                     "exec": texec}
        print(name, out[name], flush=True)
        spark.catalog.clearCache()
        gc.collect()
    tot = {k: round(sum((v[k] or 0) for v in out.values()), 1)
           for k in ("build", "plan", "exec")}
    print("TOTALS", tot)
    with open("/tmp/phase_sweep.json", "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()
