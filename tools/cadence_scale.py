"""Compaction-cadence campaign: serve-time vs pending-epoch count.

Measures the trade the decoupled cadence (operators/liveserve.py) makes:
serving from base + E unmerged epochs costs a little more per query
(delta unions + stat corrections), while each SKIPPED merge saves a full
carried-bytes rewrite. The output curve justifies
COMPACT_EVERY_N_EPOCHS (SCALE.md §3i).

Per notch: write one churn epoch (5% re-indexed + 1% new docs, salted per
epoch), time `bm25_live` with the now-pending epoch set, and record. At
the end, fold ALL epochs with `apply_epoch_deltas` (one compaction for
the whole window — the cadence's cost model) and time the merged serve as
the floor reference.

Usage: python tools/cadence_scale.py [sf_dir] [max_epochs]
Prints one JSON line per measurement; run UNCONTENDED (bench hygiene).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    max_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from elasticsearch_hbase_river_spark.operators import (
        indexed_search as ix,
    )
    from elasticsearch_hbase_river_spark.operators import liveserve as lv
    from elasticsearch_hbase_river_spark.operators.search import BM25_TERMS
    from elasticsearch_hbase_river_spark.sources.tables import load_table
    from elasticsearch_hbase_river_spark.streaming.epochs import (
        stamp_epochs_layout,
        write_epoch,
    )
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        index_epoch_parts,
    )

    def gc() -> None:
        spark._jvm.System.gc()

    def timed(fn):
        gc()
        t0 = time.time()
        n = fn().count()
        return round(time.time() - t0, 3), n

    work = tempfile.mkdtemp(prefix="cadence_scale_")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        max_id = docs.agg(F.max("doc_id")).first()[0]

        base = os.path.join(work, "base_idx")
        t0 = time.time()
        ix.build_index(spark, docs, base)
        build_sec = round(time.time() - t0, 2)
        print(json.dumps({"notch": "base", "sf_dir": sf_dir,
                          "n_docs": n_docs, "build_sec": build_sec}),
              flush=True)

        serve0, rows0 = timed(lambda: ix.bm25_from_index(spark, base))
        print(json.dumps({"notch": "serve_merged_0_epochs",
                          "serve_sec": serve0, "rows": rows0}), flush=True)

        epochs = os.path.join(work, "epochs")

        def sel(salt: int, mod: int, pct10: int):
            # md5-based per-epoch slice: pct10/1000 of docs
            return (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{salt}|"),
                               F.col("doc_id").cast("string"))), 1, 8),
                16, 10).cast("long") % mod) < pct10

        for e in range(max_epochs):
            churned = (docs.filter(sel(e, 1000, 50))
                       .select("doc_id",
                               F.concat("text", F.lit(f" refreshed e{e}"))
                               .alias("text")))
            fresh_new = (docs.filter(sel(e + 101, 1000, 10))
                         .select((F.col("doc_id") + (e + 1) * (max_id + 1))
                                 .alias("doc_id"),
                                 F.concat("text", F.lit(f" new e{e}"))
                                 .alias("text")))
            delta = churned.unionByName(fresh_new)
            t0 = time.time()
            write_epoch(epochs, e, index_epoch_parts(delta))
            stamp_epochs_layout(epochs)
            append_sec = round(time.time() - t0, 2)
            serve, rows = timed(
                lambda: lv.bm25_live(spark, base, epochs, BM25_TERMS))
            print(json.dumps({
                "notch": f"live_{e + 1}_epochs",
                "pending": lv.pending_epochs(epochs),
                "append_sec": append_sec, "serve_sec": serve,
                "rows": rows,
                "due": lv.compaction_due(epochs)}), flush=True)

        merged = os.path.join(work, "merged_idx")
        gc()
        t0 = time.time()
        ix.apply_epoch_deltas(spark, base, epochs, merged)
        merge_sec = round(time.time() - t0, 2)
        serve_m, rows_m = timed(lambda: ix.bm25_from_index(spark, merged))
        print(json.dumps({"notch": "compact_all",
                          "epochs_folded": max_epochs,
                          "merge_sec": merge_sec,
                          "serve_sec_after": serve_m, "rows": rows_m,
                          "merge_sec_per_epoch":
                              round(merge_sec / max_epochs, 2)}),
              flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
