"""Streaming river: drain-and-stop (availableNow) end-to-end."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.sources import bulksink
from elasticsearch_hbase_river_spark.sources.cells import cells_from_events
from elasticsearch_hbase_river_spark.streaming.river_stream import (
    start_river_stream,
)


def _write_cells(spark, sf_dir, out, n_files=4):
    cells_from_events(spark, sf_dir).repartition(n_files) \
        .write.mode("overwrite").parquet(out)


def test_stream_drains_and_upserts(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_cells(spark, sf_dir, src)
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", interval_ms=1000)
    q = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    out = spark.read.parquet(sink)
    # every row key appears exactly once per micro-batch it arrived in;
    # with maxFilesPerTrigger=16 and 4 files this is a single batch
    assert out.select("doc_id").distinct().count() == 1000
    doc = json.loads(out.limit(1).collect()[0].doc_json)
    assert set(doc) <= {"data", "meta"}

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q2.awaitTermination(120), "stream did not drain in 120s"
    assert spark.read.parquet(sink).count() == out.count()


def test_stream_restart_picks_up_only_new_files(spark, sf_dir, tmp_path):
    """Checkpoint recovery: a restarted river resumes from its offsets and
    processes ONLY files that arrived while it was down (the streaming
    analog of the watermark-incremental tick)."""
    src = str(tmp_path / "src_restart")
    sink = str(tmp_path / "sink_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    base = cells_from_events(spark, sf_dir)
    old = base.filter(F.col("row_key").cast("long") < 800)
    new = base.filter(F.col("row_key").cast("long") >= 800)
    old.repartition(2).write.mode("overwrite").parquet(src)
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      interval_ms=1000)
    q1 = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q1.awaitTermination(120), "stream did not drain in 120s"
    n1 = spark.read.parquet(sink).count()
    assert n1 == 800

    # river is down; new data lands
    new.repartition(1).write.mode("append").parquet(src)
    q2 = start_river_stream(spark, cfg, src, sink, ckpt, available_now=True)
    assert q2.awaitTermination(120), "stream did not drain in 120s"
    out = spark.read.parquet(sink)
    assert out.count() == 1000                       # old NOT reprocessed
    assert out.select("doc_id").distinct().count() == 1000


def test_stream_to_es_bulk_files(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src_bulk")
    sink = str(tmp_path / "sink_bulk")
    ckpt = str(tmp_path / "ckpt_bulk")
    _write_cells(spark, sf_dir, src)
    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      interval_ms=1000, batch_size=200)
    q = start_river_stream(spark, cfg, src, sink, ckpt,
                           available_now=True, sink_format="es_bulk")
    assert q.awaitTermination(120), "stream did not drain in 120s"
    lines = bulksink.committed_lines(sink)
    assert len(lines) == 2 * 1000  # action+source per doc
    actions = [json.loads(ln)["index"] for ln in lines[0::2]]
    assert {a["_index"] for a in actions} == {"river"}
    assert len({a["_id"] for a in actions}) == 1000


def test_replayed_es_bulk_batch_publishes_once(spark, tmp_path):
    """A crash between the sink write and the checkpoint commit replays the
    micro-batch. The bulk files must hold each document once after the
    replay, both through the manifest and on disk."""
    n_docs = 50
    src, sink = str(tmp_path / "src"), tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    spark.createDataFrame(
        [(f"r{i:02d}", "f", "q", f"v{i}", 100 + i) for i in range(n_docs)],
        "row_key string, family string, qualifier string, value string, "
        "ts_ms long").coalesce(1).write.parquet(src)
    cfg = RiverConfig(table="t", index="i", type_name="d")

    def drain() -> None:
        q = start_river_stream(spark, cfg, src, str(sink), str(ckpt),
                               available_now=True, sink_format="es_bulk")
        assert q.awaitTermination(120), "stream did not drain in 120s"

    def raw_lines() -> int:
        return sum(1 for p in sink.iterdir() if p.name[0] not in "_."
                   for ln in p.read_text().splitlines() if ln)

    drain()
    last = max(int(p.name) for p in (ckpt / "commits").iterdir()
               if p.name.isdigit())
    (ckpt / "commits" / str(last)).unlink()
    (ckpt / "commits" / f".{last}.crc").unlink(missing_ok=True)
    drain()
    assert raw_lines() == 2 * n_docs
    assert len(bulksink.committed_lines(str(sink))) == 2 * n_docs


def test_unknown_sink_format_is_refused_before_the_query_starts(spark,
                                                                 tmp_path):
    src, ckpt = str(tmp_path / "src"), tmp_path / "ckpt"
    spark.createDataFrame([("r1", "f", "q", "v", 1)],
                          "row_key string, family string, qualifier string, "
                          "value string, ts_ms long").write.parquet(src)
    cfg = RiverConfig(table="t", index="i", type_name="d")
    with pytest.raises(ValueError, match="sink_format"):
        start_river_stream(spark, cfg, src, str(tmp_path / "sink"),
                           str(ckpt), available_now=True, sink_format="json")
    assert not ckpt.exists()
    assert not (tmp_path / "sink").exists()


def test_streaming_index_maintenance(spark, sf_dir, tmp_path):
    """Incremental inverted-index upkeep: tick 1 indexes the initial docs,
    an idle tick changes nothing, tick 2 adds new docs AND re-indexes an
    existing one — the merged index must equal the batch postings build
    over the corpus's LATEST document versions (old postings superseded)."""
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src = str(tmp_path / "docs_src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "index_ckpt")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").persist())
    batch1 = docs.filter(F.col("doc_id") < 100)
    batch1.write.mode("append").parquet(src)

    def tick():
        q = start_index_stream(spark, src, index, ckpt)
        assert q.awaitTermination(120), "stream did not drain in 120s"

    def merged():
        return Counter(map(tuple, read_inverted_index(spark, index).collect()))

    def batch_build(d):
        return Counter(map(tuple, inverted_postings(d).collect()))

    tick()
    assert merged() == batch_build(batch1)
    tick()  # idle: no new files, index unchanged
    assert merged() == batch_build(batch1)

    # tick 2: new docs 100..199 plus doc 0 re-indexed with new text
    updated = (docs.filter(F.col("doc_id") == 0)
               .select("doc_id", F.lit("fresh text only").alias("text")))
    batch2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)) \
                 .select("doc_id", "text").unionByName(updated)
    batch2.write.mode("append").parquet(src)
    tick()
    want = batch_build(
        batch1.filter(F.col("doc_id") != 0).unionByName(batch2))
    assert merged() == want
    docs.unpersist()


def test_streaming_index_same_batch_update_keeps_latest(spark, sf_dir, tmp_path):
    """Two versions of the same doc arriving within ONE micro-batch must
    resolve latest-wins by file order before the postings build — merging
    them would produce a posting matching neither text."""
    import time
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    v1 = spark.createDataFrame([(0, "old stale text")], "doc_id long, text string")
    v2 = spark.createDataFrame([(0, "fresh text wins")], "doc_id long, text string")
    v1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct file modification times
    v2.coalesce(1).write.mode("append").parquet(src)

    q = start_index_stream(spark, src, index, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = Counter(map(tuple, read_inverted_index(spark, index).collect()))
    want = Counter(map(tuple, inverted_postings(v2).collect()))
    assert got == want


def test_streaming_index_same_mtime_explicit_version_wins(spark, tmp_path):
    """Two versions of one doc written back-to-back (same-millisecond file
    mtimes are possible) must arbitrate on the feed's explicit `ver` stamp,
    not on part-file path order — parquet part names embed random job UUIDs,
    so path order carries no version information. The LOWER-versioned file
    is written LAST so any mtime/path fallback would pick the stale text."""
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators.search import inverted_postings
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    v2 = spark.createDataFrame([(0, "fresh text wins", 2)],
                               "doc_id long, text string, ver long")
    v1 = spark.createDataFrame([(0, "old stale text", 1)],
                               "doc_id long, text string, ver long")
    v2.coalesce(1).write.mode("append").parquet(src)
    v1.coalesce(1).write.mode("append").parquet(src)  # newer mtime, older ver

    q = start_index_stream(spark, src, index, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = Counter(map(tuple, read_inverted_index(spark, index).collect()))
    want = Counter(map(tuple, inverted_postings(v2.select("doc_id", "text")).collect()))
    assert got == want


def test_index_delta_maintenance_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """The serving-index maintenance loop: a base index built from the
    initial corpus, plus streamed epoch deltas (new docs AND a re-indexed
    doc), merged by apply_epoch_deltas — every serving table (postings,
    doclen, vocab, stats) must equal a from-scratch batch build over the
    corpus's LATEST document versions."""
    import math
    from collections import Counter

    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").persist())
    base_dir = str(tmp_path / "base_idx")
    ix.build_index(spark, docs.filter(F.col("doc_id") < 100), base_dir)

    # Stream the delta: docs 100..149 plus doc 0 re-indexed with new text.
    src = str(tmp_path / "delta_src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "delta_ckpt")
    updated = (docs.filter(F.col("doc_id") == 0)
               .select("doc_id", F.lit("fresh text only").alias("text")))
    delta = (docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
             .select("doc_id", "text").unionByName(updated))
    delta.write.mode("append").parquet(src)
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    merged_dir = str(tmp_path / "merged_idx")
    ix.apply_epoch_deltas(spark, base_dir, epochs, merged_dir)

    latest = (docs.filter((F.col("doc_id") > 0) & (F.col("doc_id") < 150))
              .unionByName(updated))
    full_dir = str(tmp_path / "full_idx")
    ix.build_index(spark, latest, full_dir)

    for reader in (ix.read_postings, ix.read_doclen, ix.read_vocab,
                   ix.read_percslots):
        got = Counter(map(tuple, reader(spark, merged_dir).collect()))
        want = Counter(map(tuple, reader(spark, full_dir).collect()))
        assert got == want, f"{reader.__name__} diverged after delta merge"
    got_s = ix.read_stats(spark, merged_dir).first()
    want_s = ix.read_stats(spark, full_dir).first()
    assert got_s.n_docs == want_s.n_docs
    assert math.isclose(got_s.avgdl, want_s.avgdl, rel_tol=1e-12)
    docs.unpersist()


def test_connector_river_latency_under_trickle(spark, tmp_path):
    """The reference's operating promise: rows written to the source table
    become visible in the index within ~interval (the scheduler loop,
    HBaseRiver.java + HBaseParser.java:49-73). Against a RUNNING
    continuous-trigger connector river (cellstore source -> bulksink),
    measure (a) the cold-start backfill drain and (b) per-append
    visibility latency under a steady trickle, and bound both. The bounds
    are deliberately loose for a shared CI box (the trigger interval is
    500 ms; normal visibility is ~1-3 s) — they catch order-of-magnitude
    regressions like a stream that only sees appends on restart."""
    import time

    from elasticsearch_hbase_river_spark.sources import cellstore

    store = str(tmp_path / "store")
    bulk = str(tmp_path / "bulk")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(f"k{i:05d}", "f", "q", f"v{i}", 1_000 + i) for i in range(200)],
        cellstore.CELLS_DDL)
    cellstore.write_cellstore(base, store, n_regions=4)
    cfg = RiverConfig(table="t", index="i", type_name="d", interval_ms=500)
    q = start_river_stream(spark, cfg, store, bulk, ckpt, sink_format="es_bulk")

    def n_docs() -> int:
        try:
            return bulksink.read_manifest(bulk)["n_docs"]
        except (FileNotFoundError, json.JSONDecodeError):
            return 0

    def wait_docs(n: int, bound_s: float, what: str) -> float:
        t0 = time.time()
        while time.time() - t0 < bound_s:
            if n_docs() >= n:
                return time.time() - t0
            time.sleep(0.2)
        raise AssertionError(
            f"{what}: sink has {n_docs()}/{n} docs after {bound_s}s")

    try:
        cold_start = wait_docs(200, 60, "cold-start backfill")
        latencies = []
        for tick in range(3):
            lo = 10_000 + 1_000 * tick
            delta = spark.createDataFrame(
                [(f"t{lo + i:06d}", "f", "q", "x", lo + i)
                 for i in range(100)],
                cellstore.CELLS_DDL)
            t_append = time.time()
            cellstore.append_cells(delta, store)
            wait_docs(200 + 100 * (tick + 1), 30,
                      f"trickle append {tick}")
            latencies.append(time.time() - t_append)
    finally:
        q.stop()
    # every append visible within the 30s ceiling (wait_docs enforced it);
    # the median must be well under it — steady-state, not timeout-riding
    assert sorted(latencies)[1] < 15, (cold_start, latencies)


def test_streaming_vector_index_maintenance(spark, sf_dir, tmp_path):
    """Incremental VECTOR-index upkeep: tick 1 lands the initial vectors,
    tick 2 upserts one moved vector and one new vector; folding the epoch
    deltas into a base index must equal a from-scratch build over the
    corpus's latest vector versions. A same-batch double-update (two vers
    of one vec_id in one tick) must arbitrate by the producer ver stamp."""
    from elasticsearch_hbase_river_spark.operators import vector_index as vx
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        apply_vector_deltas, read_vector_deltas, start_vector_stream,
    )

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding", "label").persist())
    src = str(tmp_path / "vec_src")
    delta = str(tmp_path / "vec_delta")
    ckpt = str(tmp_path / "vec_ckpt")

    base_dir = str(tmp_path / "vidx_base")
    vx.build_vector_index(spark, emb, base_dir)

    def tick():
        q = start_vector_stream(spark, src, delta, ckpt)
        assert q.awaitTermination(120), "stream did not drain in 120s"

    # tick 1: vec 3 takes vec 5's embedding/label — stamped ver, with a
    # STALE same-batch version (ver=1 carrying the original embedding)
    # that must lose the arbitration
    moved = (emb.filter(F.col("vec_id") == 5)
             .select(F.lit(3).cast("long").alias("vec_id"),
                     "embedding", "label", F.lit(2).cast("long").alias("ver")))
    stale = (emb.filter(F.col("vec_id") == 3)
             .select("vec_id", "embedding", "label",
                     F.lit(1).cast("long").alias("ver")))
    moved.unionByName(stale).write.mode("append").parquet(src)
    tick()

    # tick 2: a brand-new vector cloned from vec 7 (no ver column — feed
    # without the stamp keeps working via schema evolution)
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    new = (emb.filter(F.col("vec_id") == 7)
           .select(F.lit(max_id + 1).cast("long").alias("vec_id"),
                   "embedding", "label"))
    new.write.mode("append").parquet(src)
    tick()

    pending = {r["vec_id"] for r in
               read_vector_deltas(spark, delta).select("vec_id").collect()}
    assert pending == {3, max_id + 1}

    merged_dir = str(tmp_path / "vidx_merged")
    apply_vector_deltas(spark, base_dir, delta, merged_dir)

    rebuilt_corpus = (
        emb.filter(F.col("vec_id") != 3)
        .unionByName(emb.filter(F.col("vec_id") == 5)
                     .select(F.lit(3).cast("long").alias("vec_id"),
                             "embedding", "label"))
        .unionByName(new))
    rebuilt_dir = str(tmp_path / "vidx_rebuilt")
    vx.build_vector_index(spark, rebuilt_corpus, rebuilt_dir)

    def snap(path):
        cells = sorted((r["vec_id"], r["cell"]) for r in
                       vx.read_cells(spark, path)
                       .select("vec_id", "cell").collect())
        cents = sorted((r["cell"], tuple(r["centroid"])) for r in
                       vx.read_centroids(spark, path).collect())
        return cells, cents

    assert snap(merged_dir) == snap(rebuilt_dir)
    emb.unpersist()

def test_delta_sidecar_refresh_never_reads_postings(spark, sf_dir, tmp_path):
    """The derived-table refresh of an epoch merge must be DELTA-
    PROPORTIONAL: its plans read the base SIDECARS (vocab, doclen, the
    dbucket-pruned forward index) and the epoch delta — never the full
    postings table. At 100 TB a full-postings aggregation per maintenance
    tick would dwarf the delta it applies."""
    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    base_dir = str(tmp_path / "base_idx")
    ix.build_index(spark, docs.filter(F.col("doc_id") < 100), base_dir)

    src = str(tmp_path / "delta_src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "delta_ckpt")
    (docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
     .write.mode("append").parquet(src))
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_epoch_docs,
        read_inverted_index,
    )

    fresh = read_inverted_index(spark, epochs).localCheckpoint(eager=True)
    fresh_docs = read_epoch_docs(spark, epochs).localCheckpoint(eager=True)
    dbkts = sorted({r[0] for r in fresh_docs.select(
        ix._dbucket(F.col("doc_id"))).collect()})
    plans = ix._delta_sidecar_plans(spark, base_dir, fresh, fresh_docs, dbkts)

    for name in ("vocab", "doclen", "vkeys"):
        files = plans[name].inputFiles()
        assert files, f"{name} refresh reads no base files at all"
        assert not any("/postings/" in f for f in files), (
            f"{name} refresh re-aggregates the full postings table")
    # the vocab refresh must consult the forward index (old contributions)
    assert any("/tvectors/" in f for f in plans["vocab"].inputFiles())
    # and the tvectors read is PRUNED to the changed docs' buckets
    tv_plan = (ix.read_tvectors(spark, base_dir, dbkts)
               ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in tv_plan and "dbucket" in tv_plan

def test_freshness_loop_stream_merge_swap_serves_new_docs(spark, sf_dir, tmp_path):
    """The reference's actual promise closed over the native index
    (HBaseParser.java:49-73: new rows become searchable after the next
    river tick): trickle NEW documents through the streaming index
    maintainer, merge the epochs into the next index generation, repoint
    the serving alias — and the BM25 query THROUGH THE ALIAS must surface
    the new documents, while readers that resolved before the swap keep a
    consistent old view."""
    from elasticsearch_hbase_river_spark.operators import indexed_search as ix
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_index_stream,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    gen1 = str(tmp_path / "idx_gen1")
    alias = str(tmp_path / "serving_alias.json")
    ix.build_index(spark, docs.filter(F.col("doc_id") < 100), gen1)
    ix.write_alias(alias, gen1)

    # Tick 1: a new doc saturated with the query terms — must become the
    # top BM25 hit once it is searchable.
    hot_id = 9_000_000
    src = str(tmp_path / "src")
    epochs = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "ckpt")
    hot_text = " ".join(["spark join window"] * 8)
    spark.createDataFrame([(hot_id, hot_text)],
                          "doc_id long, text string") \
        .write.mode("append").parquet(src)
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    # Before the swap: the alias still serves gen1 — no hot doc.
    pre = {r.doc_id for r in
           ix.bm25_from_index(spark, ix.resolve_alias(alias)).collect()}
    assert hot_id not in pre

    # Merge + atomic alias repoint (one maintenance tick).
    gen2 = str(tmp_path / "idx_gen2")
    ix.apply_epoch_deltas(spark, ix.resolve_alias(alias), epochs, gen2)
    ix.write_alias(alias, gen2)

    post = ix.bm25_from_index(spark, ix.resolve_alias(alias)).collect()
    assert post[0].doc_id == hot_id, "freshly indexed doc must rank first"
    # Old generation remains intact (readers mid-flight + rollback).
    assert hot_id not in {
        r.doc_id for r in ix.bm25_from_index(spark, gen1).collect()}

    # Tick 2: an UPDATE through the same loop — the hot doc is re-indexed
    # to PUNCTUATION-ONLY text (zero tokens after analysis; carried by the
    # epoch doc manifest, not by any postings row); after merge+swap it
    # must vanish from the result while the doc count stays constant —
    # an emptied document is still an indexed document (ES semantics).
    spark.createDataFrame([(hot_id, "?!...", 2)],
                          "doc_id long, text string, ver long") \
        .write.mode("append").parquet(src)
    q = start_index_stream(spark, src, epochs, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    gen3 = str(tmp_path / "idx_gen3")
    ix.apply_epoch_deltas(spark, ix.resolve_alias(alias), epochs, gen3)
    ix.write_alias(alias, gen3)
    final = {r.doc_id for r in
             ix.bm25_from_index(spark, ix.resolve_alias(alias)).collect()}
    assert hot_id not in final
    assert ix.index_stats(gen3)["n_docs"] == ix.index_stats(gen2)["n_docs"]

def test_streaming_percolate_alerts_match_batch_semantics(spark, sf_dir, tmp_path):
    """The percolator as an alerting STREAM: stored AND-queries registered
    up front; each micro-batch of documents emits (doc_id, query_id)
    alert epochs. Alerts must equal the batch AND-semantics over the same
    docs, analyzer included; an idle tick adds nothing; a second batch
    alerts independently."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_percolate_stream,
    )

    stored = spark.createDataFrame(
        [(0, "spark"), (0, "join"), (1, "window"), (2, "spark"), (2, "nosuchtoken")],
        "query_id long, token string")
    src = str(tmp_path / "src")
    alerts = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [(1, "Spark JOIN ahead"),          # q0 (analyzer folds case)
         (2, "the window, the window"),    # q1
         (3, "spark alone"),               # none (q2 needs nosuchtoken too)
         (4, "nothing at all")],
        "doc_id long, text string")
    batch1.write.mode("append").parquet(src)
    q = start_percolate_stream(spark, src, stored, alerts, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"

    got = {(r.doc_id, r.query_id)
           for r in spark.read.parquet(alerts).select("doc_id", "query_id").collect()}
    assert got == {(1, 0), (2, 1)}

    # idle tick: no new files, no new alerts
    q = start_percolate_stream(spark, src, stored, alerts, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    assert spark.read.parquet(alerts).count() == 2

    # batch 2: one more match for q1
    spark.createDataFrame([(9, "a Window!")], "doc_id long, text string") \
        .write.mode("append").parquet(src)
    q = start_percolate_stream(spark, src, stored, alerts, ckpt)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = {(r.doc_id, r.query_id)
           for r in spark.read.parquet(alerts).select("doc_id", "query_id").collect()}
    assert got == {(1, 0), (2, 1), (9, 1)}


def test_epochs_layout_marker_refuses_foreign_directory(spark, tmp_path):
    """A populated epochs directory without (or with a wrong) layout marker
    must be refused by both the stream writer and the merged readers — a
    v2 writer resumed over a pre-marker layout would otherwise write
    beside the old epochs and silently drop them at read time."""
    import os

    from elasticsearch_hbase_river_spark.streaming.epochs import (
        EPOCHS_LAYOUT_VERSION,
    )
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_epoch_docs,
        read_inverted_index,
        start_index_stream,
    )

    # old-layout directory: epoch partitions directly under the root
    old = tmp_path / "old_index"
    (old / "epoch=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="layout"):
        read_inverted_index(spark, str(old))
    with pytest.raises(ValueError, match="layout"):
        read_epoch_docs(spark, str(old))

    # the stream writer stamps fresh directories and then reads fine
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    spark.createDataFrame([(1, "spark join window", None)],
                          "doc_id long, text string, ver long") \
        .write.mode("append").parquet(src)
    q = start_index_stream(spark, src, index, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120), "stream did not drain in 120s"
    assert os.path.exists(os.path.join(index, "_epochs_meta.json"))
    assert read_inverted_index(spark, index).count() == 3

    # a marker-less directory that already HAS the v2 shape (postings/ +
    # docs/, no epoch=N at root — written by this engine just before the
    # marker existed) is stamped in place, not refused
    meta = os.path.join(index, "_epochs_meta.json")
    os.remove(meta)
    assert read_inverted_index(spark, index).count() == 3
    assert os.path.exists(meta)
    with open(meta) as f:
        assert json.load(f)["layout"] == EPOCHS_LAYOUT_VERSION

    # a future-version marker is refused too (no silent downgrade)
    with open(meta, "w") as f:
        json.dump({"layout": EPOCHS_LAYOUT_VERSION + 1}, f)
    with pytest.raises(ValueError, match="layout"):
        read_inverted_index(spark, index)

    # a FOREIGN marker-less directory that merely shares the two subdir
    # NAMES (postings/ + docs/ with no epoch=N children — some other
    # tool's output) is refused, not adopted: the in-place stamp demands
    # the epoch=N partition shape only this writer produces
    foreign = tmp_path / "foreign"
    (foreign / "postings").mkdir(parents=True)
    (foreign / "docs").mkdir()
    (foreign / "postings" / "data.parquet").touch()
    with pytest.raises(ValueError, match="layout"):
        read_inverted_index(spark, str(foreign))
    assert not os.path.exists(str(foreign / "_epochs_meta.json"))


def test_stream_sink_applies_custom_mapping(spark, sf_dir, tmp_path):
    """The streaming river's parquet sink lands exactly the mapped schema
    of the batch tick's sink."""
    from elasticsearch_hbase_river_spark.plans.pipeline import run_once

    cfg = RiverConfig(
        table="events", index="river", type_name="doc", column_separator="::",
        interval_ms=1000,
        custom_mapping="doc_id STRING, doc_ts_ms LONG, doc_json STRING, "
                       "ingest_tag STRING")
    src, sink = str(tmp_path / "src_map"), str(tmp_path / "sink_map")
    _write_cells(spark, sf_dir, src)
    q = start_river_stream(spark, cfg, src, sink, str(tmp_path / "ckpt"),
                           available_now=True)
    assert q.awaitTermination(120), "stream did not drain in 120s"
    tick_sink = str(tmp_path / "tick_sink")
    run_once(spark, cells_from_events(spark, sf_dir), cfg, tick_sink)

    def shape(path):
        return [(f.name, f.dataType.simpleString())
                for f in spark.read.parquet(path).schema.fields]

    assert shape(sink) == [
        ("doc_id", "string"), ("doc_ts_ms", "bigint"),
        ("doc_json", "string"), ("ingest_tag", "string")]
    assert shape(sink) == shape(tick_sink)
    assert spark.read.parquet(sink).count() == 1000


def test_every_river_entry_point_writes_one_document_per_id(spark, tmp_path):
    """Rows r1 and r2 resolve to one id at one timestamp and r3's cell has
    no timestamp. The tick, both stream sinks and the stream over a
    cellstore all run the tick's plan: one document for the id, r2's (the
    ``row_key`` tiebreak), and nothing for r3."""
    from elasticsearch_hbase_river_spark.plans.pipeline import run_once
    from elasticsearch_hbase_river_spark.sources import cellstore

    cells = spark.createDataFrame(
        [("r1", "f", "id", "X", 100), ("r1", "f", "v", "one", 100),
         ("r2", "f", "id", "X", 100), ("r2", "f", "v", "two", 100),
         ("r3", "f", "id", "Z", None)],
        "row_key string, family string, qualifier string, value string, "
        "ts_ms long")
    cfg = RiverConfig(table="t", index="i", type_name="d",
                      column_separator="::", id_field="f::id")
    src, store = str(tmp_path / "src"), str(tmp_path / "store")
    cells.coalesce(1).write.parquet(src)
    cellstore.write_cellstore(cells, store, n_regions=1)

    def drained(q):
        assert q.awaitTermination(120), "stream did not drain in 120s"

    def parquet_docs(path):
        return sorted((r.doc_id, r.doc_ts_ms, r.doc_json)
                      for r in spark.read.parquet(path).collect())

    def bulk_docs(lines):
        return sorted((json.loads(a)["index"]["_id"],
                       json.loads(a)["index"]["_timestamp"], doc)
                      for a, doc in zip(lines[0::2], lines[1::2]))

    run_once(spark, cells, cfg, str(tmp_path / "tick"))
    drained(start_river_stream(spark, cfg, src, str(tmp_path / "stream"),
                               str(tmp_path / "ckpt_p"), available_now=True))
    es = str(tmp_path / "es")
    drained(start_river_stream(spark, cfg, src, es,
                               str(tmp_path / "ckpt_e"), available_now=True,
                               sink_format="es_bulk"))
    drained(start_river_stream(spark, cfg, store, str(tmp_path / "bulk"),
                               str(tmp_path / "ckpt_c"), available_now=True,
                               sink_format="es_bulk"))

    want = [("X", 100, '{"f":{"id":"X","v":"two"}}')]
    assert parquet_docs(str(tmp_path / "tick")) == want
    assert parquet_docs(str(tmp_path / "stream")) == want
    assert bulk_docs(bulksink.committed_lines(es)) == want
    assert bulk_docs(bulksink.committed_lines(str(tmp_path / "bulk"))) == want


def _replay_index(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_inverted_index, start_index_stream,
    )

    src, root = str(tmp_path / "src"), str(tmp_path / "index")
    spark.createDataFrame(
        [(i, f"spark join w{i % 5}", None) for i in range(40)],
        "doc_id long, text string, ver long") \
        .repartition(2).write.parquet(src)
    return (lambda ckpt: start_index_stream(spark, src, root, ckpt),
            root, "postings",
            lambda: [read_inverted_index(spark, root)])


def _replay_nested(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.operators.nesteddoc import (
        read_nested_epochs, sparse_cells,
    )
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_nested_index_stream,
    )

    src, root = str(tmp_path / "src"), str(tmp_path / "nested")
    sparse_cells(spark, sf_dir).repartition(2, "row_key").write.parquet(src)
    return (lambda ckpt: start_nested_index_stream(
                spark, src, root, ckpt, files_per_trigger=1),
            root, "docs",
            lambda: list(read_nested_epochs(spark, root)))


def _replay_vector(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_vector_deltas, start_vector_stream,
    )

    src, root = str(tmp_path / "src"), str(tmp_path / "vdelta")
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3, None) for i in range(40)],
        "vec_id long, embedding array<float>, label int, ver long") \
        .repartition(2).write.parquet(src)
    return (lambda ckpt: start_vector_stream(spark, src, root, ckpt),
            root, "", lambda: [read_vector_deltas(spark, root)])


def _replay_percolate(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_percolate_stream,
    )

    src, root = str(tmp_path / "src"), str(tmp_path / "alerts")
    spark.createDataFrame(
        [(i, f"spark join w{i % 5}") for i in range(40)],
        "doc_id long, text string").repartition(2).write.parquet(src)
    stored = spark.createDataFrame(
        [(0, "spark"), (0, "join"), (1, "w3")], "query_id long, token string")
    return (lambda ckpt: start_percolate_stream(spark, src, stored, root,
                                                ckpt),
            root, "", lambda: [spark.read.parquet(root)])


def _replay_esql(spark, sf_dir, tmp_path):
    from elasticsearch_hbase_river_spark.sources.tables import load_table
    from elasticsearch_hbase_river_spark.streaming.epochs import read_feed
    from elasticsearch_hbase_river_spark.streaming.esql_stream import (
        read_esql_stream_result, start_esql_stream,
    )

    text = ("FROM ev | STATS n = COUNT(*), total = ROUND(SUM(value), 4) "
            "BY event_type | SORT event_type")
    src, root = str(tmp_path / "src"), str(tmp_path / "state")
    (load_table(spark, sf_dir, "events")
     .select("event_id", "event_type", "value")
     .repartition(2).write.parquet(src))
    schema = spark.read.parquet(src).schema
    return (lambda ckpt: start_esql_stream(
                spark, text, read_feed(spark, src, schema,
                                       files_per_trigger=1), root, ckpt),
            root, "partials",
            lambda: [read_esql_stream_result(spark, text, root)])


@pytest.mark.parametrize("setup", [
    _replay_index, _replay_nested, _replay_vector, _replay_percolate,
    _replay_esql], ids=["index", "nested", "vector", "percolate", "esql"])
def test_replayed_batch_rewrites_its_own_epoch(spark, sf_dir, tmp_path,
                                               setup):
    """A crash between the epoch write and the checkpoint commit makes
    Spark re-run the batch under the same id; the epoch overwrite must
    leave the epoch set and the merged read exactly as they were."""
    import os

    from elasticsearch_hbase_river_spark.streaming.epochs import epoch_ids

    start, root, sub, reads = setup(spark, sf_dir, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start(ckpt)
        assert q.awaitTermination(240), "stream did not drain in 240s"
        return (epoch_ids(root, sub),
                [sorted(map(repr, df.collect())) for df in reads()])

    before = drain()
    last = max(before[0])
    last_dir = os.path.join(root, sub, f"epoch={last}")
    files = set(os.listdir(last_dir))
    commits = os.path.join(ckpt, "commits")
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))

    assert drain() == before
    # the batch really ran again: its epoch holds freshly written files
    assert set(os.listdir(last_dir)) != files
    assert os.path.exists(os.path.join(commits, str(last)))
