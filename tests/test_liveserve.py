"""Decoupled compaction: live (base + unmerged epochs) serving semantics.

The oracle gate proves single-epoch live BM25 == post-churn rebuild
(q_bm25_live); these tests pin what the gate can't reach: multi-epoch
latest-wins with updates AND brand-new docs, emptied documents, and the
cadence policy counters."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.operators import liveserve as lv
from elasticsearch_hbase_river_spark.operators.indexed_search import (
    bm25_from_index,
    build_index,
)
from elasticsearch_hbase_river_spark.operators.search import inverted_postings
from elasticsearch_hbase_river_spark.streaming.epochs import (
    stamp_epochs_layout,
    write_epoch,
)


def _write_epoch(spark, epochs_dir: str, epoch: int, docs) -> None:
    """One index epoch built independently of the stream's part builder,
    so a drift in ``index_epoch_parts`` cannot hide in the expectation."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    write_epoch(epochs_dir, epoch, {
        "postings": inverted_postings(df),
        "docs": df.select(
            "doc_id",
            F.size(analyze_tokens(F.col("text"))).cast("long").alias("dl")),
    })
    stamp_epochs_layout(epochs_dir)


def test_live_bm25_equals_rebuild_across_epochs(spark, tmp_path):
    """Two epochs of churn — an update superseded by a later update, a
    brand-new doc, and a doc emptied to zero tokens — served live must be
    row-identical to a full index rebuild over the final corpus."""
    base_docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "spark spark table"),
         (3, "window group join"), (5, "spark filter")],
        "doc_id long, text string")
    base = str(tmp_path / "base_idx")
    build_index(spark, base_docs, base)

    epochs = str(tmp_path / "epochs")
    # epoch 0: doc 2 updated; doc 4 is new
    _write_epoch(spark, epochs, 0,
                 [(2, "join join window"), (4, "spark join")])
    # epoch 1: doc 2 updated AGAIN (supersedes epoch 0); doc 5 emptied
    _write_epoch(spark, epochs, 1, [(2, "spark window"), (5, "")])

    final_docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "spark window"),
         (3, "window group join"), (4, "spark join"), (5, "")],
        "doc_id long, text string")
    rebuilt = str(tmp_path / "rebuilt_idx")
    build_index(spark, final_docs, rebuilt)

    terms = ("spark", "join")
    live = sorted(map(tuple, lv.bm25_live(
        spark, base, epochs, terms=terms, top=10).collect()))
    want = sorted(map(tuple, bm25_from_index(
        spark, rebuilt, terms=terms, top=10).collect()))
    assert live == want


def test_compaction_policy_counts_pending_epochs(spark, tmp_path):
    epochs = str(tmp_path / "epochs")
    assert lv.pending_epochs(epochs) == 0
    assert not lv.compaction_due(epochs, every_n=3)
    for e in range(3):
        _write_epoch(spark, epochs, e, [(1, f"spark v{e}")])
        if e < 2:
            assert not lv.compaction_due(epochs, every_n=3), e
    assert lv.pending_epochs(epochs) == 3
    assert lv.compaction_due(epochs, every_n=3)


def test_live_epochs_fixture_is_idempotent(spark, sf_dir, tmp_path,
                                           monkeypatch):
    monkeypatch.setenv("RIVER_INDEX_ROOT", str(tmp_path / "root"))
    p1 = lv.ensure_live_epochs(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(p1, "_epochs_meta.json"))
    p2 = lv.ensure_live_epochs(spark, sf_dir)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_epochs_meta.json")) == mtime
    assert lv.pending_epochs(p1) == 1


def test_changed_dbuckets_bounded_collect_and_storm_saturation(spark):
    """The live/merge paths' bucket-pruning literals: delta-sized churn
    yields a small IN-list; an epoch storm saturates to None (full base
    read) instead of a per-doc driver collect / giant plan literal."""
    from elasticsearch_hbase_river_spark.operators import indexed_search as ix

    small = spark.range(1).select(F.col("id").alias("doc_id"))
    bs = ix.changed_dbuckets(small)
    assert isinstance(bs, list) and len(bs) == 1

    storm = spark.range(500).select(F.col("id").alias("doc_id"))
    assert ix.changed_dbuckets(storm) is None  # all 32 buckets touched


def test_live_bm25_full_churn_storm_equals_rebuild(spark, tmp_path):
    """Pathological churn: ONE epoch re-indexes every document in the
    corpus (every dbucket touched -> the pruning guard degrades to an
    unpruned base read). Live serving must still be row-identical to a
    full rebuild over the post-storm corpus."""
    from elasticsearch_hbase_river_spark.operators import indexed_search as ix

    n = 500
    base_docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("spark join window doc "),
                 F.col("id").cast("string")).alias("text"))
    base = str(tmp_path / "storm_base")
    build_index(spark, base_docs, base)

    storm_docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit("join join window"))
         .when(F.col("id") % 3 == 1, F.lit("spark filter table"))
         .otherwise(F.lit("")).alias("text"))
    epochs = str(tmp_path / "storm_epochs")
    _write_epoch(spark, epochs, 0,
                 [(int(r.doc_id), r.text) for r in storm_docs.collect()])
    # precondition: the storm really does saturate the guard
    assert ix.changed_dbuckets(
        storm_docs.select("doc_id")) is None

    rebuilt = str(tmp_path / "storm_rebuilt")
    build_index(spark, storm_docs, rebuilt)

    terms = ("spark", "join")
    live = sorted(map(tuple, lv.bm25_live(
        spark, base, epochs, terms=terms, top=20).collect()))
    want = sorted(map(tuple, bm25_from_index(
        spark, rebuilt, terms=terms, top=20).collect()))
    assert live == want
