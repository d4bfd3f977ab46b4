"""Streaming river: the reference's polling scheduler re-expressed as a
Structured Streaming query.

Reference mapping (SURVEY.md §2.1 rows 15, 11, 4; §3.3):

- scheduler loop, first run immediate then every ``interval`` ms
  (HBaseParser.java:49-73)            -> ``Trigger.ProcessingTime`` /
                                         ``availableNow`` for drain-and-stop
- micro-batched bulk sink (HBaseParser.java:135-162)
                                      -> ``foreachBatch`` upsert writer
- incremental watermark from the sink (HBaseParser.java:258-280)
                                      -> checkpointed source offsets (the
                                         idiomatic replacement; sink-max
                                         lookup stays a recovery path —
                                         SURVEY.md §7 "hard parts")
- ``stopThread`` clean shutdown (HBaseParser.java:249-251, :53-70)
                                      -> ``StreamingQuery.stop()``

Every micro-batch runs the tick's own document plan
(``plans/pipeline.py:river_tick_plan`` with no watermark): the same scope,
null-``ts_ms`` rule, assembly and latest-wins-per-id rank as ``run_once``,
whatever the trigger.

The source is a stream of cells in the canonical cells schema, chosen by
what the source directory holds when the stream starts: a ``cellstore``
(its ``_cellstore_manifest.json`` is present) streams through the
connector's incremental scanner, each micro-batch the delta above the
checkpointed ts offset (HBaseParser.java:258-280); anything else is a
parquet file stream. In production this is Kafka/CDC — the transform chain
is source-agnostic because it only sees the canonical cells schema.

Limitation: the stream keeps no watermark of what it already indexed, so a
late cell (ts at or below an indexed document's) becomes a new document in
a later micro-batch, where the tick would drop it. The parquet sink's
read-time latest-wins hides this; the ``es_bulk`` files replay in arrival
order, so the older document is indexed last.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from elasticsearch_hbase_river_spark.config import RiverConfig
from elasticsearch_hbase_river_spark.operators.bulk_sink import (
    es_bulk_lines,
    write_bulk,
)
from elasticsearch_hbase_river_spark.plans.pipeline import (
    apply_sink_mapping,
    river_tick_plan,
)
from elasticsearch_hbase_river_spark.sources import bulksink, cellstore
from elasticsearch_hbase_river_spark.sources.formats import CELLS_SCHEMA
from elasticsearch_hbase_river_spark.streaming.epochs import (
    _check_epochs_layout,
    _check_nested_epochs_layout,
    _stamp_nested_epochs_layout,
    read_feed,
    stamp_epochs_layout,
    start_batches,
    write_epoch,
)


def read_cells_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of cells."""
    return read_feed(spark, source_dir, CELLS_SCHEMA, max_files_per_trigger)


def start_river_stream(
    spark: SparkSession,
    config: RiverConfig,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    sink_format: str = "parquet",
) -> StreamingQuery:
    """Start the streaming river. ``available_now=True`` drains the backlog
    and stops (the testable mode); otherwise triggers every
    ``config.interval_ms`` like the reference's scheduler.

    ``source_dir`` is a ``cellstore`` if it holds the store's manifest when
    the stream starts, else a directory of parquet cell files. Family and
    qualifier restrictions apply inside the tick's plan either way.

    ``sink_format``: ``"parquet"`` (columnar sink) or ``"es_bulk"`` —
    micro-batches land as Elasticsearch bulk-request files (action/source
    line pairs, one file per ≤ batchSize docs), the closest file-sink
    analog of the reference's per-batch bulk RPC (HBaseParser.java:162).
    The bulk files publish through the ``bulksink`` manifest with the
    micro-batch id as the epoch, so a replayed batch (crash between sink
    write and checkpoint commit) publishes exactly once; read them with
    ``bulksink.committed_lines``. The parquet sink has the tick sink's
    schema (``run_once``), one row group per ≤ batchSize docs. Any other
    ``sink_format`` raises ``ValueError`` before the query starts."""
    if sink_format not in ("parquet", "es_bulk"):
        raise ValueError(f"sink_format must be 'parquet' or 'es_bulk', "
                         f"got {sink_format!r}")
    if os.path.exists(os.path.join(source_dir, cellstore.MANIFEST)):
        cellstore.register(spark)
        cells = (spark.readStream.format("cellstore")
                 .option("path", source_dir).load())
    else:
        cells = read_cells_stream(spark, source_dir)
    if sink_format == "es_bulk":
        bulksink.register(spark)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch = the bulk writer (HBaseParser.java:135-162). Within
        # a micro-batch the tick's plan keeps one document per id; across
        # batches, append + read-time latest-wins (a real system MERGEs
        # into Delta/Iceberg).
        docs = river_tick_plan(batch_df, config, None)
        if sink_format == "es_bulk":
            (es_bulk_lines(docs, config.index, config.type_name)
             .select("bulk").write.format("bulksink")
             .option("path", sink_dir)
             .option("batch_size", config.batch_size)
             .option("epoch", batch_id)
             .mode("append").save())
        else:
            # the tick sink's schema; the checkpoint's commit log records
            # each micro-batch
            write_bulk(apply_sink_mapping(docs, config), sink_dir,
                       config.batch_size)

    return start_batches(cells, upsert_batch, checkpoint_dir, available_now,
                         config.interval_ms)


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance: the reference's raison d'être (keep a
# search index in sync with a changing table, HBaseRiver.java:1-35) applied
# to the NATIVE index surface (operators/search.py) instead of an external
# Elasticsearch.

DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    # Optional monotonic version stamp from the producer. Parquet feeds
    # written without this column read as NULL (ordinary schema evolution),
    # so pre-existing (doc_id, text) feeds keep working.
    StructField("ver", LongType()),
])


def start_index_stream(spark: SparkSession, docs_source_dir: str,
                       index_dir: str, checkpoint_dir: str,
                       available_now: bool = True,
                       mode: str = "ascii") -> StreamingQuery:
    """Maintain the positional inverted index incrementally: each
    micro-batch of (doc_id, text) documents is aggregated with the SAME
    postings build the batch query uses (`operators/search.py:
    inverted_postings` — per-doc postings are complete within the batch
    that carries the doc) and lands as one epoch partition of the index.

    Exactly-once: the delta is written with per-epoch overwrite
    (``.../epoch=<id>``), so a replayed micro-batch rewrites its own
    partition instead of double-appending — the same epoch-idempotent
    publication discipline as the bulk sink. Document UPDATES re-emit the
    doc_id in a later epoch; ``read_inverted_index`` resolves
    latest-version-wins at read time (ES upsert semantics mirrored to the
    index). When several versions of one doc land in the SAME micro-batch
    (two source files between triggers), the batch itself arbitrates
    latest-wins BEFORE the postings build — aggregating across versions
    would merge two texts into one corrupted posting. The authoritative
    arbitration key is the feed's explicit ``ver`` column (monotonic
    producer stamp, NULL-tolerant); only feeds WITHOUT it fall back to
    file order (modification time, then path). The fallback is
    deterministic but arbitrary when two versions share one mtime
    (millisecond granularity) — part filenames embed random job UUIDs, so
    path order carries no version information. Producers that can emit
    same-millisecond updates must stamp ``ver``."""
    # _metadata must be projected on the SOURCE — foreachBatch frames only
    # carry the selected columns, and the file order is the version order.
    docs = (read_feed(spark, docs_source_dir, DOCS_SCHEMA)
            .select("doc_id", "text", "ver",
                    F.col("_metadata.file_modification_time").alias("_mtime"),
                    F.col("_metadata.file_path").alias("_path")))

    def build_delta(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        # foreachBatch runs driver-side: refuse a foreign-layout (or
        # mode-mismatched) epochs directory BEFORE writing beside it,
        # then stamp the marker with this stream's analyzer mode.
        _check_epochs_layout(index_dir, mode=mode)
        stamp_epochs_layout(index_dir, mode=mode)

        w = Window.partitionBy("doc_id").orderBy(
            F.col("ver").desc_nulls_last(),
            F.col("_mtime").desc(), F.col("_path").desc(),
            F.col("text").desc())
        latest = (batch_df.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).select("doc_id", "text")
                  .persist())
        # Same analyzer-scope guard as build_index: without it the
        # STREAM would index documents the batch builder refuses —
        # rebuild failing loudly while maintenance degrades silently.
        # Batches are delta-sized, so the full check is cheap per tick.
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            assert_analyzable_corpus,
        )
        assert_analyzable_corpus(latest, mode=mode)
        write_epoch(index_dir, batch_id, index_epoch_parts(latest, mode))
        latest.unpersist()

    return start_batches(docs, build_delta, checkpoint_dir, available_now)


def index_epoch_parts(latest_docs: DataFrame,
                      mode: str = "ascii") -> dict[str, DataFrame]:
    """One index epoch from latest-wins ``(doc_id, text)`` documents:
    ``postings`` (the batch index build's own aggregate) and the ``docs``
    manifest — one row per document INCLUDING zero-token ones (an update
    that empties a doc has no postings rows but must still register as a
    change, and the doc still counts toward N / avgdl — ES indexes empty
    documents). The manifest is also the latest-epoch arbitration
    authority for the merged read."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        tokens_for_mode,
    )
    from elasticsearch_hbase_river_spark.operators.search import (
        inverted_postings,
    )

    return {
        "postings": inverted_postings(latest_docs, mode),
        "docs": latest_docs.select(
            "doc_id",
            F.size(tokens_for_mode(F.col("text"), mode)).cast("long")
            .alias("dl")),
    }


def read_inverted_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged index with latest-version-wins per document: postings are
    kept only from each doc_id's newest epoch (a doc's re-index supersedes
    all its older postings, exactly like an ES upsert replaces the old
    document). Arbitration reads the DOC MANIFEST, not the postings —
    a doc whose newest version has zero tokens keeps NO postings (its
    manifest epoch outranks every postings epoch). The manifest side is
    one row per (doc_id, epoch) — tiny next to the postings, and the join
    is an equi-join on (doc_id, epoch)."""
    _check_epochs_layout(index_dir)
    idx = spark.read.parquet(f"{index_dir}/postings")
    latest = (spark.read.parquet(f"{index_dir}/docs")
              .groupBy("doc_id").agg(F.max("epoch").alias("epoch")))
    return (idx.join(latest, ["doc_id", "epoch"])
            .select("token", "doc_id", "tf", "first_pos", "positions", "dl"))


def read_epoch_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged doc manifest (doc_id, dl), latest epoch wins — the
    authoritative changed-doc set for ``apply_epoch_deltas`` (covers
    zero-token re-indexes that have no postings rows)."""
    from pyspark.sql import Window

    _check_epochs_layout(index_dir)
    d = spark.read.parquet(f"{index_dir}/docs")
    w = Window.partitionBy("doc_id").orderBy(F.col("epoch").desc())
    return (d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("doc_id", "dl"))


# ---------------------------------------------------------------------------
# Fielded (nested-document) index maintenance: the same epoch-delta
# discipline as start_index_stream, for the dynamic-field search surface.

def start_nested_index_stream(spark: SparkSession, cells_source_dir: str,
                              index_dir: str, checkpoint_dir: str,
                              available_now: bool = True,
                              files_per_trigger: int = 16,
                              base_index_dir: str | None = None
                              ) -> StreamingQuery:
    """Maintain the FIELDED (nested-document) index incrementally: each
    micro-batch of CELLS (the river's input unit) melts to dynamic
    fields and lands as one epoch of fielded postings — the streaming
    maintainer for the `operators/nesteddoc.py` search surface, with the
    same exactly-once per-epoch-overwrite discipline as
    ``start_index_stream``.

    Contract: a micro-batch carries COMPLETE rows for its changed
    row_keys (scan batches arrive row-grouped, HBaseParser.java:101-110
    — the same assumption the pipeline's assemble makes); within a
    batch, cell versions arbitrate by ts_ms (HBase cell semantics).
    Epoch outputs: ``fpostings/epoch=N`` (the batch docs' fielded
    postings), ``fdl/epoch=N`` (per doc/field analyzed lengths),
    ``docs/epoch=N`` (one row per changed doc — the arbitration
    authority, covering re-indexes that emptied every analyzable
    field). Readers resolve latest-epoch-wins per doc
    (`nesteddoc.read_nested_epochs`); serving between compactions is
    `nesteddoc.nested_field_search_live`. ``files_per_trigger`` bounds
    the micro-batch (= epoch) size; lifecycle tests set 1 so one
    availableNow drain crosses real batch boundaries."""
    cells = read_cells_stream(spark, cells_source_dir,
                              max_files_per_trigger=files_per_trigger)

    def build_delta(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        _check_nested_epochs_layout(index_dir)
        _stamp_nested_epochs_layout(index_dir)
        w = Window.partitionBy("row_key", "family", "qualifier").orderBy(
            F.col("ts_ms").desc(), F.col("value").desc())
        latest = (batch_df.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).drop("rn").persist())
        # analyzer-scope guard on the VALUE column (the nested index
        # analyzes cell values) — see the docs-stream twin above
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            assert_ascii_corpus,
        )
        assert_ascii_corpus(latest, col="value")
        write_epoch(index_dir, batch_id, nested_epoch_parts(latest))
        # length-stats sidecar (nesteddoc.write_nested_epoch_stats_sidecar):
        # per-field (n_r, s_r, n_a, s_a) vs the live view just before this
        # epoch, so serving never re-derives the base removal per query.
        # Only written when a base index exists alongside the epochs (the
        # maintainer can also run before any base build; serving then uses
        # the fallback derivation).
        if base_index_dir is not None:
            from elasticsearch_hbase_river_spark.operators.nesteddoc import (
                write_nested_epoch_stats_sidecar,
            )

            write_nested_epoch_stats_sidecar(
                spark, base_index_dir, index_dir, batch_id)
        latest.unpersist()

    return start_batches(cells, build_delta, checkpoint_dir, available_now)


def nested_epoch_parts(latest_cells: DataFrame) -> dict[str, DataFrame]:
    """One nested epoch from latest-wins cells: fielded postings
    (``fpostings``), per doc/field analyzed lengths (``fdl``) and the
    changed-doc manifest (``docs``, one row per row key — the
    arbitration authority, covering re-indexes that emptied every
    analyzable field)."""
    from elasticsearch_hbase_river_spark.operators.nesteddoc import (
        _field_dl,
        _fpostings,
        fielded_cells_from,
    )

    fc = fielded_cells_from(latest_cells)
    return {
        "fpostings": _fpostings(fc),
        "fdl": _field_dl(fc),
        "docs": latest_cells.select(F.col("row_key").alias("doc_id"))
        .distinct(),
    }


VEC_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    # float32 embeddings, matching the embeddings fixture dtype
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
    # Optional monotonic producer version stamp (same contract as
    # DOCS_SCHEMA.ver): feeds without it read as NULL.
    StructField("ver", LongType()),
])


def start_vector_stream(spark: SparkSession, vec_source_dir: str,
                        delta_dir: str, checkpoint_dir: str,
                        available_now: bool = True) -> StreamingQuery:
    """Maintain the persistent VECTOR index incrementally — the embedding
    twin of ``start_index_stream``: each micro-batch of (vec_id,
    embedding, label) upserts lands as one epoch partition of a delta
    directory, with per-epoch overwrite so a replayed micro-batch
    rewrites its own partition (exactly-once under checkpointing).

    Same-batch duplicate vec_ids arbitrate latest-wins BEFORE landing,
    keyed on the producer ``ver`` stamp (falling back to file mtime/path
    order — deterministic but arbitrary at equal mtimes, same caveat as
    the document feed). Cross-epoch updates resolve at merge time:
    ``read_vector_deltas`` keeps each vec_id's newest epoch, and
    ``apply_vector_deltas`` folds the result into a published index via
    the batch ``upsert_vectors`` — stream and batch maintenance share one
    merge semantics."""
    vecs = (read_feed(spark, vec_source_dir, VEC_SCHEMA)
            .select("vec_id", "embedding", "label", "ver",
                    F.col("_metadata.file_modification_time").alias("_mtime"),
                    F.col("_metadata.file_path").alias("_path")))

    def land_delta(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(
            F.col("ver").desc_nulls_last(),
            F.col("_mtime").desc(), F.col("_path").desc())
        latest = (batch_df.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("vec_id", "embedding", "label"))
        write_epoch(delta_dir, batch_id, {"": latest})

    return start_batches(vecs, land_delta, checkpoint_dir, available_now)


def read_vector_deltas(spark: SparkSession, delta_dir: str) -> DataFrame:
    """The pending vector upserts with latest-version-wins per vec_id
    (newest epoch supersedes older ones). Arbitration joins a per-vec_id
    max-epoch aggregate — one row per touched vector, equi-joined."""
    d = spark.read.parquet(delta_dir)
    latest = d.groupBy("vec_id").agg(F.max("epoch").alias("epoch"))
    return (d.join(latest, ["vec_id", "epoch"])
            .select("vec_id", "embedding", "label"))


def apply_vector_deltas(spark: SparkSession, base_index_dir: str,
                        delta_dir: str, out_dir: str) -> None:
    """Fold the streamed epoch deltas into a published vector index —
    the stream's counterpart of `operators/vector_index.upsert_vectors`
    (which it delegates to, so batch and streaming maintenance provably
    share one merge)."""
    from elasticsearch_hbase_river_spark.operators.vector_index import (
        upsert_vectors,
    )

    upsert_vectors(spark, base_index_dir,
                   read_vector_deltas(spark, delta_dir), out_dir)


def start_percolate_stream(spark: SparkSession, docs_source_dir: str,
                           stored_queries: DataFrame, alerts_dir: str,
                           checkpoint_dir: str,
                           available_now: bool = True) -> StreamingQuery:
    """Streaming percolation — the alerting engine ES's percolator exists
    for: every micro-batch of incoming documents is matched against the
    registered (query_id, token) AND-queries and the hits land as one
    alert epoch ``alerts_dir/epoch=<id>`` with (doc_id, query_id).

    Per batch: analyzed distinct (doc, token) ⋈ broadcast stored terms →
    one partial-aggregated AND count (docs are complete within their
    batch, so the per-batch aggregate is exact — the same reason
    ``start_index_stream`` can build whole postings per epoch). Epoch
    overwrite keeps replays exactly-once. At registration scale the
    broadcast swaps for the canonical-term-set hash join of
    ``q_percolate_indexed`` — same relation shapes. The stored-query
    relation is captured at stream start; re-registering queries means
    restarting the stream, exactly like reloading a percolator index."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )

    docs = read_feed(spark, docs_source_dir, DOCS_SCHEMA).select(
        "doc_id", "text")
    n_terms = (stored_queries.groupBy("query_id")
               .agg(F.count_distinct("token").alias("need")))
    rules = (stored_queries.select("query_id", "token").distinct()
             .join(n_terms, "query_id").persist())
    rules.count()  # materialize once; every batch broadcasts this

    def match(batch_df: DataFrame, batch_id: int) -> None:
        doc_tok = (batch_df.select(
            "doc_id", F.explode(analyze_tokens(F.col("text"))).alias("token"))
            .distinct())
        hits = (doc_tok.join(F.broadcast(rules), "token")
                .groupBy("doc_id", "query_id", "need")
                .agg(F.count(F.lit(1)).alias("got"))
                .filter(F.col("got") == F.col("need"))
                .select("doc_id", "query_id"))
        write_epoch(alerts_dir, batch_id, {"": hits})

    return start_batches(docs, match, checkpoint_dir, available_now)
