"""Materialized (persistent) vector index — ES kNN search done lake-native.

Modern Elasticsearch serves `knn` queries from a PERSISTENT vector index
built at ingest time, exactly like its inverted index; the reference's
product is maintaining such derived search structures next to the source
table (`HBaseParser.java:135-162`, `HBaseRiver.java:1-35`). The engine's
`operators/similarity.py` proves the ANN query semantics but re-derives
centroids and re-buckets the corpus on every call; this module materializes
the IVF structure ONCE and makes the ANN query read it — index build
separated from query, the ES operational model.

Layout (a directory of portable parquet, same discipline as
`indexed_search.py`):

- ``cells/cell=<id>/`` — (vec_id, embedding, enorm): the corpus partitioned
  by coarse-quantizer cell (the IVF "inverted lists"). A query probes its
  ``N_PROBE`` nearest cells and reads ONLY those directories —
  storage-level partition pruning is the inverted-list seek of a real IVF
  index. At 100 TB: thousands of cells; the pruning ratio
  (``N_PROBE/N_CELLS``) is what bounds query cost, not corpus size.
- ``centroids/`` — (cell, centroid, cnorm): the coarse quantizer. Tiny
  (k × dim doubles); always broadcast.
- ``_vindex_meta.json`` — fingerprint + cell count; published atomically
  (tmp dir + rename — concurrent builders race safely, readers never see a
  partial index).

The coarse quantizer matches ``q_ann_ivf``'s (per-label centroids, means
rounded to 4 decimals for cross-engine determinism), so
``q_ann_ivf_indexed`` reuses that query's DuckDB oracle VERBATIM — the
correctness gate proves index-read == per-query rebuild, hash-for-hash.

Maintenance without full rebuild: ``upsert_vectors`` merges a delta batch
latest-version-wins by ``vec_id`` (ES upsert semantics), reassigns ONLY the
delta rows to cells, and refreshes the centroid table — the merge never
reshuffles unchanged cells' files at scale (here the rewrite is per touched
cell partition).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.artifacts import artifact_path, publish_dir
from elasticsearch_hbase_river_spark.functions.determinism import roundn_col
from elasticsearch_hbase_river_spark.operators.similarity import (
    IVF_TOP_K,
    N_PROBE,
    N_QUERIES,
    _dot,
    _norm,
)
from elasticsearch_hbase_river_spark.operators.similarity import (
    ORACLES as _SIM_ORACLES,
)
from elasticsearch_hbase_river_spark.sources.tables import (
    load_table,
    read_immutable,
)

META = "_vindex_meta.json"
_DEFAULT_ROOT = os.path.join(tempfile.gettempdir(), "river_vector_index")


def vindex_path_for(sf_dir: str) -> str:
    return artifact_path(os.environ.get("RIVER_VINDEX_ROOT", _DEFAULT_ROOT),
                         sf_dir, "embeddings")


def _centroids_of(cells: DataFrame) -> DataFrame:
    """(cell, centroid, cnorm) from a (cell, embedding) relation: per-cell
    per-dimension means (rounded for cross-engine determinism), rebuilt
    into an ordered array. k × dim partial sums — one posexplode +
    groupBy shuffle, nothing corpus-sized on the driver."""
    return (
        cells.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(roundn_col(F.avg(F.col("v").cast("double")), 4).alias("cv"))
        .groupBy("cell")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                         lambda s: s.cv).alias("centroid"))
        .select("cell", "centroid", _norm(F.col("centroid")).alias("cnorm"))
    )


def _publish(spark: SparkSession, assigned: DataFrame, path: str) -> None:
    """Land (cell, vec_id, embedding) in the serving layout atomically
    (``publish_dir``). One repartition on the cell key so each writer task
    owns whole cells; ``enorm`` is precomputed at build time so queries
    never re-fold the array for the norm. An occupied ``path`` (e.g.
    ``upsert_vectors`` into an existing out_path) is a caller error,
    refused before the build: conceding it would leave the STALE index
    standing in for the merge the caller asked for."""
    if os.path.exists(os.path.join(path, META)):
        raise FileExistsError(
            f"{path} already holds a vector index; publish into a fresh "
            "path")

    def _build(tmp: str) -> dict:
        (assigned
         .select("cell", "vec_id", "embedding",
                 _norm(F.col("embedding")).alias("enorm"))
         .repartition("cell")
         .write.mode("overwrite").partitionBy("cell")
         .parquet(os.path.join(tmp, "cells")))
        landed = spark.read.parquet(os.path.join(tmp, "cells"))
        (_centroids_of(landed).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(tmp, "centroids")))
        n_cells = spark.read.parquet(os.path.join(tmp, "centroids")).count()
        return {"n_cells": int(n_cells)}

    publish_dir(path, META, {}, _build)


def build_vector_index(spark: SparkSession, emb: DataFrame, path: str) -> None:
    """Materialize the IVF layout from a (vec_id, embedding, label) corpus.
    The coarse quantizer assigns cell = label (matching ``q_ann_ivf``'s
    per-label centroids; a label-free corpus would run k-means — see
    ``operators/graph.py:q_kmeans`` — and assign by nearest centroid)."""
    _publish(spark, emb.select(F.col("label").alias("cell"),
                               "vec_id", "embedding"), path)


def ensure_vector_index(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent bootstrap keyed on the corpus fingerprint: first query in
    a process pays the build; every later query is a pure index read."""
    path = vindex_path_for(sf_dir)
    if not os.path.exists(os.path.join(path, META)):
        emb = load_table(spark, sf_dir, "embeddings")
        build_vector_index(spark, emb, path)
    return path


def read_cells(spark: SparkSession, path: str,
               cells: list[int] | None = None) -> DataFrame:
    c = read_immutable(spark, os.path.join(path, "cells"))
    if cells is not None:
        c = c.filter(F.col("cell").isin(cells))
    return c.select("cell", "vec_id", "embedding", "enorm")


def read_centroids(spark: SparkSession, path: str) -> DataFrame:
    return read_immutable(spark, os.path.join(path, "centroids"))


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served FROM the materialized index: the probe step scores
    each query against the (broadcast) centroid table; the probed cell ids
    come back to the driver as LITERALS (bounded: ≤ N_QUERIES × N_PROBE
    ints — query planning, not data) and become partition-pruning filters
    on the cells directory, so the exact rerank reads only the probed
    inverted lists. Hash-equal to ``q_ann_ivf`` by the shared oracle."""
    idx = ensure_vector_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qnorm"))
    cent = read_centroids(spark, idx)
    ccos = roundn_col(_dot(F.col("qe"), F.col("centroid"))
                      / (F.col("qnorm") * F.col("cnorm")))
    wq = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("cell"))
    probed = (
        queries.join(F.broadcast(cent))
        .select("qid", "qe", "qnorm", "cell", ccos.alias("ccos"))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= N_PROBE)
        .select("qid", "qe", "qnorm", "cell")
        .localCheckpoint(eager=True)  # read twice: cell literals + join side
    )
    probe_cells = sorted({r[0] for r in probed.select("cell").collect()})
    corpus = read_cells(spark, idx, probe_cells)
    cos = roundn_col(_dot(F.col("qe"), F.col("embedding"))
                     / (F.col("qnorm") * F.col("enorm")))
    wr = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.col("cell").alias("label"),
                cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= IVF_TOP_K)
    )


def upsert_vectors(spark: SparkSession, path: str, delta: DataFrame,
                   out_path: str) -> None:
    """Index maintenance without a full rebuild: merge a (vec_id,
    embedding, label) delta batch into the index latest-version-wins by
    ``vec_id`` (ES upsert semantics), then republish. Only the delta rows
    are (re)assigned to cells; centroids refresh from the merged relation.
    At 100 TB the rewrite touches only the delta's cell partitions — here
    the publish rewrites the directory because the fixture index is tiny."""
    existing = read_cells(spark, path).select("cell", "vec_id", "embedding")
    incoming = delta.select(F.col("label").alias("cell"),
                            "vec_id", "embedding")
    merged = (
        existing.withColumn("v", F.lit(0))
        .unionByName(incoming.withColumn("v", F.lit(1)))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.col("v").desc())))
        .filter(F.col("rn") == 1)
        .select("cell", "vec_id", "embedding")
    )
    _publish(spark, merged, out_path)


QUERIES = {
    "q_ann_ivf_indexed": q_ann_ivf_indexed,
}

#: Same question as q_ann_ivf → same oracle: the gate proves the persistent
#: index serves bit-identical results to the per-query rebuild.
ORACLES = {
    "q_ann_ivf_indexed": _SIM_ORACLES["q_ann_ivf"],
}


# ---------------------------------------------------------------------------
# Hybrid retrieval served from BOTH persistent indexes (postings + vector):
# ES's bm25 ⊕ knn hybrid exactly as it ships — the lexical branch reads the
# materialized inverted index, the semantic branch is the approximate
# (IVF-probed) kNN over the vector index. Its oracle composes the bm25
# oracle with an IVF single-query branch, because ES's hybrid knn IS
# approximate — fusing the brute-force branch would test a different query.


def q_hybrid_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search from the two materialized indexes: BM25 top-20 from
    the postings index (`q_bm25_indexed`) fused via reciprocal-rank fusion
    with IVF-probed cosine top-20 from the vector index. Both branches are
    index reads ending in TakeOrderedAndProject; the fusion is a
    full-outer join of two ≤20-row relations."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        q_bm25_indexed,
    )
    from elasticsearch_hbase_river_spark.operators.retrieval import (
        HYBRID_QVEC,
        HYBRID_TOP,
        RRF_K,
        SEM_TOP,
    )

    lex = q_bm25_indexed(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank"))

    idx = ensure_vector_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == HYBRID_QVEC).select(
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qnorm"))
    cent = read_centroids(spark, idx)
    ccos = roundn_col(_dot(F.col("qe"), F.col("centroid"))
                      / (F.col("qnorm") * F.col("cnorm")))
    probed = (qv.crossJoin(F.broadcast(cent))      # 1-row query side
              .select("cell", ccos.alias("ccos"))
              .orderBy(F.col("ccos").desc(), "cell").limit(N_PROBE))
    probe_cells = sorted(r[0] for r in probed.collect())
    corpus = read_cells(spark, idx, probe_cells)
    cos = roundn_col(_dot(F.col("qe"), F.col("embedding"))
                     / (F.col("qnorm") * F.col("enorm")))
    sem_top = (corpus.filter(F.col("vec_id") != HYBRID_QVEC)
               .crossJoin(F.broadcast(qv))
               .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
               .orderBy(F.col("cosine").desc(), "doc_id").limit(SEM_TOP))
    wsem = Window.orderBy(F.col("cosine").desc(), "doc_id")
    sem = (sem_top.withColumn("sem_rank",
                              F.row_number().over(wsem).cast("long"))
           .select("doc_id", "sem_rank"))

    rrf = roundn_col(
        F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)))
    fused = (lex.join(sem, "doc_id", "full_outer")
             .select("doc_id", rrf.alias("rrf_score"))
             .orderBy(F.col("rrf_score").desc(), "doc_id").limit(HYBRID_TOP))
    w = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return fused.withColumn("rank", F.row_number().over(w).cast("long"))


def _hybrid_indexed_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.determinism import roundn_sql
    from elasticsearch_hbase_river_spark.operators.retrieval import (
        HYBRID_QVEC,
        HYBRID_TOP,
        RRF_K,
        SEM_TOP,
    )
    from elasticsearch_hbase_river_spark.operators.search import (
        ORACLES as _SEARCH_ORACLES,
    )
    from elasticsearch_hbase_river_spark.operators.similarity import (
        _dot_sql,
        _norm_sql,
    )

    sem_ivf = f"""
WITH dims AS (
  SELECT label, i AS pos, {roundn_sql('avg(embedding[i]::DOUBLE)', 4)} AS cv
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i),
cent AS (
  SELECT label, list(cv ORDER BY pos) AS centroid FROM dims GROUP BY label),
centn AS (
  SELECT label, centroid, {_norm_sql('centroid')} AS cnorm FROM cent),
qv AS (
  SELECT embedding AS qe, {_norm_sql('embedding')} AS qnorm
  FROM embeddings WHERE vec_id = {HYBRID_QVEC}),
probe AS (
  SELECT label,
         row_number() OVER (ORDER BY
           {roundn_sql(_dot_sql('qe', 'centroid') + ' / (qnorm * cnorm)')} DESC,
           label) AS crank
  FROM qv, centn),
probed AS (SELECT label FROM probe WHERE crank <= {N_PROBE}),
c AS (
  SELECT vec_id, label, embedding, {_norm_sql('embedding')} AS enorm
  FROM embeddings),
scored AS (
  SELECT vec_id AS doc_id,
         {roundn_sql(_dot_sql('qe', 'embedding') + ' / (qnorm * enorm)')} AS cosine
  FROM c JOIN probed USING (label), qv
  WHERE vec_id <> {HYBRID_QVEC}),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
           AS sem_rank
  FROM scored)
SELECT doc_id, sem_rank FROM ranked WHERE sem_rank <= {SEM_TOP}"""

    return f"""
WITH lex AS (
  SELECT doc_id, rank AS lex_rank FROM ({_SEARCH_ORACLES["q_bm25"]}) b),
sem AS ({sem_ivf}),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         {roundn_sql(f"coalesce(1.0 / ({RRF_K} + lex_rank), 0)"
                     f" + coalesce(1.0 / ({RRF_K} + sem_rank), 0)")}
           AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
ranked AS (
  SELECT doc_id, rrf_score,
         CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
           AS rank
  FROM fused)
SELECT * FROM ranked WHERE rank <= {HYBRID_TOP}"""


QUERIES["q_hybrid_search_indexed"] = q_hybrid_search_indexed
ORACLES["q_hybrid_search_indexed"] = _hybrid_indexed_oracle()
