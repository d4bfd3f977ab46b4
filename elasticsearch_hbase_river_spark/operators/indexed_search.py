"""Materialized (persistent) search index — the reference's actual product.

The reference's entire purpose is maintaining a PERSISTENT Elasticsearch
index alongside the source table (`HBaseParser.java:135-162` builds and
ships the index documents; the river never re-derives the index per query).
`operators/search.py` proves the query semantics but rebuilds postings from
the corpus on every call; this module materializes the index ONCE and makes
term queries read it — the ES-native separation of index build from query.

Layout v2 (a directory, portable parquet — no session catalog needed, so
the index survives across SparkSessions and processes):

- ``postings/tbucket=<0..31>/`` — (token, doc_id, tf, first_pos, positions,
  **dl**), hash-partitioned on ``pmod(xxhash64(token), 32)``. A term query
  computes its terms' buckets DRIVER-SIDE (pure-Python xxh64 twin,
  `functions/xxh64.py` — zero Spark jobs at plan time) and reads ONLY those
  directories — storage-level partition pruning is the postings-list seek
  of a real inverted index. ``dl`` (the doc's token count) is denormalized
  onto every posting row — Lucene's norms-next-to-postings trick — so
  BM25's length normalization costs no corpus-sized join at query time.
  At 100 TB: more buckets (4096), many files per bucket; the pruning ratio
  is what matters.
- ``tvectors/dbucket=<0..31>/`` — (doc_id, token, tf): the FORWARD index
  (Lucene term vectors), hash-partitioned on the document. Index
  maintenance reads a re-indexed document's OLD term contributions from
  its pruned dbucket instead of re-aggregating the whole postings table.
- ``vocab/tbucket=<0..31>/`` — (token, df, freq): document frequency +
  total term frequency, partitioned like the postings so a term's df
  lookup prunes to one bucket. Fuzzy expansion / suggestions scan the
  (vocab-sized) table.
- ``doclen/dbucket=<0..31>/`` — (doc_id, dl): per-document token counts,
  document-partitioned (maintenance prunes; never a single-file write).
- ``stats/`` — ONE row (n_docs, sum_dl, avgdl), read driver-side (cached
  per index path) and injected into query plans as literals — the way a
  search node holds its segment metadata in memory. ``sum_dl`` makes the
  maintenance update pure integer arithmetic.
- ``_index_meta.json`` — layout version + bucket count; published
  atomically (tmp + rename), losers of a same-path build race discard.

Freshness: the index directory name embeds a fingerprint (size + mtime) of
the source ``documents.parquet`` plus the layout version, so a regenerated
fixture or an upgraded engine can never serve a stale/incompatible index.
Maintenance without full rebuild is ``apply_epoch_deltas``: the streaming
maintainer (`streaming/river_stream.py:start_index_stream`) lands
per-micro-batch postings epochs; the merge keeps only each doc's newest
epoch (latest-version-wins, ES upsert semantics) and refreshes the derived
tables DELTA-PROPORTIONALLY — old contributions come from the pruned
forward index, new ones from the epochs, and the vocab/doclen/stats
updates are add/subtract joins against the base sidecars; the full
postings relation is never re-aggregated (pinned by
``tests/test_streaming.py::test_delta_sidecar_refresh_never_reads_postings``).
Reference parity: HBaseParser.java:135-162 (index build),
HBaseRiver.java:1-35 (index maintenance as the product).
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.artifacts import (
    artifact_path,
    publish_dir,
    write_json_atomic,
)
from elasticsearch_hbase_river_spark.functions.concurrency import run_jobs
from elasticsearch_hbase_river_spark.functions.determinism import roundn_col
from elasticsearch_hbase_river_spark.functions.xxh64 import pmod_bucket
from elasticsearch_hbase_river_spark.operators.esagg import (
    WILDCARD_SQL_LIKE,
)
from elasticsearch_hbase_river_spark.operators.esagg import (
    ORACLES as _ESAGG_ORACLES,
)
from elasticsearch_hbase_river_spark.operators.retrieval import (
    FUZZY_MAX_DIST,
    FUZZY_TERM,
    RESCORE_PHRASE,
    RESCORE_TOP,
    RESCORE_W_PRIMARY,
    RESCORE_W_SECONDARY,
    SUGGEST_PREFIX,
    SUGGEST_TOP,
)
from elasticsearch_hbase_river_spark.operators.retrieval import (
    ORACLES as _RETRIEVAL_ORACLES,
)
from elasticsearch_hbase_river_spark.operators.search import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    BM25_TOP,
    PHRASE,
    inverted_postings,
)
from elasticsearch_hbase_river_spark.operators.search import (
    ORACLES as _SEARCH_ORACLES,
)
from elasticsearch_hbase_river_spark.sources.tables import (
    load_table,
    read_immutable,
)
from elasticsearch_hbase_river_spark.streaming.epochs import (
    _check_epochs_layout,
)

N_BUCKETS = 32
META = "_index_meta.json"
#: v3 adds the FIELDED columns for multi_match serving: postings/tvectors
#: carry ``tf_title`` (occurrences in the first TITLE_LEN document
#: positions — the title/body split of multifield.py, derived from the
#: stored position lists), vocab carries ``df_title``/``df_body``, and
#: stats carries per-field doc counts + length sums. v4 adds the
#: ``vkeys`` sidecar — the SymSpell delete-neighborhood keys of the
#: vocabulary, key-bucket-partitioned, so fuzzy query rewrite reads a
#: pruned slice instead of running levenshtein over the whole term
#: dictionary (the ES analog: walking the FST automaton instead of the
#: term list). v5 deepens vkeys to the delete-≤2 neighborhood (SymSpell's
#: published d=2 generalization), so fuzziness 2 rewrites are pruned-slice
#: reads too; a key's delete depth is implicit in length(token) −
#: length(key), letting d=1 queries read the same tight slice as before.
#: v6 adds the ``percslots`` sidecar — the percolator's hash-slot
#: dictionary (≤ PERC_SLOTS rows, corpus-derived and epoch-stable), so
#: index-served percolation pays only the match join instead of a vocab
#: pass + slot ranking per query.
#: v8 registers the percolator's stored-query WORKLOAD at build time
#: (``percqueries_k3`` / ``percsets_k3``): stored queries are written
#: into the index ahead of serving — exactly ES's percolator model,
#: where queries are indexed documents — so the per-query fixed stages
#: (synthesis over the slot dictionary, set canonicalization, rarest-
#: term ranking) run once per epoch instead of once per percolation.
#: v9 registers the two k2 workloads the same way (``percqueries_k2``
#: for q_percolate_indexed's 10k registration-scale queries,
#: ``percstored`` for q_percolate's 12-query demo): their synthesis +
#: canonicalization was still ~2-4 s of per-percolation fixed cost.
#: The version rides the index path fingerprint, so older directories are
#: never served or appended.
LAYOUT_VERSION = 9

#: Driver-side cache of the 1-row stats sidecar, keyed by index path.
#: Index directories are immutable once published (fingerprint- or
#: generation-keyed), so entries never go stale.
_STATS_CACHE: dict[str, dict[str, float]] = {}


def index_root() -> str:
    """Root for on-demand index builds (override with RIVER_INDEX_ROOT)."""
    return os.environ.get(
        "RIVER_INDEX_ROOT",
        os.path.join(tempfile.gettempdir(), "river_search_index"))


def index_path_for(sf_dir: str) -> str:
    return artifact_path(index_root(), sf_dir, "documents",
                         suffix=f"-L{LAYOUT_VERSION}")


def _tbucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def _dbucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def changed_dbuckets(changed: DataFrame) -> list[int] | None:
    """Doc-bucket ids touched by a changed-doc set, for partition-pruning
    literals in the live-serving/merge paths — or ``None`` when pruning
    would be a no-op.

    Epoch-storm safe (round-8 guard): the bucket column is DISTINCTed on
    the executors before the collect, so the driver receives at most
    N_BUCKETS rows no matter how many documents churned (the earlier
    per-doc collect was delta-proportional — fine for delta-sized ticks,
    a driver hazard under storm churn). When every bucket is touched the
    IN-list filters nothing, so the caller gets ``None`` and reads the
    base table unpruned — a storm degrades to a full scan, never to a
    giant plan literal."""
    bs = sorted(r[0] for r in changed
                .select(_dbucket(F.col("doc_id")).alias("b"))
                .distinct().collect())
    return None if len(bs) >= N_BUCKETS else bs


def _terms_buckets(terms: tuple[str, ...]) -> list[int]:
    """Bucket ids for literal query terms — computed DRIVER-SIDE with the
    pure-Python xxh64 twin (parity pinned by tests/test_bucketing.py).
    Query planning costs microseconds and zero Spark jobs; the resulting
    LITERAL partition filters make the scan prune to the matching bucket
    directories."""
    return sorted({pmod_bucket(t, N_BUCKETS) for t in terms})


def ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent bootstrap: build the index for this corpus fingerprint if
    it doesn't exist yet, then return its path. Queries call this, so the
    FIRST query in a process pays the build and every later query is a pure
    index read (the ES operational model: index once, query many)."""
    path = index_path_for(sf_dir)
    if not os.path.exists(os.path.join(path, META)):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        build_index(spark, docs, path)
    return path


# ---------------------------------------------------------------------------
# Read API.


def read_postings(spark: SparkSession, path: str,
                  terms: tuple[str, ...] | None = None,
                  fields: bool = False) -> DataFrame:
    p = read_immutable(spark, os.path.join(path, "postings"))
    if terms:
        p = p.filter(F.col("tbucket").isin(_terms_buckets(terms))
                     & F.col("token").isin(*terms))
    cols = ["token", "doc_id", "tf", "first_pos", "positions", "dl"]
    if fields:
        cols.append("tf_title")
    return p.select(*cols)


def read_tvectors(spark: SparkSession, path: str,
                  dbuckets: list[int] | None = None) -> DataFrame:
    tv = read_immutable(spark, os.path.join(path, "tvectors"))
    if dbuckets is not None:
        tv = tv.filter(F.col("dbucket").isin(dbuckets))
    return tv.select("doc_id", "token", "tf", "tf_title")


def read_percslots(spark: SparkSession, path: str,
                   with_df: bool = False) -> DataFrame:
    """The persisted percolator slot dictionary (sid, token[, df]) — ≤
    PERC_SLOTS rows, written at build time (layout v6; df since v7)."""
    p = read_immutable(spark, os.path.join(path, "percslots"))
    if with_df:
        return p.select("sid", "token", "df")
    return p.select("sid", "token")


def read_percqueries_k3(spark: SparkSession,
                        path: str) -> tuple[DataFrame, DataFrame]:
    """The registered k3 percolate workload (layout v8): ``qsets``
    (query_id, terms, set_key) and ``rare`` (set_key, token, o1, o2) —
    both constant-bounded single-file sidecars written at build time
    (`esagg.percolate_k3_registry`)."""
    qsets = read_immutable(spark, os.path.join(path, "percqueries_k3"))
    rare = read_immutable(spark, os.path.join(path, "percsets_k3"))
    return qsets, rare


def read_percqueries_k2(spark: SparkSession, path: str) -> DataFrame:
    """The registered registration-scale k2 workload (layout v9):
    ``qsets`` (query_id, terms, set_key) — a constant-bounded
    single-file sidecar (`esagg.percolate_k2_registry`)."""
    return read_immutable(spark, os.path.join(path, "percqueries_k2"))


def read_percstored(spark: SparkSession, path: str) -> DataFrame:
    """The registered 12-query demo workload (layout v9): ``stored``
    (query_id, token)."""
    return read_immutable(spark, os.path.join(path, "percstored"))


def _write_percquery_sidecars(spark: SparkSession, tmp: str) -> None:
    """Derive + persist the percolator workload sidecars from the
    ``percslots`` dictionary already landed in ``tmp`` (layout v8):
    stored-query synthesis, set canonicalization and rarest-term
    ranking move from per-percolation fixed cost to the one-time
    build/refresh — the same amortization percslots itself got in v6/v7.
    Rebuilt on every epoch because the synthesis is a function of the
    slot dictionary, which epoch churn can change."""
    from elasticsearch_hbase_river_spark.operators.esagg import (
        PERC_K3_TERMS,
        PERC_TERMS_PER_QUERY,
        percolate_k2_registry,
        percolate_k3_registry,
    )

    sidx = spark.read.parquet(os.path.join(tmp, "percslots"))
    n_slots = sidx.count()

    def _w(df: DataFrame, name: str) -> Callable[[], None]:
        return lambda: (df.coalesce(1).write.mode("overwrite")
                        .parquet(os.path.join(tmp, name)))

    # degenerate (test-sized) dictionaries: the synthesis progression
    # invariants need >= k+2 distinct slots. Skip the affected sidecars —
    # the index itself is fine; percolation on such a corpus raises at
    # the sidecar read (missing path) instead of mid-plan.
    writes: list[Callable[[], None]] = []
    if n_slots >= PERC_TERMS_PER_QUERY + 2:  # k2 workloads (layout v9)
        qsets2, stored2 = percolate_k2_registry(spark, sidx)
        writes += [_w(qsets2, "percqueries_k2"), _w(stored2, "percstored")]
    if n_slots >= PERC_K3_TERMS + 2:
        qsets, rare = percolate_k3_registry(spark, sidx)
        writes += [_w(qsets, "percqueries_k3"), _w(rare, "percsets_k3")]
    if writes:
        run_jobs(*writes)


def read_vocab(spark: SparkSession, path: str,
               terms: tuple[str, ...] | None = None,
               fields: bool = False) -> DataFrame:
    v = read_immutable(spark, os.path.join(path, "vocab"))
    if terms:
        v = v.filter(F.col("tbucket").isin(_terms_buckets(terms))
                     & F.col("token").isin(*terms))
    cols = ["token", "df", "freq"]
    if fields:
        cols += ["df_title", "df_body"]
    return v.select(*cols)


def read_doclen(spark: SparkSession, path: str,
                dbuckets: list[int] | None = None) -> DataFrame:
    d = read_immutable(spark, os.path.join(path, "doclen"))
    if dbuckets is not None:
        d = d.filter(F.col("dbucket").isin(dbuckets))
    return d.select("doc_id", "dl")


def _del1_sql(t: str) -> str:
    """SQL array of every single-character deletion of ``t``."""
    return (f"transform(sequence(1, length({t})), "
            f"i -> concat(substr({t}, 1, i-1), "
            f"substr({t}, i+1, length({t}))))")


#: SQL fragment generating a token's delete-≤2 neighborhood (itself, every
#: single-character deletion, and every two-character deletion) — evaluated
#: over the vocab at build time. SymSpell's published generalization: with
#: delete-depth-2 keys on BOTH sides, lev(x, y) ≤ 2 guarantees the
#: neighborhoods intersect, so the d=2 rewrite never scans the vocabulary.
#: A key's delete depth is implicit: length(token) - length(key).
_VKEYS_EXPR = (
    "array_distinct(concat(array(token), "
    + _del1_sql("token") + ", "
    "flatten(transform(filter(" + _del1_sql("token") + ", "
    "s -> length(s) > 0), s -> " + _del1_sql("s") + "))))"
)


def delete_neighborhood(term: str, max_dist: int = 1) -> list[str]:
    """Pure-Python twin of :data:`_VKEYS_EXPR` for the QUERY side (driver,
    zero Spark jobs): the term plus every variant reachable by up to
    ``max_dist`` character deletions. SymSpell guarantee: lev(x, y) <= d ⟹
    the delete-≤d neighborhoods intersect, so probing these keys yields a
    candidate superset of the edit-distance ball, verified with one
    levenshtein over the (tiny) candidates. ≤ 1 + L + C(L,2) keys for
    max_dist 2 — a bounded literal list, never a vocab operation."""
    out = {term}
    frontier = {term}
    for _ in range(max_dist):
        frontier = {s[:i] + s[i + 1:] for s in frontier
                    for i in range(len(s))}
        out |= frontier
    return sorted(out)


def read_vkeys(spark: SparkSession, path: str,
               keys: list[str] | None = None) -> DataFrame:
    """(key, token) delete-neighborhood sidecar. With ``keys``, the scan
    prunes to the keys' kbucket directories (bucket ids computed
    driver-side with the xxh64 twin) — the bounded-slice read the fuzzy
    rewrite needs."""
    vk = read_immutable(spark, os.path.join(path, "vkeys"))
    if keys is not None:
        kb = sorted({pmod_bucket(k, N_BUCKETS) for k in keys})
        vk = vk.filter(F.col("kbucket").isin(kb)
                       & F.col("key").isin(*keys))
    return vk.select("key", "token")


def read_stats(spark: SparkSession, path: str) -> DataFrame:
    return (read_immutable(spark, os.path.join(path, "stats"))
            .select("n_docs", "sum_dl", "avgdl"))


def index_stats(path: str) -> dict[str, float]:
    """The 1-row stats sidecar, read DRIVER-SIDE (DuckDB, no Spark job)
    and cached per immutable index path — a search node's in-memory
    segment metadata. Queries inject these as plan literals."""
    cached = _STATS_CACHE.get(path)
    if cached is None:
        import duckdb

        # single-quote-escape the path: RIVER_INDEX_ROOT is user-controlled
        # and a quote in it would otherwise break (or inject into) the SQL.
        glob = os.path.join(path, "stats", "*.parquet").replace("'", "''")
        (n_docs, sum_dl, avgdl, n_title, sum_title, n_body,
         sum_body) = duckdb.sql(
            f"SELECT n_docs, sum_dl, avgdl, n_title, sum_title, n_body, "
            f"sum_body FROM read_parquet('{glob}')"
        ).fetchone()
        cached = {"n_docs": int(n_docs), "sum_dl": int(sum_dl),
                  "avgdl": float(avgdl),
                  "n_title": int(n_title), "sum_title": int(sum_title),
                  "n_body": int(n_body), "sum_body": int(sum_body),
                  # per-field avgdl as Lucene computes it (sum over docs
                  # having the field / their count); 0-doc fields divide
                  # nothing downstream because their df is always 0 too.
                  "avgdl_title": (sum_title / n_title) if n_title else 1.0,
                  "avgdl_body": (sum_body / n_body) if n_body else 1.0}
        _STATS_CACHE[path] = cached
    return cached


# ---------------------------------------------------------------------------
# Build / publish.


def _tf_title_col() -> F.Column:
    """Occurrences of this posting's token within the first TITLE_LEN
    document positions, derived from the stored (sorted) position list —
    the fielded split of `operators/multifield.py`, computed once at
    build/merge time so fielded queries never re-parse positions."""
    from elasticsearch_hbase_river_spark.operators.multifield import (
        TITLE_LEN,
    )

    return F.size(F.filter(
        F.transform(F.split("positions", ","), lambda s: s.cast("int")),
        lambda p: p < TITLE_LEN)).cast("long")


def build_index(spark: SparkSession, docs: DataFrame, path: str,
                mode: str = "ascii") -> None:
    """Materialize the serving layout from a (doc_id, text) corpus.

    Fully distributed: postings are one explode + one partial-aggregated
    shuffle (with ``dl`` riding along map-side), then ONE repartition per
    physical ordering (token-bucketed postings/vocab, doc-bucketed
    tvectors/doclen) so each writer task owns whole buckets. Derived
    tables are partial-aggregated shuffles or 1-row aggregates — nothing
    corpus-sized touches the driver.

    ``mode`` selects the analyzer chain ('ascii' legacy / 'unicode'
    multilingual); query terms must be analyzed with the same mode."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        assert_analyzable_corpus,
    )

    # fail loudly on corpora outside the selected analyzer mode's scope —
    # a mis-tokenizing corpus would otherwise pass through a green gate
    assert_analyzable_corpus(docs, mode=mode)
    _publish(path, lambda tmp: _write_index(spark, docs, mode, tmp), mode)


def _write_index(spark: SparkSession, docs: DataFrame, mode: str,
                 tmp: str) -> None:
    """The serving layout of ``docs`` under ``tmp`` (see build_index)."""
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        tokens_for_mode,
    )

    # The build is a DAG of independent parquet writes; overlapping the
    # independent branches lets one write's tasks back-fill executors
    # freed by another's stragglers (guide §2.6). Dependencies honored:
    # postings → {tvectors, vocab}; vocab → {vkeys, percslots → percquery
    # sidecars}; doclen → stats; the doclen chain depends only on the
    # corpus, so it overlaps the whole postings chain.
    post = inverted_postings(docs, mode)
    if "tf_title" not in post.columns:
        post = post.withColumn("tf_title", _tf_title_col())
    # doclen comes from the CORPUS, not the postings: zero-token documents
    # (empty / punctuation-only text) have no postings rows but are still
    # indexed documents — they count toward N and avgdl, exactly as in ES
    # (and in the oracle, which aggregates over `documents`).
    doclen = docs.select(
        "doc_id",
        F.size(tokens_for_mode(F.col("text"), mode)).cast("long")
        .alias("dl"))

    def _doclen_chain() -> None:
        _write_doclen(doclen, tmp)
        # stats aggregates the LANDED doclen (doc_id, dl rows are
        # identical to the pre-write relation) instead of re-tokenizing
        # the corpus a second time.
        _write_stats_from_doclen(
            spark, spark.read.parquet(os.path.join(tmp, "doclen")), tmp)

    def _postings_land() -> None:
        (post.withColumn("tbucket", _tbucket(F.col("token")))
             .repartition(N_BUCKETS, "tbucket")
             .write.mode("overwrite").partitionBy("tbucket")
             .parquet(os.path.join(tmp, "postings")))

    run_jobs(_postings_land, _doclen_chain)
    landed = spark.read.parquet(os.path.join(tmp, "postings"))

    def _tvectors() -> None:
        (landed.select(_dbucket(F.col("doc_id")).alias("dbucket"),
                       "doc_id", "token", "tf", "tf_title")
               .repartition(N_BUCKETS, "dbucket")
               .write.mode("overwrite").partitionBy("dbucket")
               .parquet(os.path.join(tmp, "tvectors")))

    def _vocab_chain() -> None:
        _write_vocab(
            landed.groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.sum("tf").cast("long").alias("freq"),
                 F.sum(F.when(F.col("tf_title") > 0, 1).otherwise(0))
                 .cast("long").alias("df_title"),
                 F.sum(F.when(F.col("tf") > F.col("tf_title"), 1)
                       .otherwise(0))
                 .cast("long").alias("df_body")), tmp)
        vocab = spark.read.parquet(os.path.join(tmp, "vocab"))

        def _vkeys_job() -> None:
            _write_vkeys(_vkeys_rel(vocab.select("token")), tmp)

        def _percslots_chain() -> None:
            # Percolator slot dictionary (layout v6; v7 adds the slot
            # token's df so rarest-term ranking never re-counts
            # postings): corpus-derived and epoch-stable, so persisting
            # it here moves the percolate queries' fixed synthesis stage
            # (one vocab pass + the slot row_number, ~1 s/query measured
            # at sf1 in round 7) into the one-time build.
            from elasticsearch_hbase_river_spark.operators.esagg import (
                slot_dictionary,
            )
            (slot_dictionary(vocab.select("token", "df")).coalesce(1)
             .write.mode("overwrite").parquet(os.path.join(tmp,
                                                           "percslots")))
            _write_percquery_sidecars(spark, tmp)

        run_jobs(_vkeys_job, _percslots_chain)

    run_jobs(_tvectors, _vocab_chain)


def _write_stats_from_doclen(spark: SparkSession, doclen: DataFrame,
                             tmp: str) -> None:
    """The 1-row stats sidecar, including the per-FIELD doc counts and
    length sums (layout v3): ``n_title``/``sum_title`` over docs with any
    tokens (title = first TITLE_LEN), ``n_body``/``sum_body`` over docs
    longer than TITLE_LEN. All integers, so delta maintenance updates
    them with exact add/subtract arithmetic."""
    from elasticsearch_hbase_river_spark.operators.multifield import (
        TITLE_LEN,
    )

    z = F.lit(0).cast("long")
    (doclen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).cast("long")
        .alias("n_title"),
        F.coalesce(F.sum(F.least(F.col("dl"), F.lit(TITLE_LEN))), z)
        .cast("long").alias("sum_title"),
        F.sum(F.when(F.col("dl") > TITLE_LEN, 1).otherwise(0)).cast("long")
        .alias("n_body"),
        F.coalesce(F.sum(F.greatest(F.col("dl") - TITLE_LEN, F.lit(0))), z)
        .cast("long").alias("sum_body"))
     .select("n_docs", "sum_dl",
             (F.col("sum_dl").cast("double")
              / F.col("n_docs")).alias("avgdl"),
             "n_title", "sum_title", "n_body", "sum_body")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(tmp, "stats")))


def _write_vocab(vocab: DataFrame, tmp: str) -> None:
    (vocab.withColumn("tbucket", _tbucket(F.col("token")))
          .repartition(N_BUCKETS, "tbucket")
          .write.mode("overwrite").partitionBy("tbucket")
          .parquet(os.path.join(tmp, "vocab")))


def _vkeys_rel(tokens: DataFrame) -> DataFrame:
    """(key, token) rows: each vocab token under every key of its
    delete-≤2 neighborhood (≤ 1 + L + C(L,2) keys per token). Vocab-sized
    × O(avg-token-length²) — map-side explode over the vocabulary, never
    the corpus."""
    return tokens.select(
        F.explode(F.expr(_VKEYS_EXPR)).alias("key"), "token")


def _write_vkeys(vkeys: DataFrame, tmp: str) -> None:
    (vkeys.withColumn("kbucket", _tbucket(F.col("key")))
          .repartition(N_BUCKETS, "kbucket")
          .write.mode("overwrite").partitionBy("kbucket")
          .parquet(os.path.join(tmp, "vkeys")))


def _write_doclen(doclen: DataFrame, tmp: str) -> None:
    (doclen.withColumn("dbucket", _dbucket(F.col("doc_id")))
           .repartition(N_BUCKETS, "dbucket")
           .write.mode("overwrite").partitionBy("dbucket")
           .parquet(os.path.join(tmp, "doclen")))


def index_mode(path: str) -> str:
    """The analyzer mode an index directory was built with (META-stamped;
    pre-stamp directories read as 'ascii', the only mode that existed)."""
    with open(os.path.join(path, META)) as f:
        return json.load(f).get("mode", "ascii")


def _publish(path: str, build: Callable[[str], None],
             mode: str = "ascii") -> None:
    """Publish a new index generation at ``path`` (``publish_dir``:
    concurrent builders of the same immutable path race safely). An
    occupied ``path`` is a caller error, refused before the build —
    conceding it would leave the STALE index standing in for the build or
    merge the caller asked for. The analyzer ``mode`` is stamped into META
    next to the layout version: mixing tokenizations across
    build/maintenance is silent corruption, so every maintenance path
    checks it."""
    if os.path.exists(os.path.join(path, META)):
        raise FileExistsError(
            f"{path} already holds an index; publish into a fresh path")
    publish_dir(path, META, {"layout": LAYOUT_VERSION,
                             "n_buckets": N_BUCKETS, "mode": mode}, build)


# ---------------------------------------------------------------------------
# Indexed query variants. Each reuses the UN-indexed query's oracle SQL
# verbatim (see ORACLES below): the correctness gate proves the index read
# path is hash-equal to the per-query rebuild.


def bm25_from_index(spark: SparkSession, idx: str,
                    terms: tuple[str, ...] = BM25_TERMS,
                    top: int = BM25_TOP) -> DataFrame:
    """BM25 top-k served FROM a materialized index path: term postings come
    from the pruned bucket directories with ``dl`` already on the rows, df
    from the pruned vocab bucket, and N/avgdl are plan literals from the
    driver-cached stats sidecar — zero corpus scans, zero corpus-sized
    joins, zero planning-time Spark jobs."""
    st = index_stats(idx)
    tf = (read_postings(spark, idx, terms)
          .select("doc_id", "token", "tf", "dl"))
    df_ = read_vocab(spark, idx, terms).select("token", "df")
    scored = tf.join(F.broadcast(df_), "token")
    idf = F.log(F.lit(1.0) + (F.lit(st["n_docs"]) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B
                                 + BM25_B * F.col("dl") / F.lit(st["avgdl"])))
    per_doc = (
        scored.select("doc_id", (idf * tf_norm).alias("contrib"))
        .groupBy("doc_id")
        .agg(roundn_col(F.sum("contrib")).alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(top)
            .withColumn("rank", F.row_number().over(w).cast("long")))


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 served FROM the materialized index (see
    :func:`bm25_from_index`; pinned by ``test_plan_shape.py``: no Generate
    node in this plan)."""
    return bm25_from_index(spark, ensure_index(spark, sf_dir))


def q_phrase_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase query from the index: the two terms' postings come from their
    pruned buckets; the stored position lists (a few rows per term) are
    unpacked and adjacency is the same (doc_id, pos+1) equi-join. Position
    unpack touches only the query terms' postings — never the corpus."""
    idx = ensure_index(spark, sf_dir)
    p = read_postings(spark, idx, PHRASE)
    occ = (p.select("token", "doc_id",
                    F.explode(F.split("positions", ",")).alias("pos_s"))
           .select("token", "doc_id", F.col("pos_s").cast("long").alias("pos")))
    w1 = occ.filter(F.col("token") == PHRASE[0]).select("doc_id", "pos")
    w2 = occ.filter(F.col("token") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos"))
    return (w1.join(w2, ["doc_id", "pos"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences")))


def _fuzzy_rewrite(spark: SparkSession, idx: str, term: str,
                   max_dist: int) -> tuple[str, ...]:
    """ES's fuzzy-query rewrite served from the vkeys sidecar: the query
    term's delete-≤d neighborhood keys (computed driver-side, ≤
    1 + L + C(L,2) literals for d=2) prune the sidecar to their kbucket
    directories; the candidate tokens that come back are a bounded
    superset of the edit-distance ball (SymSpell guarantee, valid to
    d=2 with the delete-≤2 sidecar), verified with one levenshtein over
    that tiny slice — the full vocabulary is never scanned, the way ES
    walks its FST automaton instead of the term list. The depth filter
    (length(token) − length(key) ≤ d) keeps the d=1 slice as tight as a
    delete-1-only sidecar would.

    The final ``.collect()`` is driver-side BY DESIGN and bounded by the
    edit-distance ball of ONE query term (tens of tokens) — the literals
    feed partition pruning in :func:`_fuzzy_hits`. Do NOT generalize
    this pattern to multi-term / unbounded fuzzy without a cap: a
    rewrite that can return vocabulary-scale candidates must stay a
    DataFrame join, not a plan literal (the round-7 VERDICT flag)."""
    assert max_dist <= 2, "vkeys sidecar stores the delete-<=2 neighborhood"
    cand = (read_vkeys(spark, idx, delete_neighborhood(term, max_dist))
            .filter(F.length("token") - F.length("key") <= max_dist)
            .select("token").distinct())
    return tuple(sorted(
        r[0] for r in cand
        .filter(F.levenshtein(F.col("token"), F.lit(term)) <= max_dist)
        .select("token").collect()))


def _fuzzy_hits(spark: SparkSession, idx: str,
                matched: tuple[str, ...]) -> DataFrame:
    """Per-doc hit counts for the rewrite's verified terms — a handful of
    literals becoming partition-pruning filters on the postings."""
    if not matched:
        return (read_postings(spark, idx, None).limit(0)
                .select("doc_id", F.lit(0).cast("long").alias("n_hits"),
                        F.lit("").alias("matched_terms")))
    return (read_postings(spark, idx, matched)
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("n_hits"),
                 F.array_join(
                     F.array_sort(F.array_distinct(F.collect_list("token"))),
                     ",").alias("matched_terms")))


def q_fuzzy_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy term query (fuzziness {FUZZY_MAX_DIST}) from the index via
    the FST-shaped vkeys rewrite — see :func:`_fuzzy_rewrite`."""
    idx = ensure_index(spark, sf_dir)
    return _fuzzy_hits(
        spark, idx, _fuzzy_rewrite(spark, idx, FUZZY_TERM, FUZZY_MAX_DIST))


def q_fuzzy_search_d2_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy term query with fuzziness 2 from the index: the delete-≤2
    vkeys sidecar prunes the rewrite to a bounded slice (SymSpell's d=2
    generalization) — the distance-2 ball never scans the vocabulary."""
    from elasticsearch_hbase_river_spark.operators.retrieval import (
        FUZZY2_MAX_DIST,
        FUZZY2_TERM,
    )

    idx = ensure_index(spark, sf_dir)
    return _fuzzy_hits(
        spark, idx, _fuzzy_rewrite(spark, idx, FUZZY2_TERM, FUZZY2_MAX_DIST))


def q_suggest_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion suggester from the index: a prefix filter + top-k over
    the vocab table alone. The corpus is never touched — this is the query
    ES answers from its FST, served here from a vocab-sized relation."""
    idx = ensure_index(spark, sf_dir)
    freq = (read_vocab(spark, idx)
            .filter(F.col("token").startswith(SUGGEST_PREFIX))
            .select("token", "freq"))
    top = freq.orderBy(F.col("freq").desc(), "token").limit(SUGGEST_TOP)
    w = Window.orderBy(F.col("freq").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Streaming maintenance: merge start_index_stream's epoch deltas into a new
# serving snapshot (latest-version-wins) with DELTA-PROPORTIONAL refresh of
# the derived tables.


def _delta_sidecar_plans(spark: SparkSession, base_path: str,
                         fresh: DataFrame, fresh_docs: DataFrame,
                         dbuckets: list[int]) -> dict[str, DataFrame]:
    """The vocab/doclen refresh plans for an epoch merge. Reads ONLY base
    sidecars (vocab, doclen, the pruned forward index) + the delta — never
    the full postings table (pinned by test_streaming.py). The update is
    exact integer add/subtract of per-token (df, freq) and per-doc dl
    contributions, so merge == rebuild bit-for-bit. ``fresh_docs`` is the
    epoch DOC MANIFEST (doc_id, dl) — the changed-doc authority, covering
    re-indexes that emptied a document (no postings rows, still a
    change)."""
    changed = fresh_docs.select("doc_id")

    def _contribs(rel: DataFrame, sfx: str) -> DataFrame:
        return rel.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias(f"df_{sfx}"),
            F.sum("tf").cast("long").alias(f"freq_{sfx}"),
            F.sum(F.when(F.col("tf_title") > 0, 1).otherwise(0))
            .cast("long").alias(f"dft_{sfx}"),
            F.sum(F.when(F.col("tf") > F.col("tf_title"), 1).otherwise(0))
            .cast("long").alias(f"dfb_{sfx}"))

    old_contrib = _contribs(
        read_tvectors(spark, base_path, dbuckets)
        .join(F.broadcast(changed), "doc_id", "left_semi"), "old")
    new_contrib = _contribs(
        fresh.withColumn("tf_title", _tf_title_col()), "new")
    z = F.lit(0).cast("long")

    def upd(col: str, old: str, new: str) -> F.Column:
        return (F.coalesce(col, z) - F.coalesce(old, z)
                + F.coalesce(new, z))

    joined = (
        read_vocab(spark, base_path, fields=True)
        .join(old_contrib, "token", "full_outer")
        .join(new_contrib, "token", "full_outer"))
    vocab_new = (
        joined.select(
            "token",
            upd("df", "df_old", "df_new").alias("df"),
            upd("freq", "freq_old", "freq_new").alias("freq"),
            upd("df_title", "dft_old", "dft_new").alias("df_title"),
            upd("df_body", "dfb_old", "dfb_new").alias("df_body"))
        .filter(F.col("df") > 0))
    doclen_new = (
        read_doclen(spark, base_path)
        .join(F.broadcast(changed), "doc_id", "left_anti")
        .unionByName(fresh_docs.select("doc_id", "dl")))
    # vkeys refresh: membership changes only among delta-touched tokens —
    # drop the keys of tokens whose df hit 0, add keys for tokens the
    # epoch introduced. Base vkeys are read once; the arrival/departure
    # relations are delta-sized broadcasts.
    base_df = F.coalesce("df", z)
    new_df = upd("df", "df_old", "df_new")
    removed_tokens = (joined.filter((base_df > 0) & (new_df <= 0))
                      .select("token"))
    added_tokens = (joined.filter((base_df <= 0) & (new_df > 0))
                    .select("token"))
    vkeys_new = (read_vkeys(spark, base_path)
                 .join(F.broadcast(removed_tokens), "token", "left_anti")
                 .unionByName(_vkeys_rel(added_tokens)))
    return {"vocab": vocab_new, "doclen": doclen_new, "vkeys": vkeys_new}


def apply_epoch_deltas(spark: SparkSession, base_path: str,
                       epochs_dir: str, out_path: str) -> None:
    """Produce the NEXT index snapshot at ``out_path``: docs re-indexed in
    any epoch keep only their newest epoch's postings (the same
    latest-version-wins of ``read_inverted_index``); all other docs carry
    over from ``base_path`` untouched. Snapshot-and-swap keeps readers
    consistent: they hold the old directory until the caller republishes
    the path (see ``write_alias``).

    Scale shape: the carry-over is ONE anti-join of base postings against
    the (small) changed-doc set — proportional to the delta, not the
    corpus; the changed-doc relation broadcasts. The derived tables are
    NOT re-aggregated from the merged postings: old contributions come
    from the dbucket-pruned forward index, new ones from the epochs, and
    vocab/doclen/stats update by exact add/subtract against the base
    sidecars (stats is pure integer arithmetic on the cached 1-row
    sidecar)."""
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        read_epoch_docs,
        read_inverted_index,
    )

    # Analyzer-mode consistency: base index META vs epochs marker (both
    # default 'ascii' for pre-stamp artifacts). Merging two tokenizations
    # is silent corruption — refuse it here like the stream writer does.
    base_mode = index_mode(base_path)
    _check_epochs_layout(epochs_dir, mode=base_mode)

    # Delta-sized; read many times (changed set, merge, contributions) —
    # materialize once. The doc manifest (not the postings) is the
    # changed-doc authority: it also carries re-indexes that emptied a
    # document.
    fresh = read_inverted_index(spark, epochs_dir).localCheckpoint(eager=True)
    fresh_docs = read_epoch_docs(spark, epochs_dir).localCheckpoint(eager=True)
    changed = fresh_docs.select("doc_id")
    # bounded-collect + saturation-to-full-scan guard (changed_dbuckets)
    dbuckets = changed_dbuckets(changed)
    _publish(out_path, lambda tmp: _write_merged(
        spark, base_path, fresh, fresh_docs, changed, dbuckets, tmp),
        base_mode)


def _write_merged(spark: SparkSession, base_path: str, fresh: DataFrame,
                  fresh_docs: DataFrame, changed: DataFrame,
                  dbuckets: list[int] | None, tmp: str) -> None:
    """The next snapshot's layout under ``tmp`` (see apply_epoch_deltas)."""
    # Carry-over WITHOUT a global shuffle: the base postings are already
    # tbucket-partitioned on disk, so reading them WITH the partition
    # column and writing partitionBy(tbucket) keeps each carry-over task
    # writing into the buckets it read (bucket-pure once buckets exceed
    # the split size — the 100 TB case); the delta-sized fresh side
    # computes its buckets map-side and lands beside them. The initial
    # build's repartition exchange (corpus-sized, per epoch) is gone —
    # the merge only moves the bytes it rewrites. Fresh-side tasks can
    # write a small file per bucket (segment-file fragmentation, bounded
    # by delta size per epoch); rebuild_index compacts when it matters.
    pcols = ["token", "doc_id", "tf", "first_pos", "positions", "dl",
             "tf_title"]
    base_p = (read_immutable(spark, os.path.join(base_path, "postings"))
              .join(F.broadcast(changed), "doc_id", "left_anti")
              .select(*pcols, F.col("tbucket").cast("int").alias("tbucket")))
    fresh_p = (fresh.withColumn("tf_title", _tf_title_col())
               .select(*pcols, _tbucket(F.col("token")).alias("tbucket")))
    (base_p.unionByName(fresh_p)
     .write.mode("overwrite").partitionBy("tbucket")
     .parquet(os.path.join(tmp, "postings")))
    tvcols = ["doc_id", "token", "tf", "tf_title"]
    base_tv = (read_immutable(spark, os.path.join(base_path, "tvectors"))
               .join(F.broadcast(changed), "doc_id", "left_anti")
               .select(*tvcols, F.col("dbucket").cast("int").alias("dbucket")))
    fresh_tv = (fresh_p.select(*tvcols,
                               _dbucket(F.col("doc_id")).alias("dbucket")))
    (base_tv.unionByName(fresh_tv)
     .write.mode("overwrite").partitionBy("dbucket")
     .parquet(os.path.join(tmp, "tvectors")))

    plans = _delta_sidecar_plans(spark, base_path, fresh, fresh_docs, dbuckets)
    _write_vocab(plans["vocab"], tmp)
    _write_doclen(plans["doclen"], tmp)
    _write_vkeys(plans["vkeys"], tmp)
    # percslots (layout v6): rebuilt from the MERGED vocab — epoch churn
    # can evict a slot's min-token, so the dictionary can't carry over
    # blindly. One vocab-sized pass onto ≤ PERC_SLOTS groups, same
    # cost class as the vkeys refresh above.
    from elasticsearch_hbase_river_spark.operators.esagg import (
        slot_dictionary,
    )

    (slot_dictionary(spark.read.parquet(os.path.join(tmp, "vocab"))
                     .select("token", "df"))
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(tmp, "percslots")))
    _write_percquery_sidecars(spark, tmp)

    from elasticsearch_hbase_river_spark.operators.multifield import (
        TITLE_LEN,
    )

    st = index_stats(base_path)

    def _doc_moments(rel: DataFrame):
        zero = F.lit(0)
        return rel.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), zero).alias("dl"),
            F.coalesce(F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)),
                       zero).alias("nt"),
            F.coalesce(F.sum(F.least(F.col("dl"), F.lit(TITLE_LEN))),
                       zero).alias("st"),
            F.coalesce(F.sum(F.when(F.col("dl") > TITLE_LEN, 1)
                             .otherwise(0)), zero).alias("nb"),
            F.coalesce(F.sum(F.greatest(F.col("dl") - TITLE_LEN,
                                        F.lit(0))), zero).alias("sb")).first()

    removed = _doc_moments(
        read_doclen(spark, base_path, dbuckets)
        .join(F.broadcast(changed), "doc_id", "left_semi"))
    added = _doc_moments(fresh_docs)

    def _u(base: int, key: str) -> int:
        return base - removed[key] + added[key]

    n_docs = st["n_docs"] - removed["n"] + added["n"]
    sum_dl = st["sum_dl"] - removed["dl"] + added["dl"]
    row = (n_docs, sum_dl, sum_dl / n_docs,
           _u(st["n_title"], "nt"), _u(st["sum_title"], "st"),
           _u(st["n_body"], "nb"), _u(st["sum_body"], "sb"))
    (spark.createDataFrame(
        [row],
        "n_docs long, sum_dl long, avgdl double, n_title long, "
        "sum_title long, n_body long, sum_body long")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(tmp, "stats")))


def q_rescore_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rescore`` served FROM the materialized index: the primary
    window is :func:`bm25_from_index` (pruned postings + stats literals);
    the secondary exact-phrase scorer unpacks the phrase terms' STORED
    position lists (the `q_phrase_match_indexed` machinery) semi-joined
    to the ≤k window ids — the corpus is never re-tokenized, which is the
    whole cost of the rebuild path's rescore (the round-5 analyzer-trio
    regression). Hash-equal to ``q_rescore`` by the shared oracle."""
    idx = ensure_index(spark, sf_dir)
    base = bm25_from_index(spark, idx).select("doc_id", "score")
    base_ids = base.select("doc_id")
    occ = (read_postings(spark, idx, RESCORE_PHRASE)
           .join(F.broadcast(base_ids), "doc_id", "left_semi")
           .select("token", "doc_id",
                   F.explode(F.split("positions", ",")).alias("pos_s"))
           .select("token", "doc_id",
                   F.col("pos_s").cast("long").alias("pos"))
           .localCheckpoint(eager=True))  # window-sized: ≤k docs' terms
    w1 = (occ.filter(F.col("token") == RESCORE_PHRASE[0])
          .select("doc_id", "pos"))
    w2 = (occ.filter(F.col("token") == RESCORE_PHRASE[1])
          .select("doc_id", (F.col("pos") - 1).alias("pos")))
    ph = (w1.join(w2, ["doc_id", "pos"])
          .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_phrase")))
    resc = (
        base.join(F.broadcast(ph), "doc_id", "left")
        .select("doc_id", roundn_col(
            F.lit(RESCORE_W_PRIMARY) * F.col("score")
            + F.lit(RESCORE_W_SECONDARY)
            * F.log1p(F.coalesce("n_phrase", F.lit(0)))).alias("rescore")))
    top = (resc.orderBy(F.col("rescore").desc(), F.col("doc_id"))
           .limit(RESCORE_TOP))
    w = Window.orderBy(F.col("rescore").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


#: Lucene-style multi-term rewrite bound: beyond this many matched
#: dictionary terms the rewrite stops enumerating literals (no partition
#: pruning) and streams the matched vocab through a broadcast join
#: instead — never an unbounded driver collect.
WILDCARD_MAX_EXPANSIONS = 1024


def q_wildcard_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``wildcard`` served FROM the index: the pattern rewrite runs on
    the vocab SIDECAR (Lucene's term-dictionary scan — vocab-sized, no
    corpus tokenization), the matched terms become partition-pruning
    literals on the postings (capped at {WILDCARD_MAX_EXPANSIONS}; above
    the cap the matched-vocab relation broadcast-joins the postings
    instead). Hash-equal to ``q_wildcard_search`` by the shared oracle."""
    idx = ensure_index(spark, sf_dir)
    mv = (read_vocab(spark, idx)
          .filter(F.col("token").like(WILDCARD_SQL_LIKE)).select("token"))
    matched = tuple(sorted(
        r[0] for r in mv.limit(WILDCARD_MAX_EXPANSIONS + 1).collect()))
    if 0 < len(matched) <= WILDCARD_MAX_EXPANSIONS:
        post = read_postings(spark, idx, matched)
    else:
        post = read_postings(spark, idx).join(F.broadcast(mv), "token")
    return (post.groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("n_hits"),
                 F.count_distinct("token").cast("long").alias("n_terms")))


QUERIES = {
    "q_bm25_indexed": q_bm25_indexed,
    "q_phrase_match_indexed": q_phrase_match_indexed,
    "q_fuzzy_search_indexed": q_fuzzy_search_indexed,
    "q_fuzzy_search_d2_indexed": q_fuzzy_search_d2_indexed,
    "q_suggest_indexed": q_suggest_indexed,
    "q_rescore_indexed": q_rescore_indexed,
    "q_wildcard_indexed": q_wildcard_indexed,
}

#: The indexed variants answer the SAME questions as the rebuild-per-query
#: operators, so they reuse those oracles verbatim — the correctness gate
#: then proves index-read == rebuild, hash-for-hash.
ORACLES = {
    "q_bm25_indexed": _SEARCH_ORACLES["q_bm25"],
    "q_phrase_match_indexed": _SEARCH_ORACLES["q_phrase_match"],
    "q_fuzzy_search_indexed": _RETRIEVAL_ORACLES["q_fuzzy_search"],
    "q_fuzzy_search_d2_indexed": _RETRIEVAL_ORACLES["q_fuzzy_search_d2"],
    "q_suggest_indexed": _RETRIEVAL_ORACLES["q_suggest"],
    "q_rescore_indexed": _RETRIEVAL_ORACLES["q_rescore"],
    "q_wildcard_indexed": _ESAGG_ORACLES["q_wildcard_search"],
}


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_stats`` / ``_cat/indices`` over the materialized index: doc
    count, vocabulary size, postings count, total token count and average
    document length — every figure read from the index's own sidecar
    tables (vocab / stats), NEVER the corpus. The oracle derives the same
    numbers from the documents table, so the gate proves the sidecars stay
    consistent with the corpus they were built from.

    Scale shape: one vocab-sized partial-aggregated sidecar aggregate
    combined with the broadcast 1-row stats relation — no corpus scan, no
    shuffle of anything big. (Deliberately kept IN-plan rather than using
    the driver-side stats cache: this is the audit query that CHECKS the
    sidecars.)"""
    idx = ensure_index(spark, sf_dir)
    vstats = read_vocab(spark, idx).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum("freq").cast("long").alias("total_tokens"))
    dstats = read_stats(spark, idx).select(
        F.col("n_docs"), roundn_col(F.col("avgdl")).alias("avgdl"))
    return F.broadcast(dstats).crossJoin(F.broadcast(vstats)).select(
        "n_docs", "n_terms", "n_postings", "total_tokens", "avgdl")


QUERIES["q_index_stats"] = q_index_stats

from elasticsearch_hbase_river_spark.functions.determinism import roundn_sql  # noqa: E402
from elasticsearch_hbase_river_spark.operators.search import (  # noqa: E402
    _DL_SQL,
    _POSTINGS_SQL,
)

ORACLES["q_index_stats"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
post AS (
  SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY token, doc_id),
v AS (
  SELECT CAST(count(DISTINCT token) AS BIGINT) AS n_terms,
         CAST(count(*) AS BIGINT) AS n_postings,
         CAST(sum(tf) AS BIGINT) AS total_tokens
  FROM post),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         {roundn_sql(f"avg({_DL_SQL})")} AS avgdl
  FROM documents)
SELECT n_docs, n_terms, n_postings, total_tokens, avgdl FROM d, v"""


def _index_tfidf_rel(spark: SparkSession, idx: str) -> DataFrame:
    """(doc_id, token, tf, dl, df, n_docs): the tf-idf scoring relation
    read entirely from index tables — the explode + two corpus
    aggregations the rebuild path pays are already materialized as
    postings (dl included) and vocab; N is a plan literal from the cached
    stats sidecar."""
    st = index_stats(idx)
    return (read_postings(spark, idx)
            .select("doc_id", "token", "tf", "dl")
            .join(F.broadcast(read_vocab(spark, idx).select("token", "df")),
                  "token")
            .withColumn("n_docs", F.lit(st["n_docs"])))


def q_tfidf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms served FROM the materialized index:
    tf AND doc length from the postings rows, df from the vocab sidecar,
    N as a stats literal — ZERO corpus scans, zero explodes, zero
    corpus-sized joins; the only shuffle is the per-doc rank window.
    Hash-equal to `q_tfidf` by the shared oracle."""
    from elasticsearch_hbase_river_spark.operators.text import TFIDF_TOP

    idx = ensure_index(spark, sf_dir)
    scored = (
        _index_tfidf_rel(spark, idx)
        .withColumn("tfidf", roundn_col(
            (F.col("tf") / F.col("dl"))
            * F.log(F.col("n_docs").cast("double") / F.col("df")))))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= TFIDF_TOP)
                  .select("doc_id", "token", "tfidf", "rank"))


def q_more_like_this_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """more_like_this served FROM the materialized index: the tf-idf
    weight relation comes from postings ⨝ vocab (no explode, no per-query
    corpus aggregation); the query doc's vector broadcasts into the
    shared-token candidate join exactly like the rebuild path.
    Hash-equal to `q_more_like_this` by the shared oracle."""
    from elasticsearch_hbase_river_spark.operators.search import (
        MLT_DOC_ID, MLT_TOP,
    )

    idx = ensure_index(spark, sf_dir)
    tfidf = (
        _index_tfidf_rel(spark, idx)
        .select("doc_id", "token",
                (F.col("tf") * F.log(F.col("n_docs").cast("double")
                                     / F.col("df"))).alias("wt"))
        # read three times (norms, query vector, similarity join) — the
        # multi-pass materialization trade, same as the rebuild path
        .localCheckpoint(eager=True)
    )
    norms = tfidf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("norm"))
    qvec = (tfidf.filter(F.col("doc_id") == MLT_DOC_ID)
                 .select("token", F.col("wt").alias("qwt")))
    qnorm = norms.filter(F.col("doc_id") == MLT_DOC_ID).select(
        F.col("norm").alias("qnorm"))
    sims = (
        tfidf.filter(F.col("doc_id") != MLT_DOC_ID)
        .join(F.broadcast(qvec), "token")
        .groupBy("doc_id")
        .agg(F.sum(F.col("wt") * F.col("qwt")).alias("dot"))
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .select("doc_id",
                roundn_col(F.col("dot") / (F.col("norm") * F.col("qnorm")))
                .alias("cosine"))
    )
    top = sims.orderBy(F.col("cosine").desc(), F.col("doc_id")).limit(MLT_TOP)
    w = Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


QUERIES["q_tfidf_indexed"] = q_tfidf_indexed
QUERIES["q_more_like_this_indexed"] = q_more_like_this_indexed
ORACLES["q_more_like_this_indexed"] = _SEARCH_ORACLES["q_more_like_this"]


def _tfidf_indexed_oracle() -> str:
    """Analyzer-aware twin of text.py's q_tfidf oracle: the INDEX serves
    ANALYZED tokens (it is the search surface), whereas text.py's
    statistics keep their own whitespace tokenization. Identical on the
    clean fixture; this oracle stays correct on dirty corpora too
    (pinned by tests/test_analyzer.py)."""
    from elasticsearch_hbase_river_spark.operators.text import TFIDF_TOP

    return f"""
WITH tok AS ({_POSTINGS_SQL}),
dl AS (SELECT doc_id, CAST({_DL_SQL} AS BIGINT) AS doc_len FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS n FROM tok GROUP BY doc_id, token),
dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token,
         {roundn_sql("(tf.n::DOUBLE / dl.doc_len)"
                     " * ln((SELECT count(*) FROM documents)::DOUBLE / dfr.df)")}
           AS tfidf
  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id)),
ranked AS (
  SELECT doc_id, token, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {TFIDF_TOP}"""


ORACLES["q_tfidf_indexed"] = _tfidf_indexed_oracle()


def q_unigram_logprob_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM quality signal served FROM the materialized index:
    the LM (per-token corpus frequency + totals) is the vocab sidecar
    verbatim, and the per-document occurrence relation is the postings'
    (doc_id, token, tf) — the scoring becomes a tf-weighted mean with no
    explode and no corpus aggregation. Hash-equal to
    ``q_unigram_logprob`` by the shared oracle."""
    idx = ensure_index(spark, sf_dir)
    vocab = read_vocab(spark, idx)
    totals = vocab.agg(F.sum("freq").alias("total"),
                       F.count(F.lit(1)).alias("vocab"))
    logp = F.log((F.col("freq") + 1.0)
                 / (F.col("total") + F.col("vocab")).cast("double"))
    return (
        read_postings(spark, idx).select("doc_id", "token", "tf")
        .join(F.broadcast(vocab.select("token", "freq")), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_tokens"),
             (F.sum(F.col("tf") * logp) / F.sum("tf")).alias("alp"))
        .select("doc_id", "n_tokens",
                roundn_col(F.col("alp")).alias("avg_logprob"))
    )


QUERIES["q_unigram_logprob_indexed"] = q_unigram_logprob_indexed
#: Analyzer-aware twin of text.py's q_unigram_logprob oracle (the index
#: serves analyzed tokens; identical on the clean fixture, correct on
#: dirty corpora — see _tfidf_indexed_oracle).
ORACLES["q_unigram_logprob_indexed"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
t AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM freq)
SELECT tok.doc_id, count(*) AS n_tokens,
       {roundn_sql('avg(ln((freq.cnt + 1.0) / (t.total + t.vocab)))')}
         AS avg_logprob
FROM tok JOIN freq USING (token) CROSS JOIN t
GROUP BY tok.doc_id"""


# ---------------------------------------------------------------------------
# Aliases — ES's zero-downtime reindex primitive: readers resolve a NAME to
# whatever index the alias currently points at; a reindex builds a brand-new
# index directory and repoints the alias atomically, so readers never see a
# partial index and the old generation stays intact for rollback.


def write_alias(alias_path: str, index_path: str) -> None:
    """Atomically point ``alias_path`` at ``index_path`` (tmp + rename —
    same publish discipline as the index itself)."""
    write_json_atomic(alias_path, {"index": index_path})


def resolve_alias(alias_path: str) -> str:
    with open(alias_path) as f:
        return json.load(f)["index"]


def reindex(spark: SparkSession, docs: DataFrame, alias_path: str,
            new_index_path: str) -> str:
    """ES ``_reindex`` + alias swap: build a NEW index generation from the
    (possibly transformed/filtered) document relation, then atomically
    repoint the alias. Readers resolving the alias mid-build keep the old
    generation; after the swap they get the new one. Returns the new
    path."""
    build_index(spark, docs.select("doc_id", "text"), new_index_path)
    write_alias(alias_path, new_index_path)
    return new_index_path


# ---------------------------------------------------------------------------
# ES _termvectors — per-document term statistics served from the FORWARD
# index (the tvectors table layout v2 added for delta maintenance doubles
# as the _termvectors serving store, exactly like Lucene term vectors).

TV_DOC_ID = 7


def q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_termvectors`` for one document with ``term_statistics=true``:
    the doc's terms with their in-doc tf and corpus-wide df/total freq.

    Scale shape: the forward-index read prunes to the ONE dbucket holding
    the document (bucket id computed driver-side with the long-typed
    xxh64 twin — zero planning jobs); its handful of term rows then
    hash-join the vocab sidecar (Catalyst broadcasts the tiny doc side).
    The corpus and the postings table are never touched."""
    from elasticsearch_hbase_river_spark.functions.xxh64 import (
        pmod_bucket_long,
    )

    idx = ensure_index(spark, sf_dir)
    dterms = (read_tvectors(spark, idx, [pmod_bucket_long(TV_DOC_ID, N_BUCKETS)])
              .filter(F.col("doc_id") == TV_DOC_ID)
              .select("token", F.col("tf").cast("long").alias("tf")))
    return (dterms.join(read_vocab(spark, idx), "token")
            .select("token", "tf", "df", "freq"))


QUERIES["q_term_vectors"] = q_term_vectors

ORACLES["q_term_vectors"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
post AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY token, doc_id),
vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS freq
  FROM post GROUP BY token)
SELECT p.token, p.tf, v.df, v.freq
FROM post p JOIN vocab v USING (token)
WHERE p.doc_id = {TV_DOC_ID}"""


def q_rank_eval_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rank_eval`` served FROM the materialized index: each query
    term's postings come from their pruned buckets with ``dl`` already on
    the rows, df from the pruned vocab bucket, and N/avgdl are plan
    literals from the stats sidecar — the whole eval batch costs the sum
    of its terms' document frequencies, never a corpus scan. The metric
    stage is shared with the rebuild path (`esdsl3.rank_eval_metrics`),
    and the oracle is q_rank_eval's verbatim: index-served search-quality
    metrics == rebuild, hash-for-hash."""
    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        RE_QUERIES,
        rank_eval_metrics,
    )

    idx = ensure_index(spark, sf_dir)
    st = index_stats(idx)
    tf = read_postings(spark, idx, RE_QUERIES).select(
        "doc_id", "token", "tf", "dl")
    df_ = read_vocab(spark, idx, RE_QUERIES).select("token", "df")
    idf = F.log(F.lit(1.0) + (F.lit(st["n_docs"]) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B
                                 + BM25_B * F.col("dl") / F.lit(st["avgdl"])))
    scored = (tf.join(F.broadcast(df_), "token")
              .withColumn("score", idf * tf_norm))
    return rank_eval_metrics(scored.select("doc_id", "token", "score"))


QUERIES["q_rank_eval_indexed"] = q_rank_eval_indexed


def _rank_eval_indexed_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        ORACLES as _ESDSL3_ORACLES,
    )

    return _ESDSL3_ORACLES["q_rank_eval"]


ORACLES["q_rank_eval_indexed"] = _rank_eval_indexed_oracle()
