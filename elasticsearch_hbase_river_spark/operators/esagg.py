"""Remaining ES query-DSL / aggregation surface over the river's output.

The reference ships rows into an Elasticsearch index so users can run the
ES query DSL against them (`HBaseRiver.java:1-35`; `import.sh:4-15` registers
the river against a live index). `operators/search.py` / `retrieval.py` /
`indexed_search.py` cover term, bool, phrase, fuzzy, MLT, BM25, facets,
date_histogram, significant_terms, rescore, suggest and search_after; this
module closes out the query-DSL shapes an ES user still reaches for daily:

- ``q_wildcard_search``   : ES ``wildcard`` query (``s*a*``). Pattern
  expansion runs on the DISTINCT vocabulary (vocab-sized, not corpus-sized,
  exactly how Lucene rewrites multi-term queries against the term
  dictionary); matched terms broadcast into an equi-join with the postings.
- ``q_dis_max``           : ES ``dis_max`` compound query with
  ``tie_breaker``: per-term BM25 scores combined as
  ``best + tie_breaker · (sum − best)`` — Lucene's DisjunctionMaxQuery.
- ``q_cardinality``       : ES ``cardinality`` aggregation per bucket
  (distinct users / distinct active days per event type). Exact distinct
  here (oracle-checkable); at 100 TB swap ``count_distinct`` for
  ``approx_count_distinct`` (HyperLogLog++, one pass, mergeable sketches)
  — same plan shape, no extra shuffle.
- ``q_percentile_ranks``  : ES ``percentile_ranks`` aggregation: for fixed
  cut values, the share of events at or below each cut, per event type.
  The cuts melt map-side (explode of a constant array) into ONE
  partial-aggregated shuffle — never one corpus pass per cut.

Scale notes: wildcard/dis_max keep every corpus-sized relation behind a
below-shuffle term filter (the postings rows that survive are a few per
matching doc); the multi-term expansions are broadcast joins of vocab-sized
relations. Cardinality/percentile-ranks are single groupBy shuffles with
partial aggregation; the distinct-expansion in q_cardinality is the one
deliberate exact-mode cost, with the HLL swap documented above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col, roundn_sql
from elasticsearch_hbase_river_spark.operators.search import (
    BM25_B,
    BM25_K1,
    _dl_col,
    _DL_SQL,
    _postings,
    _POSTINGS_SQL,
)
from elasticsearch_hbase_river_spark.sources.tables import load_events, load_table

#: wildcard pattern (ES syntax s*a* — SQL LIKE 's%a%').
WILDCARD_SQL_LIKE = "s%a%"
DIS_MAX_TERMS = ("scan", "merge")
DIS_MAX_TIE = 0.3
DIS_MAX_TOP = 10
DAY_MS = 86_400_000
PCT_CUTS = (10.0, 50.0, 100.0)


def q_wildcard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``wildcard`` query: docs containing any token matching ``s*a*``,
    with per-doc hit and distinct-term counts.

    Lucene rewrites wildcard queries by scanning the term dictionary, not
    the postings; the analog here is the LIKE filter on the DISTINCT
    vocabulary, whose (tiny) survivors broadcast into an equi-join against
    the postings — the corpus-sized relation is only ever touched by a
    hash join on ``token``."""
    docs = load_table(spark, sf_dir, "documents")
    post = _postings(docs)
    matched = (post.select("token").distinct()
               .filter(F.col("token").like(WILDCARD_SQL_LIKE)))
    return (post.join(F.broadcast(matched), "token")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.count_distinct("token").cast("long").alias("n_terms")))


def _per_term_bm25(spark: SparkSession, sf_dir: str, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, token, c): per-term BM25 contribution for the given terms —
    the scoring core of ``bm25_scores`` kept per-term instead of summed."""
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select("doc_id", _dl_col().alias("dl"))
    tf = (_postings(docs)
          .filter(F.col("token").isin(*terms))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # stats from the dl relation (see search.bm25_scores): avoids a third
    # full-corpus tokenization per query.
    stats = dl.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    scored = (tf.join(F.broadcast(df_), "token")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    return scored.select("doc_id", "token", (idf * tf_norm).alias("c"))


def q_dis_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``dis_max`` query (tie_breaker 0.3) over two term queries:
    ``score = best_match + 0.3 · (sum − best)`` per document, top-10.

    One below-shuffle term filter feeds per-term scores; the combine is a
    per-doc max/sum aggregate (single shuffle) and the ranking is a
    TakeOrderedAndProject with the rank window confined to the ≤k
    survivors."""
    per_term = _per_term_bm25(spark, sf_dir, DIS_MAX_TERMS)
    combined = (per_term.groupBy("doc_id")
                .agg(F.max("c").alias("best"), F.sum("c").alias("total"))
                .select("doc_id", roundn_col(
                    F.col("best")
                    + F.lit(DIS_MAX_TIE) * (F.col("total") - F.col("best")))
                    .alias("score")))
    top = combined.orderBy(F.col("score").desc(), "doc_id").limit(DIS_MAX_TOP)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def q_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``cardinality`` aggregation per ``terms`` bucket: distinct users
    and distinct active days per event type, next to the plain doc count.

    Exact ``count_distinct`` so the DuckDB oracle can hash-match; at
    100 TB the drop-in is ``approx_count_distinct`` (HLL++ sketches merge
    in the partial-agg combine — same single-shuffle plan, bounded
    memory), the same trade ES itself makes (its cardinality agg IS a
    HyperLogLog)."""
    ev = load_events(spark, sf_dir)
    # Integer floor division (`div`), matching the oracle's `//` for the
    # non-negative epoch range and the day-bucket idiom used everywhere
    # else (q_pipeline_aggs, analytics.py) — double-divide + cast('long')
    # truncates toward zero and diverges on negative timestamps.
    day = F.expr(f"ts_ms div {DAY_MS}")
    return (ev.select("event_type", "user_id", day.alias("day"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("user_id").cast("long").alias("n_users"),
                 F.count_distinct("day").cast("long").alias("n_days")))


def q_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentile_ranks`` aggregation: for each cut in ``PCT_CUTS``,
    the percentage of events with ``value <= cut``, per event type.

    The cuts explode from a constant array (map-side, |cuts|× fan-out of
    a 2-column projection) into one partial-aggregated shuffle on
    (event_type, cut) — one corpus pass total, not one per cut."""
    ev = load_table(spark, sf_dir, "events")
    cuts = F.array(*[F.lit(c) for c in PCT_CUTS])
    melted = ev.select("event_type", "value",
                       F.explode(cuts).alias("cut"))
    pct = F.avg(F.when(F.col("value") <= F.col("cut"), 1.0).otherwise(0.0)) * 100
    return (melted.groupBy("event_type", "cut")
            .agg(roundn_col(pct).alias("pct_rank"),
                 F.count(F.lit(1)).alias("n_events")))


QUERIES = {
    "q_wildcard_search": q_wildcard_search,
    "q_dis_max": q_dis_max,
    "q_cardinality": q_cardinality,
    "q_percentile_ranks": q_percentile_ranks,
}

_DIS_TERMS_SQL = ", ".join(f"'{t}'" for t in DIS_MAX_TERMS)
_CUTS_SQL = ", ".join(str(c) for c in PCT_CUTS)

ORACLES = {
    "q_wildcard_search": f"""
WITH tok AS ({_POSTINGS_SQL}),
matched AS (
  SELECT DISTINCT token FROM tok WHERE token LIKE '{WILDCARD_SQL_LIKE}')
SELECT doc_id, count(*) AS n_hits,
       CAST(count(DISTINCT token) AS BIGINT) AS n_terms
FROM tok JOIN matched USING (token)
GROUP BY doc_id""",

    "q_dis_max": f"""
WITH tok AS ({_POSTINGS_SQL}),
dl AS (SELECT doc_id, CAST({_DL_SQL} AS BIGINT) AS dl
       FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 avg({_DL_SQL}) AS avgdl FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ({_DIS_TERMS_SQL}) GROUP BY doc_id, token),
dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1)) /
           (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
         AS c
  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id), stats),
combined AS (
  SELECT doc_id,
         {roundn_sql(f'max(c) + {DIS_MAX_TIE} * (sum(c) - max(c))')} AS score
  FROM contrib GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM combined)
SELECT * FROM ranked WHERE rank <= {DIS_MAX_TOP}""",

    "q_cardinality": f"""
SELECT event_type, count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT epoch_ms(ts) // {DAY_MS}) AS BIGINT) AS n_days
FROM events GROUP BY event_type""",

    "q_percentile_ranks": f"""
SELECT event_type, cut,
       {roundn_sql('100.0 * avg(CASE WHEN value <= cut THEN 1.0 ELSE 0.0 END)')}
         AS pct_rank,
       count(*) AS n_events
FROM events CROSS JOIN (SELECT unnest([{_CUTS_SQL}]) AS cut)
GROUP BY event_type, cut""",
}


# ---------------------------------------------------------------------------
# ES pipeline aggregations + composite aggregation. Pipeline aggs post-
# process a parent aggregation's bucket SERIES — the corpus pays one
# partial-agg shuffle; the window functions then run over the bucket
# relation, which is calendar-sized (hours), not corpus-sized, so the
# single-partition window is bounded at any corpus scale. The composite
# agg is ES's keyset pagination over buckets: the page-2 filter is a
# broadcast 1-row cursor — no OFFSET, no global re-rank.

PIPE_TYPE = "purchase"
PIPE_HOUR_MS = 3_600_000
PIPE_MAVG_W = 3          # trailing moving-average window (buckets)
COMPOSITE_PAGE = 5
COMPOSITE_DAY_MS = DAY_MS


def q_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pipeline aggregations over an hourly date_histogram of one event
    type: ``cumulative_sum`` of value, ``derivative`` of the count
    (difference vs the previous bucket), and a trailing 3-bucket
    ``moving_avg`` — ES's bucket-series post-processing expressed as
    window functions over the (tiny) bucket relation."""
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == PIPE_TYPE)
    bucket = F.expr(f"(ts_ms div {PIPE_HOUR_MS}) * {PIPE_HOUR_MS}")
    dec = F.col("value").cast("decimal(18,2)")
    per = (ev.groupBy(bucket.alias("bucket_ms"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(dec).alias("sum_dec")))
    w = Window.orderBy("bucket_ms")
    wm = w.rowsBetween(-(PIPE_MAVG_W - 1), 0)
    return per.select(
        "bucket_ms",
        F.col("n_events").cast("long").alias("n_events"),
        roundn_col(F.col("sum_dec").cast("double")).alias("sum_value"),
        roundn_col(F.sum("sum_dec").over(w).cast("double")).alias("cum_value"),
        (F.col("n_events") - F.lag("n_events").over(w)).alias("derivative"),
        roundn_col(F.avg(F.col("sum_dec").cast("double")).over(wm))
        .alias("moving_avg"),
    )


def q_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``composite`` aggregation with ``after``-key pagination: buckets
    over (event_type, day), ordered by the composite key, page 2 of size
    {COMPOSITE_PAGE} — the buckets strictly after page 1's last key.

    The aggregate is one partial-agg shuffle; page 1's last key is a
    broadcast 1-row cursor and page 2 is a keyset filter + local top-k
    over the bucket relation — the deep-pagination shape that never
    re-ranks or OFFSET-skips at scale."""
    ev = load_events(spark, sf_dir)
    day = F.expr(f"ts_ms div {COMPOSITE_DAY_MS}")  # floor div, oracle `//`
    buckets = (ev.groupBy(F.col("event_type"), day.alias("day"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    roundn_col(F.sum(F.col("value").cast("decimal(18,2)"))
                               .cast("double")).alias("sum_value")))
    page1_last = (buckets.orderBy("event_type", "day").limit(COMPOSITE_PAGE)
                  .orderBy(F.col("event_type").desc(), F.col("day").desc())
                  .limit(1)
                  .select(F.col("event_type").alias("a_type"),
                          F.col("day").alias("a_day")))
    after = ((F.col("event_type") > F.col("a_type"))
             | ((F.col("event_type") == F.col("a_type"))
                & (F.col("day") > F.col("a_day"))))
    return (buckets.crossJoin(F.broadcast(page1_last))
            .filter(after)
            .select("event_type", "day", "n_events", "sum_value")
            .orderBy("event_type", "day").limit(COMPOSITE_PAGE))


QUERIES["q_pipeline_aggs"] = q_pipeline_aggs
QUERIES["q_composite_agg"] = q_composite_agg

ORACLES["q_pipeline_aggs"] = f"""
WITH f AS (
  SELECT (epoch_ms(ts) // {PIPE_HOUR_MS}) * {PIPE_HOUR_MS} AS bucket_ms, value
  FROM events WHERE event_type = '{PIPE_TYPE}'),
per AS (
  SELECT bucket_ms, count(*) AS n_events,
         sum(CAST(value AS DECIMAL(18,2))) AS sum_dec
  FROM f GROUP BY bucket_ms)
SELECT bucket_ms,
       CAST(n_events AS BIGINT) AS n_events,
       {roundn_sql('sum_dec::DOUBLE')} AS sum_value,
       {roundn_sql('CAST(sum(sum_dec) OVER (ORDER BY bucket_ms) AS DOUBLE)')}
         AS cum_value,
       n_events - lag(n_events) OVER (ORDER BY bucket_ms) AS derivative,
       {roundn_sql(f'''avg(sum_dec::DOUBLE) OVER (ORDER BY bucket_ms
                     ROWS BETWEEN {PIPE_MAVG_W - 1} PRECEDING AND CURRENT ROW)''')}
         AS moving_avg
FROM per"""

ORACLES["q_composite_agg"] = f"""
WITH buckets AS (
  SELECT event_type, epoch_ms(ts) // {COMPOSITE_DAY_MS} AS day,
         count(*) AS n_events,
         {roundn_sql('CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)')}
           AS sum_value
  FROM events GROUP BY 1, 2),
cursor AS (
  SELECT event_type AS a_type, day AS a_day
  FROM (SELECT * FROM buckets ORDER BY event_type, day LIMIT {COMPOSITE_PAGE})
  ORDER BY event_type DESC, day DESC LIMIT 1)
SELECT event_type, day, n_events, sum_value
FROM buckets, cursor
WHERE event_type > a_type OR (event_type = a_type AND day > a_day)
ORDER BY event_type, day LIMIT {COMPOSITE_PAGE}"""


# ---------------------------------------------------------------------------
# Filtered kNN — ES's `knn` clause with a `filter`: vector search restricted
# to documents matching a metadata predicate. ES applies the filter DURING
# the index traversal (pre-filtering) so the top-k is over eligible docs
# only; the relational analog is a broadcast-joined predicate below the
# top-k, never a post-filter of an unfiltered top-k (which under-fills k).

KNN_FILTER_LANG = "en"
KNN_FILTER_TOP = 10
KNN_FILTER_QVEC = 0


def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filtered kNN: cosine top-10 over embeddings whose paired document
    (vec_id == doc_id) is in language 'en'. The eligible-id set rides a
    broadcast semi-join BELOW the scoring and the top-k, so k results are
    always full (pre-filter semantics) and the filter prunes score work.

    Scale shape: the metadata side projects 1 column; scoring stays a JVM
    higher-order dot product; the ranking is TakeOrderedAndProject with the
    rank window over the ≤k survivors."""
    from elasticsearch_hbase_river_spark.operators.similarity import _norm

    emb = load_table(spark, sf_dir, "embeddings")
    eligible = (load_table(spark, sf_dir, "documents")
                .filter(F.col("lang") == KNN_FILTER_LANG)
                .select(F.col("doc_id").alias("vec_id")))
    qv = emb.filter(F.col("vec_id") == KNN_FILTER_QVEC).select(
        F.col("embedding").alias("qe"), _norm(F.col("embedding")).alias("qnorm"))
    corpus = (emb.join(F.broadcast(eligible), "vec_id", "left_semi")
              .filter(F.col("vec_id") != KNN_FILTER_QVEC)
              .select("vec_id", "embedding", _norm(F.col("embedding")).alias("enorm")))
    cos = roundn_col(F.aggregate(
        F.zip_with(F.col("qe"), F.col("embedding"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v) / (F.col("qnorm") * F.col("enorm")))
    top = (corpus.crossJoin(F.broadcast(qv))
           .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
           .orderBy(F.col("cosine").desc(), "doc_id").limit(KNN_FILTER_TOP))
    w = Window.orderBy(F.col("cosine").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


QUERIES["q_knn_filtered"] = q_knn_filtered


def _knn_filtered_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.similarity import (
        _dot_sql, _norm_sql,
    )

    return f"""
WITH qv AS (
  SELECT embedding AS qe, {_norm_sql('embedding')} AS qnorm
  FROM embeddings WHERE vec_id = {KNN_FILTER_QVEC}),
eligible AS (
  SELECT doc_id AS vec_id FROM documents WHERE lang = '{KNN_FILTER_LANG}'),
c AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS enorm
  FROM embeddings
  WHERE vec_id IN (SELECT vec_id FROM eligible)
    AND vec_id <> {KNN_FILTER_QVEC}),
scored AS (
  SELECT vec_id AS doc_id,
         {roundn_sql(_dot_sql('qe', 'embedding') + ' / (qnorm * enorm)')} AS cosine
  FROM c, qv),
ranked AS (
  SELECT doc_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {KNN_FILTER_TOP}"""


ORACLES["q_knn_filtered"] = _knn_filtered_oracle()


# ---------------------------------------------------------------------------
# Percolator — ES's reverse search: queries are STORED and incoming
# documents are matched against them (the alerting/saved-search engine).
# Stored queries here are synthesized deterministically from the corpus
# vocabulary in O(|Q|·k): the vocabulary hashes into a BOUNDED slot
# dictionary (≤ PERC_SLOTS rows, min-token per slot), and query i selects
# its k slots as the arithmetic progression base(i) + j·step(i) (mod S) —
# distinct slots ⇒ distinct terms, both hashes md5-derived so DuckDB
# synthesizes the identical query set. No |Q|×|V| expansion anywhere: the
# earlier per-query md5-min window ranked the FULL vocabulary once per
# stored query (a |Q|×|V| crossJoin that dominated the bench and would
# grow with corpus vocabulary); the slot dictionary caps the synthesis-side
# relation at a constant regardless of corpus size. A document matches a
# query iff it contains ALL the query's terms (AND percolation).

PERC_N_QUERIES = 12
PERC_TERMS_PER_QUERY = 2
#: Hash-slot dictionary size for stored-query synthesis. Bounds the
#: single-partition row_number (sid assignment) at a CONSTANT ≤8192-row
#: relation — Heap's-law vocab growth never reaches the synthesis plan.
PERC_SLOTS = 8192


def _hash32(col) -> F.Column:
    """Cross-engine 32-bit hash: first 8 md5 hex chars as a BIGINT
    (DuckDB twin: ``('0x' || substr(md5(x), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def slot_dictionary(vocab: DataFrame) -> DataFrame:
    """(sid, token[, df]): the percolator's hash-slot dictionary — one
    vocab pass (partial-aggregated groupBy onto ≤ PERC_SLOTS groups; the
    only global ordering runs over that constant-bounded relation). The
    dictionary is corpus-derived and epoch-stable, so the materialized
    index persists it as the ``percslots`` sidecar
    (`operators/indexed_search.py:build_index`) and index-served
    percolation reads it back instead of re-paying the vocab pass per
    query (round-7 measured that fixed stage at ~1 s per percolate).

    When the vocab relation carries ``df``, the slot token's document
    frequency rides along (layout v7) — rarest-term candidate generation
    (`q_percolate_k3`) then ranks stored-query terms from the persisted
    dictionary instead of re-counting the registered-token postings per
    query."""
    slot = F.pmod(_hash32(F.col("token")), F.lit(PERC_SLOTS)).alias("slot")
    w = Window.orderBy("slot")
    if "df" in vocab.columns:
        # min over (token, df) structs = the slot's min token with ITS df
        sdict = vocab.groupBy(slot).agg(
            F.min(F.struct("token", "df")).alias("m"))
        return sdict.select(
            (F.row_number().over(w) - 1).cast("long").alias("sid"),
            F.col("m.token").alias("token"),
            F.col("m.df").cast("long").alias("df"))
    sdict = vocab.groupBy(slot).agg(F.min("token").alias("token"))
    return sdict.select(
        (F.row_number().over(w) - 1).cast("long").alias("sid"), "token")


def _stored_queries_from_sidx(spark: SparkSession, sidx: DataFrame,
                              n_queries: int, k: int) -> DataFrame:
    """(query_id, token): k distinct deterministic terms per stored query,
    synthesized in O(|Q|·k) over a prebuilt slot dictionary ``sidx``
    (:func:`slot_dictionary`, ≤ PERC_SLOTS rows — inline or read back
    from the index's ``percslots`` sidecar). The |Q|·k slot picks join
    the broadcast dictionary. Distinctness: slots are an arithmetic
    progression mod S with step ∈ [1, S-1] and 2·step ≢ 0 (mod S)
    (guarded for even S), so for k ≤ 3 the k slots — hence the k tokens,
    one per slot — never collide."""
    s_count = sidx.agg(F.count(F.lit(1)).alias("S"))
    qid_s = F.col("query_id").cast("string")
    base = F.pmod(_hash32(F.concat(F.lit("b|"), qid_s)), F.col("S"))
    step0 = F.lit(1) + F.pmod(_hash32(F.concat(F.lit("s|"), qid_s)),
                              F.col("S") - 1)
    step = F.when((F.pmod(F.col("S"), F.lit(2)) == 0)
                  & (F.col("step0") == F.floor(F.col("S") / 2)),
                  F.col("step0") + 1).otherwise(F.col("step0"))
    picks = (spark.range(n_queries).select(F.col("id").alias("query_id"))
             .crossJoin(F.broadcast(s_count))
             # degenerate dictionaries break the progression invariants
             # DIFFERENTLY in each engine (S=1: null vs %0 error; S=2:
             # the even-S guard maps the only valid step onto 0) — fail
             # loudly in-plan instead of diverging. assert_true returns
             # NULL on success, so the filter passes every row.
             .filter(F.assert_true(
                 F.col("S") >= k + 2,
                 F.lit("stored-query synthesis needs a slot dictionary "
                       f"of at least {k + 2} tokens")).isNull())
             .select("query_id", "S", base.alias("base"),
                     step0.alias("step0"))
             .select("query_id", "S", "base", step.alias("step"))
             .select("query_id",
                     F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
                     "S", "base", "step")
             .select("query_id",
                     F.pmod(F.col("base") + F.col("j") * F.col("step"),
                            F.col("S")).alias("sid")))
    return (picks.join(F.broadcast(sidx), "sid")
            .select("query_id", "token"))


def _stored_sql(n_queries: int, k: int) -> str:
    """DuckDB twin of :func:`_stored_queries_from_sidx` over an inline
    slot dictionary — CTE chain ending in ``stored(query_id, token)``;
    splice after a ``vocab(token)`` CTE."""
    return f"""
sdict AS (
  SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT % {PERC_SLOTS} AS slot,
         min(token) AS token
  FROM vocab GROUP BY 1),
sidx AS (
  SELECT row_number() OVER (ORDER BY slot) - 1 AS sid, token FROM sdict),
scount AS (SELECT count(*) AS S FROM sidx),
qids AS (SELECT unnest(range(0, {n_queries})) AS query_id),
qbase AS (
  SELECT query_id, S,
         ('0x' || substr(md5('b|' || CAST(query_id AS VARCHAR)), 1, 8))::BIGINT
           % S AS base,
         1 + ('0x' || substr(md5('s|' || CAST(query_id AS VARCHAR)), 1, 8))::BIGINT
           % (S - 1) AS step0
  FROM qids, scount),
qstep AS (
  SELECT query_id, S, base,
         CASE WHEN S % 2 = 0 AND step0 = S // 2 THEN step0 + 1
              ELSE step0 END AS step
  FROM qbase),
stored AS (
  SELECT s.query_id, sidx.token FROM (
    SELECT q.query_id, (q.base + j.j * q.step) % q.S AS sid
    FROM qstep q CROSS JOIN (SELECT unnest(range(0, {k})) AS j) j) s
  JOIN sidx USING (sid))"""


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolate the corpus against {PERC_N_QUERIES} stored 2-term AND
    queries: per stored query, how many documents match all its terms,
    with the query's terms listed for auditability.

    Scale shape (round 8: index-served): stored queries synthesize from
    the index's persisted ``percslots`` dictionary — the per-query vocab
    pass (tokenize corpus → distinct → slot ranking, the fixed ~1 s
    stage round 7 measured) is paid once at build time. The candidate
    postings read PRUNES to the |Q|·k stored terms' buckets (driver-side
    xxh64 literals, the same seek a real percolator's term-to-query
    index does); the AND evaluation is one partial-aggregated groupBy on
    (doc, query) counting matched terms — never a per-query corpus scan,
    never a cross join. At 100 TB with millions of stored queries the
    broadcast swaps for a hash join on token."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        ensure_index,
        read_percstored,
        read_postings,
    )

    idx = ensure_index(spark, sf_dir)
    # Registered at build time (layout v9): the |Q|·k stored relation is
    # a single-file sidecar — the per-query synthesis (+ the driver
    # round-trip that kept it from re-running per consumer) is gone from
    # the serving path.
    stored = read_percstored(spark, idx)
    # |Q|·k is a small constant here (24 terms): collecting them enables
    # bucket-literal pruning of the postings read — the bounded-literal
    # pattern the ANN probe path established.
    qterms = tuple(sorted({r.token for r in stored.collect()}))
    doc_tok = read_postings(spark, idx, qterms).select("doc_id", "token")
    matched = (doc_tok.join(F.broadcast(stored), "token")
               .groupBy("doc_id", "query_id")
               .agg(F.count(F.lit(1)).alias("n_terms"))
               .filter(F.col("n_terms") == PERC_TERMS_PER_QUERY))
    per_query = (matched.groupBy("query_id")
                 .agg(F.count(F.lit(1)).alias("n_matching_docs")))
    terms = stored.groupBy("query_id").agg(
        F.array_join(F.array_sort(F.collect_list("token")), ",")
        .alias("terms"))
    return (terms.join(per_query, "query_id", "left")
            .select("query_id", "terms",
                    F.coalesce("n_matching_docs", F.lit(0)).cast("long")
                    .alias("n_matching_docs")))


QUERIES["q_percolate"] = q_percolate

ORACLES["q_percolate"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
vocab AS (SELECT DISTINCT token FROM tok),
{_stored_sql(PERC_N_QUERIES, PERC_TERMS_PER_QUERY)},
doc_tok AS (SELECT DISTINCT doc_id, token FROM tok),
matched AS (
  SELECT doc_id, query_id, count(*) AS n_terms
  FROM doc_tok JOIN stored USING (token)
  GROUP BY doc_id, query_id
  HAVING count(*) = {PERC_TERMS_PER_QUERY}),
per_query AS (
  SELECT query_id, count(*) AS n_matching_docs FROM matched GROUP BY query_id),
terms AS (
  SELECT query_id,
         array_to_string(list_sort(list(token)), ',') AS terms
  FROM stored GROUP BY query_id)
SELECT t.query_id, t.terms,
       CAST(coalesce(p.n_matching_docs, 0) AS BIGINT) AS n_matching_docs
FROM terms t LEFT JOIN per_query p USING (query_id)"""


# ---------------------------------------------------------------------------
# Percolator at registration scale — the stored-QUERY inverted index.
# q_percolate demonstrates the semantics over a dozen stored queries;
# production percolation registers thousands-to-millions of alert queries
# (ES stores them as documents in a dedicated index and matches via a
# term-to-query inverted index). This variant builds exactly that:
#
#   1. stored queries     — a RELATION (query_id, token), synthesized
#      deterministically (same O(|Q|·k) hash-slot selection as
#      q_percolate) so both engines derive the identical query set;
#   2. canonicalization   — queries dedupe to their distinct TERM SETS
#      (md5 of the sorted term list). AND-matching depends only on the
#      term set, so the corpus-side work is bounded by |distinct sets|,
#      not |registered queries| — ES's percolator caches canonical query
#      shapes for the same reason. The fan-back to per-query results is a
#      hash join on the termset key, never a corpus operation;
#   3. matching           — per document, the registered-token set builds
#      in ONE shuffle keyed on doc_id; its ordered pairs expand map-side,
#      survive a broadcast membership join against the termset dictionary,
#      and partial-aggregate straight down to |termsets| counts. No
#      per-query corpus scan, no cross join, no corpus-sized join or sort
#      anywhere — the only corpus-sized shuffle is keyed on doc_id.

PERC_IDX_N_QUERIES = 10_000


def q_percolate_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolate the corpus against {PERC_IDX_N_QUERIES} stored 2-term AND
    queries via the stored-query inverted index: per registered query, how
    many documents match all its terms.

    NOT the indexed twin of ``q_percolate``'s workload: that query
    evaluates 12 stored queries, this one registers 10,000 — bench times
    are not comparable between the two. The point of this variant is that
    its cost is bounded by |distinct term sets| and per-doc set size,
    independent of registration count."""
    # Index-served (round 8): stored queries synthesize from the
    # persisted ``percslots`` dictionary and the matching side reads the
    # index postings — (doc_id, token) rows, already distinct per pair —
    # so the per-query corpus tokenization (the round-7 fixed stage) is
    # gone; the registration-scale claims below are unchanged.
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        ensure_index,
        read_percqueries_k2,
        read_postings,
    )

    idx = ensure_index(spark, sf_dir)
    posts = read_postings(spark, idx).select("doc_id", "token")
    # Registered at build time (layout v9): the canonical term sets are a
    # single-file sidecar — the synthesis + canonicalization (and the
    # eager localCheckpoint that kept them from re-running per consumer)
    # are gone from the serving path. The INTERNAL set key is a 64-bit
    # hash (long group keys shuffle ~40% cheaper than md5 strings here);
    # only (query_id, terms, count) ever leaves the query, so the oracle
    # is free to key sets its own way.
    qsets = read_percqueries_k2(spark, idx)
    # AND-matching WITHOUT a corpus-sized join: per document, build the
    # set of its tokens that any stored query registers (semi-join against
    # the broadcast query vocabulary, one shuffle keyed on doc_id), expand
    # its ordered token PAIRS map-side (≤ C(|qt|,2) per doc), keep only
    # pairs that ARE a registered termset (broadcast hash join — no
    # shuffle), and collapse them immediately in a partial agg whose
    # distinct-group count is |termsets| — the per-task hash map stays
    # tiny and nothing corpus-sized is ever sorted. Two earlier shapes
    # both failed a scale notch: groupBy(doc_id, set_key) HAVING-count
    # held |docs × sets-per-token| groups (driver OOM at sf1), and the
    # pair-intersection sort-merge join built the same-sized JOIN
    # intermediate instead (spill-to-death at sf3). For k>2 terms the
    # pair expansion generalizes to ES's rarest-term candidate generation
    # + per-doc verify over the (broadcast) stored sets.
    pairs = qsets.select(
        "set_key",
        F.split("terms", ",").getItem(0).alias("t1"),
        F.split("terms", ",").getItem(1).alias("t2")).distinct()
    qvocab = (pairs.select(F.col("t1").alias("token"))
              .unionByName(pairs.select(F.col("t2").alias("token")))
              .distinct())
    doc_terms = (posts.join(F.broadcast(qvocab), "token", "left_semi")
                 .groupBy("doc_id")
                 .agg(F.sort_array(F.collect_set("token")).alias("qt")))
    # Ordered-pair expansion as two codegen'd explodes over the ATTRIBUTE
    # column + a string-compare filter (qt is sorted and duplicate-free,
    # so t2 > t1 enumerates exactly the ordered pairs). The earlier
    # nested-transform/filter/flatten form built the same pairs through
    # interpreted higher-order functions — measured 6x slower at sf1.
    doc_pairs = (doc_terms.select("doc_id", F.explode("qt").alias("t1"),
                                  "qt")
                 .select("doc_id", "t1", F.explode("qt").alias("t2"))
                 .filter(F.col("t2") > F.col("t1")))
    per_set = (doc_pairs.join(F.broadcast(pairs), ["t1", "t2"])
               .groupBy("set_key")
               .agg(F.count(F.lit(1)).alias("n_matching_docs")))
    return (qsets.join(per_set, "set_key", "left")
            .select("query_id", "terms",
                    F.coalesce("n_matching_docs", F.lit(0)).cast("long")
                    .alias("n_matching_docs")))


QUERIES["q_percolate_indexed"] = q_percolate_indexed

ORACLES["q_percolate_indexed"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
vocab AS (SELECT DISTINCT token FROM tok),
{_stored_sql(PERC_IDX_N_QUERIES, PERC_TERMS_PER_QUERY)},
qsets AS (
  SELECT query_id,
         array_to_string(list_sort(list(token)), ',') AS terms,
         md5(array_to_string(list_sort(list(token)), ',')) AS set_key
  FROM stored GROUP BY query_id),
-- Match via the same bounded pair-expansion shape as the Spark side:
-- the naive (doc, set) GROUP BY ... HAVING holds |docs| x |sets-per-token|
-- groups (a ~230M-group hash aggregate at the 100x fixture that ground
-- DuckDB to tens of minutes and ~90 GB); expanding each document's
-- ordered registered-token pairs and probing the <=C(vocab,2) distinct
-- pair dictionary streams the same answer through a tiny aggregate.
set_pairs AS (
  SELECT DISTINCT set_key,
         string_split(terms, ',')[1] AS t1,
         string_split(terms, ',')[2] AS t2
  FROM qsets),
qvocab AS (
  SELECT t1 AS token FROM set_pairs UNION SELECT t2 FROM set_pairs),
doc_tok AS (SELECT DISTINCT doc_id, token FROM tok),
doc_tok_q AS (SELECT doc_id, token FROM doc_tok JOIN qvocab USING (token)),
doc_pairs AS (
  SELECT a.doc_id, a.token AS t1, b.token AS t2
  FROM doc_tok_q a JOIN doc_tok_q b
    ON a.doc_id = b.doc_id AND a.token < b.token),
per_set AS (
  SELECT p.set_key, count(*) AS n_matching_docs
  FROM doc_pairs d JOIN set_pairs p ON d.t1 = p.t1 AND d.t2 = p.t2
  GROUP BY p.set_key)
SELECT q.query_id, q.terms,
       CAST(coalesce(p.n_matching_docs, 0) AS BIGINT) AS n_matching_docs
FROM qsets q LEFT JOIN per_set p USING (set_key)"""


# ---------------------------------------------------------------------------
# span_near + boosting — the two remaining everyday compound-query shapes.

SLOP_TERMS = ("data", "window")   # in-order proximity pair
SLOP = 2                          # max tokens BETWEEN the two terms
BOOST_POS = "table"               # boosting.positive term
BOOST_NEG = "slow"                # boosting.negative term
BOOST_FACTOR = 0.5                # negative_boost


def q_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_near`` / ``match_phrase`` with ``slop``: in-order
    occurrences of ("data" .. "window") with at most {SLOP} tokens between
    them, per document — with the tightest gap found.

    Scale shape: both sides are single-term slices of the positional
    postings (below-shuffle term filters), equi-joined on doc_id with the
    proximity window as a post-join range predicate — a few rows per
    matching doc ever shuffle, and the aggregate is one partial-agg
    groupBy. The phrase (slop=0) query stays the pure (doc_id, pos+1)
    equi-join; slop>0 pays the doc-keyed join, exactly like Lucene's
    SpanNearQuery position intersection."""
    p = _postings(load_table(spark, sf_dir, "documents"))
    w1 = p.filter(F.col("token") == SLOP_TERMS[0]).select("doc_id", F.col("pos").alias("p1"))
    w2 = p.filter(F.col("token") == SLOP_TERMS[1]).select("doc_id", F.col("pos").alias("p2"))
    gap = F.col("p2") - F.col("p1") - 1
    return (w1.join(w2, "doc_id")
            .filter((F.col("p2") > F.col("p1")) & (gap <= SLOP))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.min(gap).cast("long").alias("min_gap")))


def q_boosting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boosting`` query: BM25 on the positive term, demoted by
    ``negative_boost`` for documents also matching the negative term
    (down-rank, not exclude — the difference from bool.must_not).

    Scale shape: the positive branch is the per-term BM25 core (term
    filter below the shuffle, broadcast df/stats); the negative doc set is
    another single-term postings slice, LEFT semi-style via a left join on
    doc_id + null test; ranking is TakeOrderedAndProject."""
    pos = (_per_term_bm25(spark, sf_dir, (BOOST_POS,))
           .groupBy("doc_id").agg(F.sum("c").alias("pos_score")))
    neg = (_postings(load_table(spark, sf_dir, "documents"))
           .filter(F.col("token") == BOOST_NEG)
           .select("doc_id").distinct()
           .withColumn("is_neg", F.lit(1)))
    scored = (pos.join(neg, "doc_id", "left")
              .select("doc_id",
                      roundn_col(F.when(F.col("is_neg").isNotNull(),
                                        F.col("pos_score") * BOOST_FACTOR)
                                 .otherwise(F.col("pos_score")))
                      .alias("score")))
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(DIS_MAX_TOP)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


QUERIES["q_phrase_slop"] = q_phrase_slop
QUERIES["q_boosting"] = q_boosting

ORACLES["q_phrase_slop"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
w1 AS (SELECT doc_id, pos AS p1 FROM tok WHERE token = '{SLOP_TERMS[0]}'),
w2 AS (SELECT doc_id, pos AS p2 FROM tok WHERE token = '{SLOP_TERMS[1]}')
SELECT doc_id, count(*) AS n_spans,
       CAST(min(p2 - p1 - 1) AS BIGINT) AS min_gap
FROM w1 JOIN w2 USING (doc_id)
WHERE p2 > p1 AND p2 - p1 - 1 <= {SLOP}
GROUP BY doc_id"""

ORACLES["q_boosting"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
dl AS (SELECT doc_id, CAST({_DL_SQL} AS BIGINT) AS dl
       FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 avg({_DL_SQL}) AS avgdl FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token = '{BOOST_POS}' GROUP BY doc_id, token),
dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
pos AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1)) /
           (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))
         AS pos_score
  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id),
neg AS (SELECT DISTINCT doc_id FROM tok WHERE token = '{BOOST_NEG}'),
scored AS (
  SELECT p.doc_id,
         {roundn_sql(f"CASE WHEN n.doc_id IS NOT NULL "
                     f"THEN p.pos_score * {BOOST_FACTOR} "
                     f"ELSE p.pos_score END")} AS score
  FROM pos p LEFT JOIN neg n USING (doc_id)),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {DIS_MAX_TOP}"""


# ---------------------------------------------------------------------------
# top_hits aggregation + field collapsing — the last two result-shaping
# DSL features an ES user reaches for routinely.

TOP_HITS_PER_BUCKET = 2
COLLAPSE_FIELD = "source"


def q_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``top_hits`` aggregation: per ``lang`` bucket, the top
    {TOP_HITS_PER_BUCKET} documents by length (n_chars desc, doc_id asc)
    with their in-bucket rank.

    Scale shape: ONE window keyed on the bucket field — partitioned rank,
    never a global sort; at 100 TB the per-bucket top-k is exactly the
    partial top-k ES's shards compute."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    return (docs.select("lang", "doc_id", "n_chars")
            .withColumn("bucket_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("bucket_rank") <= TOP_HITS_PER_BUCKET))


def q_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing: the BM25 ranking collapsed to ONE hit per
    ``{COLLAPSE_FIELD}`` (the best-scoring doc of each source), re-ranked
    — search-result diversification as ES ships it.

    Scale shape: the scored relation is the shared BM25 core (term filter
    below the shuffle); collapsing is a per-field window over docs that
    MATCHED the query (a tiny fraction of the corpus), and the final
    ranking takes only the request's ``size`` hits (ES default-page
    semantics) as a TakeOrderedAndProject — never a global sort over one
    row per field value, whose cardinality is unbounded (collapse on a
    user-id-like field is corpus-sized)."""
    from elasticsearch_hbase_river_spark.operators.search import bm25_scores

    scored = bm25_scores(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", COLLAPSE_FIELD)
    wc = Window.partitionBy(COLLAPSE_FIELD).orderBy(
        F.col("score").desc(), F.col("doc_id"))
    best = (scored.join(src, "doc_id")
            .withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") == 1)
            .select(COLLAPSE_FIELD, "doc_id", "score"))
    top = best.orderBy(F.col("score").desc(), F.col("doc_id")).limit(DIS_MAX_TOP)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


QUERIES["q_top_hits"] = q_top_hits
QUERIES["q_collapse"] = q_collapse

ORACLES["q_top_hits"] = f"""
SELECT lang, doc_id, n_chars,
       CAST(row_number() OVER (PARTITION BY lang
                               ORDER BY n_chars DESC, doc_id) AS BIGINT)
         AS bucket_rank
FROM documents
QUALIFY bucket_rank <= {TOP_HITS_PER_BUCKET}"""


def _collapse_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.search import (
        _BM25_TERMS_SQL, _POSTINGS_SQL,
    )

    return f"""
WITH tok AS ({_POSTINGS_SQL}),
dl AS (SELECT doc_id, CAST({_DL_SQL} AS BIGINT) AS dl
       FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 avg({_DL_SQL}) AS avgdl FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, token),
dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         {roundn_sql(f'''sum(ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1)) /
           (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl)))''')}
         AS score
  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id), stats
  GROUP BY tf.doc_id),
best AS (
  SELECT {COLLAPSE_FIELD}, doc_id, score FROM (
    SELECT d.{COLLAPSE_FIELD}, s.doc_id, s.score,
           row_number() OVER (PARTITION BY d.{COLLAPSE_FIELD}
                              ORDER BY s.score DESC, s.doc_id) AS rn
    FROM scored s JOIN documents d USING (doc_id))
  WHERE rn = 1)
SELECT {COLLAPSE_FIELD}, doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM best
QUALIFY rank <= {DIS_MAX_TOP}"""


ORACLES["q_collapse"] = _collapse_oracle()


# ---------------------------------------------------------------------------
# Percolator, k=3 terms — ES's actual multi-term percolation strategy:
# the pair expansion of q_percolate_indexed is exact for 2-term sets but
# C(|qt|,k) explodes for k>=3; production percolators instead generate
# candidates from each stored query's RAREST term (its shortest postings
# list — Lucene's term-at-a-time cost ordering) and verify the remaining
# terms per candidate document.

PERC_K3_N_QUERIES = 10_000
PERC_K3_TERMS = 3


def percolate_k3_registry(spark: SparkSession,
                          sidx: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build-time registration of the k3 percolate workload — ES's
    percolator model, where stored queries are indexed documents. From
    the slot dictionary ``sidx`` (sid, token, df), derive:

    - ``qsets`` (query_id, terms, set_key): each registered query's
      canonical sorted term list and its term-SET key (the percolation
      unit — distinct sets bound the serving work, not |Q|);
    - ``rare`` (set_key, token, o1, o2): each distinct set's RAREST
      term (min corpus df — Lucene's term-at-a-time cost ordering,
      ranked from the dictionary's persisted df, layout v7) plus the
      two remaining terms to verify.

    Persisted as the ``percqueries_k3`` / ``percsets_k3`` sidecars
    (layout v8) so serving pays only the match joins: the synthesis,
    canonicalization and ranking stages here were ~2-3 s of per-query
    fixed cost when run at percolation time."""
    stored = _stored_queries_from_sidx(
        spark, sidx.select("sid", "token"),
        PERC_K3_N_QUERIES, PERC_K3_TERMS)
    qsets = (stored.groupBy("query_id")
             .agg(F.array_join(F.array_sort(
                 F.collect_list("token")), ",").alias("terms"))
             .withColumn("set_key", F.xxhash64("terms")))
    t = F.split("terms", ",")
    sets = (qsets.select("set_key",
                         t.getItem(0).alias("t1"),
                         t.getItem(1).alias("t2"),
                         t.getItem(2).alias("t3")).distinct())
    dfr = sidx.select("token", "df")
    melted = sets.select(
        "set_key", "t1", "t2", "t3",
        F.explode(F.array("t1", "t2", "t3")).alias("token"))
    wr = Window.partitionBy("set_key").orderBy("df", "token")
    rare = (melted.join(F.broadcast(dfr), "token")
            .withColumn("r", F.row_number().over(wr))
            .filter(F.col("r") == 1)
            .select("set_key", "token",
                    F.filter(F.array("t1", "t2", "t3"),
                             lambda x: x != F.col("token")).alias("others"))
            .select("set_key", "token",
                    F.col("others").getItem(0).alias("o1"),
                    F.col("others").getItem(1).alias("o2")))
    return qsets, rare


def percolate_k2_registry(spark: SparkSession,
                          sidx: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build-time registration of the two k2 percolate workloads (layout
    v9, same ES percolator model as :func:`percolate_k3_registry`):

    - ``qsets`` (query_id, terms, set_key): the {PERC_IDX_N_QUERIES}
      registration-scale queries of ``q_percolate_indexed``, canonical
      sorted term list + term-SET key;
    - ``stored`` (query_id, token): the {PERC_N_QUERIES}-query workload
      of ``q_percolate``.

    Both are constant-bounded (|Q|·k rows). Serving previously re-ran
    the synthesis + canonicalization (an eager localCheckpoint) per
    percolation — measured ~2-4 s of fixed cost per query at bench
    time."""
    sid_tok = sidx.select("sid", "token")
    big = _stored_queries_from_sidx(
        spark, sid_tok, PERC_IDX_N_QUERIES, PERC_TERMS_PER_QUERY)
    qsets = (big.groupBy("query_id")
             .agg(F.array_join(F.array_sort(
                 F.collect_list("token")), ",").alias("terms"))
             .withColumn("set_key", F.xxhash64("terms")))
    stored = _stored_queries_from_sidx(
        spark, sid_tok, PERC_N_QUERIES, PERC_TERMS_PER_QUERY)
    return qsets, stored


def q_percolate_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolate the corpus against {PERC_K3_N_QUERIES} stored 3-term AND
    queries: per registered query, how many documents match ALL three
    terms — rarest-term candidate generation + per-doc set verify.

    Scale shape: stored queries canonicalize to distinct term SETS (the
    percolation unit, bounded by |registered sets| not |queries|); each
    set's candidates are the documents holding its RAREST term (cost =
    Σ min-df, the smallest possible candidate stream on a Zipf
    vocabulary — never the corpus and never C(|qt|,3) pair expansion);
    verification checks the two remaining terms with two NARROW
    equi-joins against the registered-token postings (nothing wider than
    four string columns; partial-aggregates straight to |sets| counts —
    per-doc token-set arrays OOMed at the 100x fixture, whose tiny vocab
    makes even the rarest term corpus-common). No cross join, no
    corpus-sized sort, no per-query corpus work."""
    # Index-served (round 8): percslots replaces the per-query vocab pass
    # and the index postings replace the corpus re-tokenization. Round 11
    # moves query REGISTRATION into the build too (layout v8, ES's
    # percolator model): the stored-query synthesis, set
    # canonicalization (a groupBy + driver pin) and rarest-term ranking
    # are read back as the percqueries_k3/percsets_k3 sidecars — tiny
    # single-file parquet, so serving pays only the match joins.
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        ensure_index,
        read_percqueries_k3,
        read_postings,
    )

    idx = ensure_index(spark, sf_dir)
    posts = read_postings(spark, idx).select("doc_id", "token")
    qsets, rare = read_percqueries_k3(spark, idx)
    qvocab = (rare.select("token")
              .unionByName(rare.select(F.col("o1").alias("token")))
              .unionByName(rare.select(F.col("o2").alias("token")))
              .distinct())
    # registered-token slice of the corpus, shared by candidate
    # generation and both verify joins. Serialized memory-first with
    # disk spill (the §9a A/B): blocks evict under pressure instead of
    # OOMing — the round-4 "never pin corpus-scale" lesson applied to
    # the DESERIALIZED level — while skipping DISK_ONLY's cold write of
    # the whole slice.
    from pyspark import StorageLevel

    # index postings are already distinct per (token, doc_id) — no
    # distinct shuffle needed on the registered-token slice
    dtq = (posts.join(F.broadcast(qvocab), "token", "left_semi")
           .persist(StorageLevel.MEMORY_AND_DISK))
    # Verification as two NARROW equi-joins against the registered-token
    # postings — never a per-doc array. The earlier shape collected each
    # doc's registered-token SET and joined it onto every candidate row
    # for an array_contains check; with a degenerate (tiny-vocab) fixture
    # the rarest term is still corpus-common, the candidate stream is
    # |sets|·df-sized, and candidate×array rows OOMed the default 1 GB
    # heap at the 100x fixture. The equi-join form streams the same
    # verification through sort-merge joins with nothing wider than four
    # string columns per row, partial-aggregating straight to |sets|
    # counts. (On a real Zipf vocabulary the candidate stream is Σ min-df
    # — small; this shape only changes what happens when it isn't.)
    cand = dtq.join(F.broadcast(rare), "token").select(
        "doc_id", "set_key", "o1", "o2")
    m1 = cand.join(dtq.select("doc_id", F.col("token").alias("o1")),
                   ["doc_id", "o1"])
    m2 = m1.join(dtq.select("doc_id", F.col("token").alias("o2")),
                 ["doc_id", "o2"])
    per_set = (m2.groupBy("set_key")
               .agg(F.count(F.lit(1)).alias("n_matching_docs")))
    return (qsets.join(per_set, "set_key", "left")
            .select("query_id", "terms",
                    F.coalesce("n_matching_docs", F.lit(0)).cast("long")
                    .alias("n_matching_docs")))


QUERIES["q_percolate_k3"] = q_percolate_k3

ORACLES["q_percolate_k3"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
vocab AS (SELECT DISTINCT token FROM tok),
{_stored_sql(PERC_K3_N_QUERIES, PERC_K3_TERMS)},
qsets AS (
  SELECT query_id,
         array_to_string(list_sort(list(token)), ',') AS terms
  FROM stored GROUP BY query_id),
sets AS (
  SELECT DISTINCT terms,
         string_split(terms, ',')[1] AS t1,
         string_split(terms, ',')[2] AS t2,
         string_split(terms, ',')[3] AS t3
  FROM qsets),
qvocab AS (
  SELECT t1 AS token FROM sets
  UNION SELECT t2 FROM sets
  UNION SELECT t3 FROM sets),
doc_tok AS (SELECT DISTINCT doc_id, token FROM tok),
dtq AS (SELECT doc_id, token FROM doc_tok JOIN qvocab USING (token)),
dfr AS (SELECT token, count(*) AS df FROM dtq GROUP BY token),
melted AS (
  SELECT terms, t1, t2, t3, unnest([t1, t2, t3]) AS token FROM sets),
rare AS (
  SELECT terms, token AS rarest,
         list_filter([t1, t2, t3], x -> x <> token)[1] AS o1,
         list_filter([t1, t2, t3], x -> x <> token)[2] AS o2
  FROM (
    SELECT m.terms, m.t1, m.t2, m.t3, m.token,
           row_number() OVER (PARTITION BY m.terms
                              ORDER BY dfr.df, m.token) AS r
    FROM melted m JOIN dfr USING (token))
  WHERE r = 1),
cand AS (
  SELECT d.doc_id, r.terms, r.o1, r.o2
  FROM dtq d JOIN rare r ON d.token = r.rarest),
-- same narrow equi-join verification as the Spark side: per-doc list
-- materialization ground at the 100x fixture, streamed joins don't
m1 AS (
  SELECT c.doc_id, c.terms, c.o2
  FROM cand c JOIN dtq d ON c.doc_id = d.doc_id AND c.o1 = d.token),
per_set AS (
  SELECT m.terms, count(*) AS n
  FROM m1 m JOIN dtq d ON m.doc_id = d.doc_id AND m.o2 = d.token
  GROUP BY m.terms)
SELECT q.query_id, q.terms,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_matching_docs
FROM qsets q LEFT JOIN per_set p USING (terms)"""
