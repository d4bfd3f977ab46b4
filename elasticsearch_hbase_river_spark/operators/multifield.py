"""Multi-field documents + ES ``multi_match`` (best_fields / cross_fields).

The reference's entire data model is MULTI-FIELD: `HBaseParser.java:204-216`
(`readDataTree`) pivots each row's qualifiers into a nested document with
many fields, and `HBaseRiver.java:217-232` bootstraps the ES mapping for
them — the #1 query an ES user runs against such documents is
``multi_match`` across fields with per-field boosts. This module adds that
surface over a deterministic two-field view of the corpus:

- ``title`` = the first :data:`TITLE_LEN` ANALYZED tokens of ``text``
- ``body``  = the rest

(the split is mirrored token-for-token in the oracles, so both engines
derive the identical fielded corpus; positions are document-absolute, which
is what lets the materialized single-field index serve fielded queries —
see ``q_multi_match_indexed`` and `indexed_search.py` layout v3).

Semantics (documented precisely so the oracle is the spec):

- Per-field BM25 mirrors Lucene's per-field statistics: ``df_f`` counts
  docs containing the term IN that field; ``n_f`` counts docs that HAVE
  the field (``dl_f > 0``); ``avgdl_f = Σ dl_f / n_f`` over those docs.
- ``best_fields``: per-field query score ``s_f = boost_f · Σ_t
  idf_f(t)·tfnorm_f(t)``, combined as Lucene's DisjunctionMaxQuery:
  ``max_f s_f + tie_breaker · (Σ_f s_f − max_f s_f)``.
- ``cross_fields``: per-term statistics BLEND across fields the way ES's
  BlendedTermQuery does — ``df_blend(t) = max_f df_f(t)`` against the
  whole-corpus ``N`` — and every field occurrence scores with the blended
  idf (its own per-field tf normalization and boost), summed per doc
  (Lucene blends with tie_breaker 1 = sum).

Scale shape (same posture as `search.py`): the term filter sits BELOW the
shuffle (only query-term occurrences aggregate); field stats are a 2-row
broadcast; per-field df a ≤|fields|·|terms|-row broadcast; ranking is
TakeOrderedAndProject with the rank window confined to the ≤k survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.analyzer import (
    ANALYZE_TOKS_SQL,
    analyze_tokens,
)
from elasticsearch_hbase_river_spark.functions.determinism import (
    roundn_col,
    roundn_sql,
)
from elasticsearch_hbase_river_spark.operators.search import (
    BM25_B,
    BM25_K1,
    _postings,
)
from elasticsearch_hbase_river_spark.sources.tables import load_table

#: Analyzed-token count of the derived ``title`` field (the rest is
#: ``body``). Also the postings split point served by the materialized
#: index (layout v3 stores per-posting ``tf_title``).
TITLE_LEN = 8

MM_TERMS = ("spark", "join")
MM_BOOSTS = {"title": 2.0, "body": 1.0}
MM_TIE = 0.3          # best_fields tie_breaker
MM_TOP = 10


def _boost_col() -> Column:
    return (F.when(F.col("field") == "title", F.lit(MM_BOOSTS["title"]))
            .otherwise(F.lit(MM_BOOSTS["body"])))


def _field_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, field, dl): per-document field lengths for docs that HAVE
    the field — melted long so the scoring join is keyed (doc_id, field)."""
    docs = load_table(spark, sf_dir, "documents")
    dl = F.size(analyze_tokens(F.col("text"))).cast("long")
    melted = docs.select(
        "doc_id",
        F.explode(F.array(
            F.struct(F.lit("title").alias("field"),
                     F.least(dl, F.lit(TITLE_LEN)).cast("long").alias("dl")),
            F.struct(F.lit("body").alias("field"),
                     F.greatest(dl - TITLE_LEN, F.lit(0)).cast("long")
                     .alias("dl")))).alias("fd"))
    return (melted.select("doc_id", F.col("fd.field").alias("field"),
                          F.col("fd.dl").alias("dl"))
            .filter(F.col("dl") > 0))


def _field_tf(spark: SparkSession, sf_dir: str,
              terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, field, token, tf) for the query terms: the positional
    postings get their field from the document-absolute position (< title
    length ⇒ title), with the term filter below the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    occ = (_postings(docs)
           .filter(F.col("token").isin(*terms))
           .select("doc_id", "token",
                   F.when(F.col("pos") < TITLE_LEN, F.lit("title"))
                   .otherwise(F.lit("body")).alias("field")))
    return (occ.groupBy("doc_id", "field", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def _field_stats(fdl: DataFrame) -> DataFrame:
    """2-row (field, n_docs, avgdl) — broadcast into scoring."""
    return (fdl.groupBy("field")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 (F.sum("dl").cast("double") / F.count(F.lit(1)))
                 .alias("avgdl")))


def _tfnorm() -> Column:
    return (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B
                                 + BM25_B * F.col("dl") / F.col("avgdl")))


def _ranked_topk(scored: DataFrame, top: int) -> DataFrame:
    out = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(top)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return out.withColumn("rank", F.row_number().over(w).cast("long"))


def q_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_match`` type ``best_fields`` over title^2/body for the
    fixed two-term query: per-field BM25 with per-field statistics,
    combined per doc as ``max + tie_breaker·(sum − max)``, top-10."""
    tf = _field_tf(spark, sf_dir, MM_TERMS)
    fdl = _field_dl(spark, sf_dir)
    df_ = tf.groupBy("field", "token").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    scored = (tf.join(F.broadcast(df_), ["field", "token"])
              .join(fdl, ["doc_id", "field"])
              .join(F.broadcast(_field_stats(fdl)), "field"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    per_field = (scored
                 .select("doc_id", "field",
                         (_boost_col() * idf * _tfnorm()).alias("c"))
                 .groupBy("doc_id", "field")
                 .agg(F.sum("c").alias("fscore")))
    per_doc = (per_field.groupBy("doc_id")
               .agg(F.max("fscore").alias("best"),
                    F.sum("fscore").alias("total")))
    return _ranked_topk(
        per_doc.select("doc_id", roundn_col(
            F.col("best")
            + F.lit(MM_TIE) * (F.col("total") - F.col("best")))
            .alias("score")),
        MM_TOP)


def q_multi_match_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``multi_match`` type ``cross_fields``: per-term document
    frequency blends across fields (``df = max_f df_f`` vs whole-corpus
    N — the BlendedTermQuery statistics), every field occurrence scores
    with the blended idf, its own field's tf normalization and boost, and
    the per-doc score is the plain sum (blended tie_breaker 1)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tf = _field_tf(spark, sf_dir, MM_TERMS)
    fdl = _field_dl(spark, sf_dir)
    df_blend = (tf.groupBy("field", "token")
                .agg(F.count(F.lit(1)).cast("long").alias("df_f"))
                .groupBy("token").agg(F.max("df_f").alias("df")))
    scored = (tf.join(F.broadcast(df_blend), "token")
              .join(fdl, ["doc_id", "field"])
              .join(F.broadcast(_field_stats(fdl)
                                .select("field", "avgdl")), "field")
              .crossJoin(F.broadcast(n_docs)))
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    per_doc = (scored
               .select("doc_id", (_boost_col() * idf * _tfnorm()).alias("c"))
               .groupBy("doc_id")
               .agg(roundn_col(F.sum("c")).alias("score")))
    return _ranked_topk(per_doc, MM_TOP)


def q_multi_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``best_fields`` served FROM the materialized index (layout v3): the
    query terms' postings come from their pruned buckets carrying
    ``tf_title`` (title-occurrence count — the fielded split of the
    stored positions) and ``dl``; per-field df from the vocab sidecar's
    ``df_title``/``df_body``; field N/avgdl are plan literals from the
    extended stats sidecar. Zero corpus scans; hash-equal to
    ``q_multi_match`` by the shared oracle."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        ensure_index,
        index_stats,
        read_postings,
        read_vocab,
    )

    idx = ensure_index(spark, sf_dir)
    st = index_stats(idx)
    p = read_postings(spark, idx, MM_TERMS, fields=True)
    # melt each posting into its per-field rows (map-side, ≤2× fan-out of
    # a pruned, query-term-sized relation)
    fp = (p.select(
        "doc_id", "token",
        F.explode(F.array(
            F.struct(F.lit("title").alias("field"),
                     F.col("tf_title").cast("long").alias("tf"),
                     F.least(F.col("dl"), F.lit(TITLE_LEN)).cast("long")
                     .alias("dl")),
            F.struct(F.lit("body").alias("field"),
                     (F.col("tf") - F.col("tf_title")).cast("long")
                     .alias("tf"),
                     F.greatest(F.col("dl") - TITLE_LEN, F.lit(0))
                     .cast("long").alias("dl")))).alias("f"))
        .select("doc_id", "token", F.col("f.field").alias("field"),
                F.col("f.tf").alias("tf"), F.col("f.dl").alias("dl"))
        .filter(F.col("tf") > 0))
    v = read_vocab(spark, idx, MM_TERMS, fields=True)
    df_ = (v.select(
        "token",
        F.explode(F.array(
            F.struct(F.lit("title").alias("field"),
                     F.col("df_title").alias("df")),
            F.struct(F.lit("body").alias("field"),
                     F.col("df_body").alias("df")))).alias("d"))
        .select("token", F.col("d.field").alias("field"),
                F.col("d.df").alias("df"))
        .filter(F.col("df") > 0))
    fstats = F.when(F.col("field") == "title",
                    F.lit(st["n_title"])).otherwise(F.lit(st["n_body"]))
    favg = F.when(F.col("field") == "title",
                  F.lit(st["avgdl_title"])).otherwise(F.lit(st["avgdl_body"]))
    idf = F.log(F.lit(1.0) + (fstats - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfnorm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / favg))
    per_field = (fp.join(F.broadcast(df_), ["field", "token"])
                 .select("doc_id", "field",
                         (_boost_col() * idf * tfnorm).alias("c"))
                 .groupBy("doc_id", "field")
                 .agg(F.sum("c").alias("fscore")))
    per_doc = (per_field.groupBy("doc_id")
               .agg(F.max("fscore").alias("best"),
                    F.sum("fscore").alias("total")))
    return _ranked_topk(
        per_doc.select("doc_id", roundn_col(
            F.col("best")
            + F.lit(MM_TIE) * (F.col("total") - F.col("best")))
            .alias("score")),
        MM_TOP)


QUERIES = {
    "q_multi_match": q_multi_match,
    "q_multi_match_cross": q_multi_match_cross,
    "q_multi_match_indexed": q_multi_match_indexed,
}

_MM_TERMS_SQL = ", ".join(f"'{t}'" for t in MM_TERMS)

#: Shared fielded-corpus CTEs: the oracle's spec of the title/body split.
_FIELDED_SQL = f"""
toks AS (SELECT doc_id, {ANALYZE_TOKS_SQL} AS toks FROM documents),
fdl AS (
  SELECT doc_id, 'title' AS field,
         CAST(least(len(toks), {TITLE_LEN}) AS BIGINT) AS dl
  FROM toks WHERE len(toks) > 0
  UNION ALL
  SELECT doc_id, 'body', CAST(len(toks) - {TITLE_LEN} AS BIGINT)
  FROM toks WHERE len(toks) > {TITLE_LEN}),
fstats AS (
  SELECT field, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM fdl GROUP BY field),
occ AS (
  SELECT doc_id, unnest(toks) AS token,
         CAST(unnest(range(len(toks))) AS BIGINT) AS pos
  FROM toks),
ftf AS (
  SELECT doc_id,
         CASE WHEN pos < {TITLE_LEN} THEN 'title' ELSE 'body' END AS field,
         token, CAST(count(*) AS BIGINT) AS tf
  FROM occ WHERE token IN ({_MM_TERMS_SQL})
  GROUP BY 1, 2, 3)"""

_BOOST_SQL = (f"CASE WHEN field = 'title' THEN {MM_BOOSTS['title']!r}"
              f" ELSE {MM_BOOSTS['body']!r} END")

_TFNORM_SQL = (f"(tf * ({BM25_K1} + 1)) / (tf + {BM25_K1}"
               f" * (1 - {BM25_B} + {BM25_B} * dl / avgdl))")

ORACLES = {
    "q_multi_match": f"""
WITH {_FIELDED_SQL},
dfr AS (
  SELECT field, token, CAST(count(*) AS BIGINT) AS df
  FROM ftf GROUP BY field, token),
contrib AS (
  SELECT ftf.doc_id, ftf.field,
         {_BOOST_SQL}
         * ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * {_TFNORM_SQL} AS c
  FROM ftf
  JOIN dfr USING (field, token)
  JOIN fdl USING (doc_id, field)
  JOIN fstats s USING (field)),
perf AS (
  SELECT doc_id, field, sum(c) AS fscore FROM contrib GROUP BY doc_id, field),
perdoc AS (
  SELECT doc_id, max(fscore) AS best, sum(fscore) AS total
  FROM perf GROUP BY doc_id),
scored AS (
  SELECT doc_id,
         {roundn_sql(f"best + {MM_TIE} * (total - best)")} AS score
  FROM perdoc),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {MM_TOP}""",

    "q_multi_match_cross": f"""
WITH {_FIELDED_SQL},
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
dfb AS (
  SELECT token, max(df_f) AS df FROM (
    SELECT field, token, CAST(count(*) AS BIGINT) AS df_f
    FROM ftf GROUP BY field, token)
  GROUP BY token),
contrib AS (
  SELECT ftf.doc_id,
         {_BOOST_SQL}
         * ln(1.0 + (n.n - dfb.df + 0.5) / (dfb.df + 0.5))
         * {_TFNORM_SQL} AS c
  FROM ftf
  JOIN dfb USING (token)
  JOIN fdl USING (doc_id, field)
  JOIN fstats USING (field), n),
scored AS (
  SELECT doc_id, {roundn_sql('sum(c)')} AS score
  FROM contrib GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {MM_TOP}""",
}

#: The indexed twin answers the same question — shared oracle proves
#: index-served fielded scoring == the corpus rebuild, hash-for-hash.
ORACLES["q_multi_match_indexed"] = ORACLES["q_multi_match"]
