"""ES query-DSL pack 4: span/regexp/query-string term-level queries, the
remaining bucket/pipeline aggregations, and the sampling aggs.

The reference indexes river documents for the full ES search surface
(`HBaseRiver.java:1-35`); packs 1-3 cover scoring, joins, geo, stats and
the everyday bucket families. This pack closes the rest of the published
DSL:

Term-level / full-text:
- ``q_regexp_search``       : ES ``regexp`` query — analyzed tokens
  matching an anchored character-class regex, per matching document.
- ``q_match_phrase_prefix`` : ES ``match_phrase_prefix`` — exact first
  term, last position expanded by prefix.
- ``q_span_first``          : ES ``span_first`` — term confined to the
  first N positions of the field.
- ``q_span_near``           : ES ``span_near`` (``in_order=false``) —
  two terms within ``slop`` positions, either order.
- ``q_span_not``            : ES ``span_not`` — include-term occurrences
  outside the exclusion distance of the exclude term.
- ``q_distance_feature``    : ES ``distance_feature`` — recency boost
  ``boost * pivot / (pivot + |ts - origin|)``, top-k.
- ``q_rank_feature``        : ES ``rank_feature`` — saturation / log /
  sigmoid scoring over a numeric feature field.
- ``q_pinned``              : ES ``pinned`` — promoted ids at fixed
  ranks, organic BM25 hits fill the remaining slots.
- ``q_query_string``        : Lucene query-string subset — ``+must``
  ``-must_not`` and bare *should* terms parsed driver-side
  (`_parse_query_string`), coord-style score = distinct matched terms.

Bucket / metric aggregations:
- ``q_filters_agg``         : named-filter buckets in ONE corpus pass
  (conditional aggregation unpivoted to one row per named bucket).
- ``q_range_agg``           : numeric ``range`` buckets over ``value``.
- ``q_date_range_agg``      : ``date_range`` split at a fixed anchor.
- ``q_global_agg``          : query-context bucket + ``global`` bucket
  from the same single pass.
- ``q_rate_agg``            : per-type ``rate`` (events/hour) against the
  corpus time span (1-row bounds broadcast).
- ``q_scripted_metric``     : map/combine/reduce custom metric — the
  log-mean ``exp(avg(ln(1+value)))`` (geometric mean), map-side ``ln``,
  associative combine, driver-free reduce.
- ``q_sampler_agg``         : ES ``sampler`` — hash-ranked top
  ``shard_size`` documents, sub-aggregation over the sample only.
- ``q_random_sampler``      : ES ``random_sampler`` — deterministic
  md5-bucket p=1/4 sample with 1/p-corrected estimates.
- ``q_frequent_item_sets``  : ES ``frequent_item_sets`` — per-(user,
  day) event-type itemsets (size 1..3) above a support floor, map-side
  candidate expansion.
- ``q_terms_lookup``        : ES ``terms`` query with terms LOOKUP —
  the term list fetched from another document, broadcast.
- ``q_prefix_search``       : ES ``prefix`` query — leading-anchor
  token match.

Pipeline aggregations (bucket-series post-processing):
- ``q_serial_diff``         : ``serial_diff`` with lag {SDIFF_LAG} on the
  hourly series (day-over-day de-seasonalization).
- ``q_bucket_selector``     : keep buckets passing a script predicate
  (HAVING on the bucket relation).
- ``q_bucket_sort``         : order buckets by metric, ``from``/``size``
  truncation.
- ``q_moving_fn``           : ``moving_fn`` max/min over a trailing
  window.
- ``q_change_point``        : ES ``change_point`` agg — the split of the
  bucket series maximizing the before/after mean shift, from exact
  cumulative DECIMAL sums (both engines derive identical IEEE doubles).

Scale shapes: every aggregation is one partial-agg shuffle over the
corpus; the pipeline aggs then run windows over the BUCKET relation
(thousands of rows at 100 TB, not corpus-sized). The span/phrase joins
are per-term position lists joined on doc_id — term-selective filters sit
below the join, so the joined sides are posting-list-sized. The samplers
rank by a content hash (portable md5 integer math, `curation.py`'s
convention), never by a corpus sort: ``q_sampler_agg`` is a bounded
top-N (TakeOrdered), ``q_random_sampler`` is a map-side filter. The
query-string parse runs on the driver over the QUERY LITERAL (bytes of
user input, not data) and compiles to the same postings primitives as
every other term query.

All float outputs go through the portable ``floor(x*1eN+0.5)/1eN``
rounding (`functions/determinism.py`); sums feeding them are exact
DECIMAL/BIGINT accumulations except the scripted metric's log-sum, which
is rounded one notch coarser (4 dp) because a float sum's last bits are
addition-order-dependent.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import (
    roundn_col,
    roundn_sql,
)
from elasticsearch_hbase_river_spark.operators.curation import _HEX, _bucket
from elasticsearch_hbase_river_spark.operators.rollup import HOUR_MS
from elasticsearch_hbase_river_spark.operators.search import (
    _POSTINGS_SQL,
    _postings,
)
from elasticsearch_hbase_river_spark.sources.tables import (
    load_events,
    load_table,
)

QUERIES: dict = {}
ORACLES: dict = {}

# ---------------------------------------------------------------------------
# Term-level queries over analyzed tokens.

#: Anchored character-class regex — pure regex-syntax subset that Spark's
#: rlike (Java regex) and DuckDB's regexp_matches (RE2) evaluate
#: identically.
REGEXP_PATTERN = "^s[a-z]{3,4}$"

PHRASE_PREFIX = ("fast", "ta")   # exact first term, prefix for position+1
SPAN_FIRST = ("spark", 5)        # term, window end (positions 0..4)
SPAN_NEAR = ("merge", "batch", 4)  # two clauses, slop, in_order=false


def q_regexp_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``regexp`` query: documents with an analyzed token matching
    {REGEXP_PATTERN!r}, with occurrence count and the sorted distinct
    matched terms. The regex filter sits directly on the exploded token
    stream (map-side), so the per-doc agg shuffles only matching rows."""
    docs = load_table(spark, sf_dir, "documents")
    hits = _postings(docs).filter(F.col("token").rlike(REGEXP_PATTERN))
    return (hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.array_join(F.sort_array(F.collect_set("token")), ",")
                 .alias("matched_terms")))


def q_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_phrase_prefix``: {PHRASE_PREFIX[0]!r} followed directly
    by a token starting {PHRASE_PREFIX[1]!r}. The prefix expansion happens
    on the position list itself (the last-position edge ES expands against
    the index), not by enumerating the vocabulary."""
    p = _postings(load_table(spark, sf_dir, "documents"))
    w1 = (p.filter(F.col("token") == PHRASE_PREFIX[0])
          .select("doc_id", "pos"))
    w2 = (p.filter(F.col("token").startswith(PHRASE_PREFIX[1]))
          .select("doc_id", (F.col("pos") - 1).alias("pos"),
                  F.col("token").alias("expansion")))
    return (w1.join(w2, ["doc_id", "pos"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("expansion").alias("first_expansion")))


def q_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_first``: {SPAN_FIRST[0]!r} within the first
    {SPAN_FIRST[1]} positions of the document."""
    p = _postings(load_table(spark, sf_dir, "documents"))
    return (p.filter((F.col("token") == SPAN_FIRST[0])
                     & (F.col("pos") < SPAN_FIRST[1]))
            .groupBy("doc_id")
            .agg(F.min("pos").alias("first_pos"),
                 F.count(F.lit(1)).alias("n_in_window")))


def q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_near`` with ``in_order=false``: occurrences of
    {SPAN_NEAR[0]!r} and {SPAN_NEAR[1]!r} within slop {SPAN_NEAR[2]}
    positions, either order. Both sides are single-term position lists
    (term filter below the join), so the doc_id equi-join is
    posting-sized; pair volume per doc is tf₁·tf₂ of two specific terms,
    bounded by document length."""
    p = _postings(load_table(spark, sf_dir, "documents"))
    a = (p.filter(F.col("token") == SPAN_NEAR[0])
         .select("doc_id", F.col("pos").alias("pos_a")))
    b = (p.filter(F.col("token") == SPAN_NEAR[1])
         .select("doc_id", F.col("pos").alias("pos_b")))
    gap = F.abs(F.col("pos_a") - F.col("pos_b"))
    return (a.join(b, "doc_id")
            .filter(gap <= SPAN_NEAR[2])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.min(gap).alias("min_gap")))


ORACLES["q_regexp_search"] = f"""
WITH tok AS ({_POSTINGS_SQL})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       string_agg(DISTINCT token, ',' ORDER BY token) AS matched_terms
FROM tok WHERE regexp_matches(token, '{REGEXP_PATTERN}')
GROUP BY doc_id"""

ORACLES["q_match_phrase_prefix"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
w1 AS (SELECT doc_id, pos FROM tok WHERE token = '{PHRASE_PREFIX[0]}'),
w2 AS (SELECT doc_id, pos - 1 AS pos, token AS expansion
       FROM tok WHERE token LIKE '{PHRASE_PREFIX[1]}%')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       min(expansion) AS first_expansion
FROM w1 JOIN w2 USING (doc_id, pos)
GROUP BY doc_id"""

ORACLES["q_span_first"] = f"""
WITH tok AS ({_POSTINGS_SQL})
SELECT doc_id, min(pos) AS first_pos,
       CAST(count(*) AS BIGINT) AS n_in_window
FROM tok WHERE token = '{SPAN_FIRST[0]}' AND pos < {SPAN_FIRST[1]}
GROUP BY doc_id"""

ORACLES["q_span_near"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
a AS (SELECT doc_id, pos AS pos_a FROM tok WHERE token = '{SPAN_NEAR[0]}'),
b AS (SELECT doc_id, pos AS pos_b FROM tok WHERE token = '{SPAN_NEAR[1]}')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       min(abs(pos_a - pos_b)) AS min_gap
FROM a JOIN b USING (doc_id)
WHERE abs(pos_a - pos_b) <= {SPAN_NEAR[2]}
GROUP BY doc_id"""

# ---------------------------------------------------------------------------
# Lucene query-string subset: +must -must_not bare-should.

QUERY_STRING = "+value -spark merge batch"
QS_TOP = 20


def _parse_query_string(qs: str) -> tuple[list, list, list]:
    """Parse the Lucene-lite subset: ``+term`` must match, ``-term`` must
    not, bare terms are *should* (boost-only once a ``+`` clause exists).
    Pure driver-side string work on the query literal."""
    must, must_not, should = [], [], []
    for raw in qs.split():
        m = re.fullmatch(r"([+-]?)([a-z0-9]+)", raw)
        if not m:
            raise ValueError(f"unsupported query-string clause: {raw!r}")
        {"+": must, "-": must_not, "": should}[m.group(1)].append(m.group(2))
    return must, must_not, should


def q_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene ``query_string`` subset over {QUERY_STRING!r}: documents
    containing every ``+`` term and no ``-`` term, scored coord-style by
    the number of DISTINCT matched (+/bare) terms, top-{QS_TOP}. One
    doc-term containment pass (postings filtered to the query's term set
    — map-side below the shuffle), then per-doc counts checked against
    the parsed clause lists."""
    must, must_not, should = _parse_query_string(QUERY_STRING)
    p = (_postings(load_table(spark, sf_dir, "documents"))
         .select("doc_id", "token").distinct())

    def _isin(ts: list) -> F.Column:
        # any clause class may parse empty — isin(*[]) raises
        return F.col("token").isin(*ts) if ts else F.lit(False)

    per_doc = (p.filter(_isin(must + must_not + should))
               .groupBy("doc_id")
               .agg(F.sum(F.when(_isin(must), 1)
                          .otherwise(0)).alias("n_must"),
                    F.sum(F.when(_isin(must_not), 1)
                          .otherwise(0)).alias("n_not"),
                    F.sum(F.when(_isin(must + should), 1)
                          .otherwise(0)).cast("long").alias("score")))
    return (per_doc.filter((F.col("n_must") == len(must))
                           & (F.col("n_not") == 0))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), "doc_id").limit(QS_TOP))


def _qs_oracle() -> str:
    must, must_not, should = _parse_query_string(QUERY_STRING)
    def inpred(ts):
        # empty clause class renders 'token IN ()' — a syntax error
        if not ts:
            return "FALSE"
        return "token IN ({})".format(", ".join(f"'{t}'" for t in ts))
    return f"""
WITH tok AS ({_POSTINGS_SQL}),
dt AS (SELECT DISTINCT doc_id, token FROM tok
       WHERE {inpred(must + must_not + should)}),
per AS (
  SELECT doc_id,
         count(*) FILTER ({inpred(must)}) AS n_must,
         count(*) FILTER ({inpred(must_not)}) AS n_not,
         CAST(count(*) FILTER ({inpred(must + should)})
              AS BIGINT) AS score
  FROM dt GROUP BY doc_id)
SELECT doc_id, score FROM per
WHERE n_must = {len(must)} AND n_not = 0
ORDER BY score DESC, doc_id LIMIT {QS_TOP}"""


ORACLES["q_query_string"] = _qs_oracle()

# ---------------------------------------------------------------------------
# Bucket aggregations: filters / range / date_range / global / rate /
# scripted_metric.

#: (bucket label, SQL predicate, Column predicate builder) — the named
#: filters of the ``filters`` aggregation. Buckets may overlap, as in ES.
FILTERS_AGG = (
    ("errors", "event_type = 'error'"),
    ("high_value", "value > 80.0"),
    ("purchase_or_signup", "event_type IN ('purchase', 'signup')"),
)

RANGE_EDGES = (25.0, 50.0, 75.0)          # value range bucket edges
DATE_RANGE_ANCHOR_MS = 1_704_931_200_000  # 2024-01-11T00:00:00Z
GLOBAL_AGG_TYPE = "click"                 # the query context's filter


def q_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``filters`` aggregation: one named bucket per predicate (buckets
    overlap, as in ES), each with doc count + value sum — ONE corpus pass
    of conditional aggregates, unpivoted map-side to (bucket, ...) rows."""
    ev = load_events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    aggs = []
    for name, pred in FILTERS_AGG:
        cond = F.expr(pred)
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long")
            .alias(f"n_{name}"),
            F.sum(F.when(cond, dec)).alias(f"s_{name}"),
        ]
    one = ev.agg(*aggs)
    buckets = F.array(*[
        F.struct(F.lit(name).alias("bucket"),
                 F.col(f"n_{name}").alias("doc_count"),
                 roundn_col(F.coalesce(F.col(f"s_{name}").cast("double"),
                                       F.lit(0.0))).alias("sum_value"))
        for name, _ in FILTERS_AGG])
    return (one.select(F.explode(buckets).alias("b"))
            .select("b.bucket", "b.doc_count", "b.sum_value"))


ORACLES["q_filters_agg"] = f"""
WITH one AS (
  SELECT
    {", ".join(
        f"CAST(count(*) FILTER ({pred}) AS BIGINT) AS n_{name}, "
        f"sum(CAST(value AS DECIMAL(18,2))) FILTER ({pred}) AS s_{name}"
        for name, pred in FILTERS_AGG)}
  FROM events)
{" UNION ALL ".join(
    f"SELECT '{name}' AS bucket, n_{name} AS doc_count, "
    f"{roundn_sql(f'COALESCE(s_{name}::DOUBLE, 0.0)')} AS sum_value FROM one"
    for name, _ in FILTERS_AGG)}"""


def _range_label(edges):
    """Bucket label per ES convention: ``*-25.0``, ``25.0-50.0``, ...,
    ``75.0-*``."""
    lo = ["*"] + [str(e) for e in edges]
    hi = [str(e) for e in edges] + ["*"]
    return [f"{a}-{b}" for a, b in zip(lo, hi)]


def q_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``range`` aggregation over ``value``: half-open buckets
    [lo, hi) labeled ES-style, each with count + mean (exact DECIMAL sum
    divided as double). Bucket assignment is map-side codegen; one
    4-key shuffle."""
    ev = load_events(spark, sf_dir)
    labels = _range_label(RANGE_EDGES)
    e = RANGE_EDGES
    bucket = (F.when(F.col("value") < e[0], labels[0])
              .when(F.col("value") < e[1], labels[1])
              .when(F.col("value") < e[2], labels[2])
              .otherwise(labels[3]))
    dec = F.col("value").cast("decimal(18,2)")
    return (ev.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 roundn_col(F.sum(dec).cast("double") /
                            F.count(F.lit(1))).alias("avg_value")))


ORACLES["q_range_agg"] = f"""
SELECT CASE WHEN value < {RANGE_EDGES[0]} THEN '{_range_label(RANGE_EDGES)[0]}'
            WHEN value < {RANGE_EDGES[1]} THEN '{_range_label(RANGE_EDGES)[1]}'
            WHEN value < {RANGE_EDGES[2]} THEN '{_range_label(RANGE_EDGES)[2]}'
            ELSE '{_range_label(RANGE_EDGES)[3]}' END AS bucket,
       CAST(count(*) AS BIGINT) AS doc_count,
       {roundn_sql("sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*)")}
         AS avg_value
FROM events GROUP BY 1"""


def q_date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_range`` aggregation: two buckets split at the fixed
    anchor {DATE_RANGE_ANCHOR_MS} (2024-01-11T00:00:00Z), count + value
    sum each."""
    ev = load_events(spark, sf_dir)
    bucket = F.when(F.col("ts_ms") < DATE_RANGE_ANCHOR_MS,
                    "before").otherwise("from")
    dec = F.col("value").cast("decimal(18,2)")
    return (ev.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 roundn_col(F.sum(dec).cast("double")).alias("sum_value")))


ORACLES["q_date_range_agg"] = f"""
SELECT CASE WHEN epoch_ms(ts) < {DATE_RANGE_ANCHOR_MS}
            THEN 'before' ELSE 'from' END AS bucket,
       CAST(count(*) AS BIGINT) AS doc_count,
       {roundn_sql("sum(CAST(value AS DECIMAL(18,2)))::DOUBLE")} AS sum_value
FROM events GROUP BY 1"""


def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``global`` aggregation: metrics for the query context
    (event_type = {GLOBAL_AGG_TYPE!r}) and for the WHOLE index side by
    side — the global bucket escapes the query filter. One conditional
    pass; no second scan."""
    ev = load_events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    q = F.col("event_type") == GLOBAL_AGG_TYPE
    return ev.agg(
        F.sum(F.when(q, 1).otherwise(0)).cast("long").alias("query_count"),
        roundn_col(F.coalesce(F.sum(F.when(q, dec)).cast("double"),
                              F.lit(0.0))).alias("query_sum"),
        F.count(F.lit(1)).alias("global_count"),
        roundn_col(F.sum(dec).cast("double")).alias("global_sum"))


ORACLES["q_global_agg"] = f"""
SELECT CAST(count(*) FILTER (event_type = '{GLOBAL_AGG_TYPE}') AS BIGINT)
         AS query_count,
       {roundn_sql(
           "COALESCE((sum(CAST(value AS DECIMAL(18,2))) FILTER "
           f"(event_type = '{GLOBAL_AGG_TYPE}'))::DOUBLE, 0.0)")}
         AS query_sum,
       CAST(count(*) AS BIGINT) AS global_count,
       {roundn_sql("sum(CAST(value AS DECIMAL(18,2)))::DOUBLE")} AS global_sum
FROM events"""


def q_rate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rate`` aggregation (unit: hour): per event type,
    events-per-hour over the corpus's observed time span. The span is a
    1-row min/max aggregate broadcast into the per-type relation; rate
    math is exact integer ms until the final double divide."""
    ev = load_events(spark, sf_dir)
    per = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("doc_count"))
    bounds = ev.agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi"))
    # span clamped to >= 1 ms: a degenerate corpus whose events share one
    # timestamp would divide by zero, where Spark and DuckDB double
    # semantics (null/inf) diverge and break oracle parity
    span = F.greatest(F.col("hi") - F.col("lo"), F.lit(1))
    return (per.crossJoin(F.broadcast(bounds))
            .select("event_type", "doc_count",
                    roundn_col(F.col("doc_count") * float(HOUR_MS) / span)
                    .alias("per_hour")))


ORACLES["q_rate_agg"] = f"""
WITH bounds AS (SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi
                FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS doc_count,
       {roundn_sql(f"count(*) * {float(HOUR_MS)} / greatest(hi - lo, 1)")}
         AS per_hour
FROM events, bounds
GROUP BY event_type, lo, hi"""


def q_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``scripted_metric``: a custom map/combine/reduce metric — the
    geometric mean ``exp(avg(ln(1 + value)))`` per event type. The map
    script is the per-row ``ln``; combine/reduce are the associative sum
    Spark's partial aggregation already implements — no driver-side
    state. Rounded at 4 dp (not the usual 6): the log-sum is a float
    accumulation whose last bits are addition-order-dependent."""
    ev = load_events(spark, sf_dir)
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("doc_count"),
                 roundn_col(F.exp(F.avg(F.log(F.lit(1.0) + F.col("value")))),
                            4).alias("geo_mean")))


ORACLES["q_scripted_metric"] = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS doc_count,
       {roundn_sql("exp(avg(ln(1.0 + value)))", 4)} AS geo_mean
FROM events GROUP BY event_type"""

# ---------------------------------------------------------------------------
# Sampling aggregations.

SAMPLER_SHARD_SIZE = 100   # q_sampler_agg sample size
RS_BUCKETS_KEPT = 64       # q_random_sampler: md5 buckets < 64 of 256 = 1/4

def _md5_bucket_sql(col_sql: str) -> str:
    """DuckDB twin of `curation._bucket`."""
    h = f"md5(CAST({col_sql} AS VARCHAR))"
    return (f"(strpos('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
            f" + (strpos('{_HEX}', substr({h}, 2, 1)) - 1)")


def q_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``sampler`` aggregation: sub-aggregate over the top
    {SAMPLER_SHARD_SIZE} documents by deterministic hash rank (ES ranks by
    score; the fixture query is a match_all, so the hash is the
    tie-break rank, stable under reshuffles). The sample is a bounded
    TakeOrdered — never a corpus-wide single-partition sort — and the
    sub-agg runs on ≤ {SAMPLER_SHARD_SIZE} rows."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = (docs.select("doc_id", "n_chars", "lang",
                          F.md5(F.col("doc_id").cast("string")).alias("h"))
              .orderBy("h", "doc_id").limit(SAMPLER_SHARD_SIZE))
    return ranked.agg(
        F.count(F.lit(1)).alias("sample_n"),
        roundn_col(F.sum("n_chars").cast("double") / F.count(F.lit(1)))
        .alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"))


ORACLES["q_sampler_agg"] = f"""
WITH ranked AS (
  SELECT doc_id, n_chars, lang
  FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {SAMPLER_SHARD_SIZE})
SELECT CAST(count(*) AS BIGINT) AS sample_n,
       {roundn_sql("sum(n_chars)::DOUBLE / count(*)")} AS avg_chars,
       max(n_chars) AS max_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM ranked"""


def q_random_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``random_sampler`` aggregation at probability 1/4: keep events
    whose md5 bucket < {RS_BUCKETS_KEPT} (deterministic, reshuffle-stable)
    and report per-type sampled counts plus the 1/p-corrected estimates.
    The sample predicate is map-side — at 100 TB only the kept quarter
    ever reaches the aggregation shuffle."""
    ev = load_events(spark, sf_dir)
    kept = ev.filter(_bucket("event_id") < RS_BUCKETS_KEPT)
    dec = F.col("value").cast("decimal(18,2)")
    factor = 256.0 / RS_BUCKETS_KEPT
    return (kept.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("sampled_n"),
                 (F.count(F.lit(1)) * int(factor)).cast("long")
                 .alias("est_count"),
                 roundn_col(F.sum(dec).cast("double") * factor)
                 .alias("est_sum")))


ORACLES["q_random_sampler"] = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS sampled_n,
       CAST(count(*) * {int(256 / RS_BUCKETS_KEPT)} AS BIGINT) AS est_count,
       {roundn_sql(
           "sum(CAST(value AS DECIMAL(18,2)))::DOUBLE * "
           + str(256.0 / RS_BUCKETS_KEPT))} AS est_sum
FROM events
WHERE {_md5_bucket_sql("event_id")} < {RS_BUCKETS_KEPT}
GROUP BY event_type"""

# ---------------------------------------------------------------------------
# Pipeline aggregations over the hourly bucket series. The shared parent
# series: ALL events bucketed to the hour, exact DECIMAL value sums.

SDIFF_LAG = 24          # serial_diff: day-over-day at hourly buckets
BSEL_MIN_AVG = 51.0     # bucket_selector predicate: avg(value) > this
BSORT_FROM, BSORT_SIZE = 2, 5   # bucket_sort: skip 2, keep 5
MOVFN_WINDOW = 5        # moving_fn trailing window (buckets)

_HOURLY_SQL = f"""
  SELECT (epoch_ms(ts) // {HOUR_MS}) * {HOUR_MS} AS bucket_ms,
         CAST(count(*) AS BIGINT) AS n_events,
         sum(CAST(value AS DECIMAL(18,2))) AS sum_dec
  FROM events GROUP BY 1"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    bucket = F.expr(f"(ts_ms div {HOUR_MS}) * {HOUR_MS}")
    return (ev.groupBy(bucket.alias("bucket_ms"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .alias("sum_dec")))


def q_serial_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``serial_diff`` (lag {SDIFF_LAG}): hourly value sums minus the
    same hour one day earlier — de-seasonalization as a window over the
    BUCKET relation (bucket-count-sized, not corpus-sized). DECIMAL
    subtraction is exact; the cast to double happens after."""
    w = Window.orderBy("bucket_ms")
    h = _hourly(spark, sf_dir)
    return h.select(
        "bucket_ms", "n_events",
        roundn_col(F.col("sum_dec").cast("double")).alias("sum_value"),
        roundn_col((F.col("sum_dec")
                    - F.lag("sum_dec", SDIFF_LAG).over(w)).cast("double"))
        .alias("serial_diff"))


ORACLES["q_serial_diff"] = f"""
WITH h AS ({_HOURLY_SQL})
SELECT bucket_ms, n_events,
       {roundn_sql("sum_dec::DOUBLE")} AS sum_value,
       {roundn_sql(
           f"(sum_dec - lag(sum_dec, {SDIFF_LAG}) OVER (ORDER BY bucket_ms))"
           "::DOUBLE")} AS serial_diff
FROM h"""


def q_bucket_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_selector``: drop hourly buckets whose mean value fails
    the script predicate (avg > {BSEL_MIN_AVG}) — HAVING over the bucket
    relation. The mean divides exact sums, so both engines agree on the
    boundary."""
    h = _hourly(spark, sf_dir)
    avg = F.col("sum_dec").cast("double") / F.col("n_events")
    return (h.filter(avg > BSEL_MIN_AVG)
            .select("bucket_ms", "n_events",
                    roundn_col(avg).alias("avg_value")))


ORACLES["q_bucket_selector"] = f"""
WITH h AS ({_HOURLY_SQL})
SELECT bucket_ms, n_events,
       {roundn_sql("sum_dec::DOUBLE / n_events")} AS avg_value
FROM h WHERE sum_dec::DOUBLE / n_events > {BSEL_MIN_AVG}"""


def q_bucket_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_sort`` with ``from``/``size``: hourly buckets ordered
    by value sum descending, skip {BSORT_FROM}, keep {BSORT_SIZE}.
    Ordering compares exact DECIMAL sums (ties broken by bucket), so the
    truncation is engine-independent; executed as a bounded top-(from+size)
    over the bucket relation."""
    h = _hourly(spark, sf_dir)
    top = (h.orderBy(F.desc("sum_dec"), "bucket_ms")
           .limit(BSORT_FROM + BSORT_SIZE)
           .orderBy(F.asc("sum_dec"), F.desc("bucket_ms"))
           .limit(BSORT_SIZE))
    return top.select("bucket_ms", "n_events",
                      roundn_col(F.col("sum_dec").cast("double"))
                      .alias("sum_value"))


ORACLES["q_bucket_sort"] = f"""
WITH h AS ({_HOURLY_SQL})
SELECT bucket_ms, n_events, {roundn_sql("sum_dec::DOUBLE")} AS sum_value
FROM h
ORDER BY sum_dec DESC, bucket_ms
LIMIT {BSORT_SIZE} OFFSET {BSORT_FROM}"""


def q_moving_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``moving_fn`` (max and min) over a trailing {MOVFN_WINDOW}-bucket
    window of the hourly count series — pure integer window math over the
    bucket relation."""
    w = (Window.orderBy("bucket_ms")
         .rowsBetween(-(MOVFN_WINDOW - 1), 0))
    h = _hourly(spark, sf_dir)
    return h.select("bucket_ms", "n_events",
                    F.max("n_events").over(w).alias("window_max"),
                    F.min("n_events").over(w).alias("window_min"))


ORACLES["q_moving_fn"] = f"""
WITH h AS ({_HOURLY_SQL})
SELECT bucket_ms, n_events,
       max(n_events) OVER w AS window_max,
       min(n_events) OVER w AS window_min
FROM h
WINDOW w AS (ORDER BY bucket_ms
             ROWS BETWEEN {MOVFN_WINDOW - 1} PRECEDING AND CURRENT ROW)"""


def q_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``change_point`` aggregation: the split of the hourly mean-value
    series maximizing |after-mean − before-mean|. Cumulative DECIMAL
    count/sum prefixes (window over the bucket relation) make both sides'
    means exact-sum-derived doubles, so the argmax is engine-independent;
    ties break to the earliest bucket. The corpus contributes one
    partial-agg pass; everything after is bucket-sized."""
    h = _hourly(spark, sf_dir)
    w = Window.orderBy("bucket_ms")
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    c = (h.select("bucket_ms",
                  F.sum("n_events").over(w).alias("cum_n"),
                  F.sum("sum_dec").over(w).alias("cum_s"),
                  F.sum("n_events").over(wall).alias("tot_n"),
                  F.sum("sum_dec").over(wall).alias("tot_s"))
         .filter(F.col("cum_n") < F.col("tot_n")))
    before = F.col("cum_s").cast("double") / F.col("cum_n")
    after = ((F.col("tot_s") - F.col("cum_s")).cast("double")
             / (F.col("tot_n") - F.col("cum_n")))
    scored = c.select(F.col("bucket_ms").alias("split_after"),
                      before.alias("b"), after.alias("a"),
                      F.abs(after - before).alias("d"))
    return (scored.orderBy(F.desc("d"), "split_after").limit(1)
            .select("split_after",
                    roundn_col(F.col("b")).alias("before_mean"),
                    roundn_col(F.col("a")).alias("after_mean"),
                    roundn_col(F.col("d")).alias("mean_shift")))


ORACLES["q_change_point"] = f"""
WITH h AS ({_HOURLY_SQL}),
c AS (
  SELECT bucket_ms,
         sum(n_events) OVER (ORDER BY bucket_ms) AS cum_n,
         sum(sum_dec) OVER (ORDER BY bucket_ms) AS cum_s,
         sum(n_events) OVER () AS tot_n,
         sum(sum_dec) OVER () AS tot_s
  FROM h),
scored AS (
  SELECT bucket_ms AS split_after,
         cum_s::DOUBLE / cum_n AS b,
         (tot_s - cum_s)::DOUBLE / (tot_n - cum_n) AS a
  FROM c WHERE cum_n < tot_n)
SELECT split_after,
       {roundn_sql("b")} AS before_mean,
       {roundn_sql("a")} AS after_mean,
       {roundn_sql("abs(a - b)")} AS mean_shift
FROM scored
ORDER BY abs(a - b) DESC, split_after
LIMIT 1"""


# ---------------------------------------------------------------------------
# frequent_item_sets / terms lookup / prefix query.

FIS_MIN_SUPPORT = 0.04  # frequent_item_sets minimum support
FIS_MAX_SIZE = 3        # itemset sizes 1..3 (ES default size cap region)
LOOKUP_DOC_ID = 0       # terms-lookup source document
PREFIX_QUERY = "sp"     # prefix query string


def q_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation: itemsets of size 1..{FIS_MAX_SIZE}
    of event types co-occurring within a user's history, with support ≥
    {FIS_MIN_SUPPORT}. Transactions are per-(user, day) sorted distinct
    type sets; ALL candidate itemsets expand MAP-SIDE from each
    transaction's own (bounded-cardinality) set in one higher-order
    expression — ≤ C(m,1..3) rows per transaction for m distinct types,
    never an apriori join cascade — so the plan is exactly ONE corpus
    scan, one transaction shuffle and one (itemset, size) partial-agg
    shuffle. A per-transaction sentinel itemset makes the transaction
    count a 1-row slice of the SAME aggregate (checkpointed at ≤ C(m,≤3)
    rows), not a second corpus pass."""
    ev = load_events(spark, sf_dir)
    day = F.expr(f"ts_ms div {24 * HOUR_MS}")
    s = (ev.groupBy(F.col("user_id"), day.alias("day"))
         .agg(F.array_sort(F.collect_set("event_type")).alias("items")))
    m = "size(items)"
    subsets = f"""concat(
      array(struct('' AS itemset, 0 AS size)),
      transform(items, x -> struct(x AS itemset, 1 AS size)),
      transform(
        filter(transform(sequence(0, {m} * {m} - 1),
                         p -> struct(CAST(p div {m} AS INT) AS i,
                                     CAST(p % {m} AS INT) AS j)),
               t -> t.i < t.j),
        t -> struct(concat_ws(',', element_at(items, t.i + 1),
                              element_at(items, t.j + 1)) AS itemset,
                    2 AS size)),
      transform(
        filter(transform(sequence(0, {m} * {m} * {m} - 1),
                         p -> struct(CAST(p div ({m} * {m}) AS INT) AS i,
                                     CAST((p div {m}) % {m} AS INT) AS j,
                                     CAST(p % {m} AS INT) AS k)),
               t -> t.i < t.j AND t.j < t.k),
        t -> struct(concat_ws(',', element_at(items, t.i + 1),
                              element_at(items, t.j + 1),
                              element_at(items, t.k + 1)) AS itemset,
                    3 AS size)))"""
    counted = (s.select(F.explode(F.expr(subsets)).alias("e"))
               .groupBy(F.col("e.itemset").alias("itemset"),
                        F.col("e.size").cast("long").alias("size"))
               .agg(F.count(F.lit(1)).alias("doc_count"))
               .localCheckpoint(eager=True))  # ≤ C(m,≤3)+1 rows, read twice
    tot = (counted.filter(F.col("size") == 0)
           .select(F.col("doc_count").alias("n_tx")))
    return (counted.filter(F.col("size") > 0)
            .crossJoin(F.broadcast(tot))
            .filter(F.col("doc_count")
                    >= F.lit(FIS_MIN_SUPPORT) * F.col("n_tx"))
            .select("itemset", "size", "doc_count",
                    roundn_col(F.col("doc_count").cast("double")
                               / F.col("n_tx")).alias("support")))


ORACLES["q_frequent_item_sets"] = f"""
WITH s AS (
  SELECT user_id, epoch_ms(ts) // {24 * HOUR_MS} AS day,
         list_sort(list_distinct(list(event_type))) AS items
  FROM events GROUP BY user_id, day),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tx FROM s),
p1 AS (SELECT items, unnest(range(len(items))) AS i FROM s),
p2 AS (SELECT items, i, unnest(range(len(items))) AS j FROM p1),
p3 AS (SELECT items, i, j, unnest(range(len(items))) AS k FROM p2
       WHERE i < j),
sets AS (
  SELECT items[i + 1] AS itemset, 1 AS size FROM p1
  UNION ALL
  SELECT items[i + 1] || ',' || items[j + 1], 2 FROM p2 WHERE i < j
  UNION ALL
  SELECT items[i + 1] || ',' || items[j + 1] || ',' || items[k + 1], 3
  FROM p3 WHERE j < k),
counted AS (
  SELECT itemset, CAST(size AS BIGINT) AS size,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM sets GROUP BY itemset, size)
SELECT itemset, size, doc_count,
       {roundn_sql("doc_count::DOUBLE / n_tx")} AS support
FROM counted, tot
WHERE doc_count >= {FIS_MIN_SUPPORT} * n_tx"""


def q_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` query with TERMS LOOKUP: the term list is fetched from
    another document (doc {LOOKUP_DOC_ID}'s analyzed tokens) rather than
    inlined — documents sharing at least one term, with the overlap count.
    The lookup doc's term set is one-document-sized and broadcasts; the
    corpus pays one semi-filtered distinct + doc-keyed agg."""
    p = (_postings(load_table(spark, sf_dir, "documents"))
         .select("doc_id", "token").distinct())
    lookup = (p.filter(F.col("doc_id") == LOOKUP_DOC_ID)
              .select("token"))
    return (p.filter(F.col("doc_id") != LOOKUP_DOC_ID)
            .join(F.broadcast(lookup), "token", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))


ORACLES["q_terms_lookup"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
dt AS (SELECT DISTINCT doc_id, token FROM tok),
lookup AS (SELECT token FROM dt WHERE doc_id = {LOOKUP_DOC_ID})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM dt
WHERE doc_id != {LOOKUP_DOC_ID}
  AND token IN (SELECT token FROM lookup)
GROUP BY doc_id"""


def q_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``prefix`` query: documents with an analyzed token starting
    {PREFIX_QUERY!r} — the degenerate (leading-anchor) wildcard, matched
    directly on the token stream map-side."""
    hits = (_postings(load_table(spark, sf_dir, "documents"))
            .filter(F.col("token").startswith(PREFIX_QUERY)))
    return (hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.array_join(F.sort_array(F.collect_set("token")), ",")
                 .alias("matched_terms")))


ORACLES["q_prefix_search"] = f"""
WITH tok AS ({_POSTINGS_SQL})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       string_agg(DISTINCT token, ',' ORDER BY token) AS matched_terms
FROM tok WHERE token LIKE '{PREFIX_QUERY}%'
GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# span_not / distance_feature.

SPAN_NOT = ("table", "value", 2)   # include term, exclude term, distance
DF_ORIGIN_MS = DATE_RANGE_ANCHOR_MS   # distance_feature origin (fixed)
DF_PIVOT_MS = 7 * 24 * HOUR_MS        # pivot: score halves at 7 days
DF_BOOST = 2.0
DF_TOP = 20


def q_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_not``: occurrences of {SPAN_NOT[0]!r} EXCLUDING those
    within {SPAN_NOT[2]} positions of {SPAN_NOT[1]!r} (``pre``/``post``
    symmetric). The violating include-occurrences come from one
    posting-sized proximity join; survivors are a left-anti on the
    (doc, position) key — both sides term-filtered below the joins."""
    p = _postings(load_table(spark, sf_dir, "documents"))
    a = (p.filter(F.col("token") == SPAN_NOT[0])
         .select("doc_id", "pos"))
    b = (p.filter(F.col("token") == SPAN_NOT[1])
         .select("doc_id", F.col("pos").alias("pos_b")))
    bad = (a.join(b, "doc_id")
           .filter(F.abs(F.col("pos") - F.col("pos_b")) <= SPAN_NOT[2])
           .select("doc_id", "pos").distinct())
    return (a.join(bad, ["doc_id", "pos"], "left_anti")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_clean"),
                 F.min("pos").alias("first_clean_pos")))


ORACLES["q_span_not"] = f"""
WITH tok AS ({_POSTINGS_SQL}),
a AS (SELECT doc_id, pos FROM tok WHERE token = '{SPAN_NOT[0]}'),
b AS (SELECT doc_id, pos AS pos_b FROM tok WHERE token = '{SPAN_NOT[1]}'),
bad AS (
  SELECT DISTINCT doc_id, pos
  FROM a JOIN b USING (doc_id)
  WHERE abs(pos - pos_b) <= {SPAN_NOT[2]})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_clean,
       min(pos) AS first_clean_pos
FROM a ANTI JOIN bad USING (doc_id, pos)
GROUP BY doc_id"""


def q_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``distance_feature`` query on a date field: score =
    {DF_BOOST} * pivot / (pivot + |ts - origin|) with a fixed origin and
    a {DF_PIVOT_MS // (24 * HOUR_MS)}-day pivot — recency boosting as
    pure map-side integer distance feeding one double divide, ranked
    top-{DF_TOP} (distributed TakeOrdered)."""
    ev = load_events(spark, sf_dir)
    dist = F.abs(F.col("ts_ms") - F.lit(DF_ORIGIN_MS))
    score = (F.lit(DF_BOOST) * F.lit(float(DF_PIVOT_MS))
             / (F.lit(float(DF_PIVOT_MS)) + dist))
    return (ev.select("event_id", "event_type",
                      roundn_col(score).alias("score"))
            .orderBy(F.desc("score"), "event_id").limit(DF_TOP))


ORACLES["q_distance_feature"] = f"""
SELECT event_id, event_type,
       {roundn_sql(
           f"{DF_BOOST} * {float(DF_PIVOT_MS)} / "
           f"({float(DF_PIVOT_MS)} + abs(epoch_ms(ts) - {DF_ORIGIN_MS}))")}
         AS score
FROM events
ORDER BY score DESC, event_id
LIMIT {DF_TOP}"""


# ---------------------------------------------------------------------------
# rank_feature / pinned.

RF_PIVOT = 500.0   # rank_feature pivot (chars)
RF_SCALE = 0.01    # rank_feature log-variant scaling factor
RF_TOP = 20
PINNED_IDS = (3, 7, 11)   # pinned query: promoted ids, in THIS order
PIN_TOP = 10


def q_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rank_feature`` query over the ``n_chars`` feature — all three
    published scoring functions side by side: ``saturation``
    S/(S+pivot), ``log`` ln(1 + scale·S), ``sigmoid`` with exponent 0.5
    (√S — exactly-rounded IEEE, engine-portable). Pure map-side feature
    math from an integer field; top-{RF_TOP} is a distributed
    TakeOrdered. The log variant rounds at 4 dp (libm ln differs ~1e-8
    relative between engines); the others are exact-input divisions at
    6 dp."""
    docs = load_table(spark, sf_dir, "documents")
    s = F.col("n_chars").cast("double")
    return (docs.select(
        "doc_id",
        roundn_col(s / (s + F.lit(RF_PIVOT))).alias("saturation"),
        roundn_col(F.log(F.lit(1.0) + F.lit(RF_SCALE) * s), 4).alias("log_score"),
        roundn_col(F.sqrt(s) / (F.sqrt(s) + F.lit(RF_PIVOT ** 0.5)))
        .alias("sigmoid"))
        .orderBy(F.desc("saturation"), "doc_id").limit(RF_TOP))


ORACLES["q_rank_feature"] = f"""
SELECT doc_id,
       {roundn_sql(f"n_chars::DOUBLE / (n_chars::DOUBLE + {RF_PIVOT})")}
         AS saturation,
       {roundn_sql(f"ln(1.0 + {RF_SCALE} * n_chars::DOUBLE)", 4)}
         AS log_score,
       {roundn_sql(
           f"sqrt(n_chars::DOUBLE) / (sqrt(n_chars::DOUBLE) + {RF_PIVOT ** 0.5})")}
         AS sigmoid
FROM documents
ORDER BY saturation DESC, doc_id
LIMIT {RF_TOP}"""


def q_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``pinned`` query: the promoted ids {PINNED_IDS} occupy ranks
    1..{len(PINNED_IDS)} in their GIVEN order regardless of score;
    organic BM25 hits (promoted ids excluded) fill the remaining
    top-{PIN_TOP} slots in score order. The promoted list is
    user-input-sized (a literal relation joined broadcast against the
    scored docs for their reference scores); the organic side is the
    shared `bm25_scores` relation under a bounded TakeOrdered, with the
    rank window confined to the ≤ {PIN_TOP} survivors."""
    from elasticsearch_hbase_river_spark.operators.search import bm25_scores

    from pyspark import StorageLevel

    # Both output branches (promoted lookups, organic top-k) consume the
    # scored relation; without materialization the union duplicates the
    # ENTIRE BM25 pipeline (16 parquet scans, zero ReusedExchange — the
    # per-branch filters defeat exchange reuse), which is the wrong plan
    # at any real scale even though it wins at fixture scale. Round-10
    # same-day A/B (SCALE.md §8): DISK_ONLY pays an 11 s first-run write
    # (the driver-visible bimodality), MEMORY_AND_DISK is 1.9 s cold /
    # 1.25 s warm and survives the 100x fixture on a default 1 GB driver
    # (15.1 s, no OOM — storage blocks evict to disk under the unified
    # memory manager; the round-4 "pinned heap" class was the
    # DESERIALIZED level, this is the serialized one).
    scored = bm25_scores(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    pins = spark.createDataFrame(
        [(int(d), i + 1) for i, d in enumerate(PINNED_IDS)],
        "doc_id long, rank long")
    # Reference scores for the promoted ids come from a FILTERED slice
    # (≤|pins| rows), so the rank-preserving left join is tiny×tiny
    # broadcast — never an outer-join shuffle of the full scored side.
    pin_scores = scored.filter(F.col("doc_id").isin(*PINNED_IDS))
    pinned = (pins.join(F.broadcast(pin_scores), "doc_id", "left")
              .select("doc_id", "rank", "score",
                      F.lit("pinned").alias("source")))
    n_org = PIN_TOP - len(PINNED_IDS)
    org_top = (scored.filter(~F.col("doc_id").isin(*PINNED_IDS))
               .orderBy(F.desc("score"), "doc_id").limit(n_org))
    w = Window.orderBy(F.desc("score"), "doc_id")
    organic = org_top.select(
        "doc_id",
        (F.row_number().over(w) + len(PINNED_IDS)).cast("long").alias("rank"),
        "score", F.lit("organic").alias("source"))
    return pinned.unionByName(organic)


def _pinned_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.search import (
        BM25_K1,
        BM25_B,
        BM25_TERMS,
        _DL_SQL,
    )
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    ids = ", ".join(str(d) for d in PINNED_IDS)
    vals = ", ".join(f"({d}, {i + 1})" for i, d in enumerate(PINNED_IDS))
    n_org = PIN_TOP - len(PINNED_IDS)
    return f"""
WITH tok AS ({_POSTINGS_SQL}),
dl AS (SELECT doc_id, CAST({_DL_SQL} AS BIGINT) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 avg({_DL_SQL}) AS avgdl FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ({terms}) GROUP BY doc_id, token),
dfr AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1)) /
           (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
         AS c
  FROM tf JOIN dfr USING (token) JOIN dl USING (doc_id), stats),
scored AS (
  SELECT doc_id, {roundn_sql('sum(c)')} AS score FROM contrib GROUP BY doc_id),
pins AS (SELECT CAST(p.col0 AS BIGINT) AS doc_id, CAST(p.col1 AS BIGINT) AS rank
         FROM (VALUES {vals}) p(col0, col1)),
org AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM scored WHERE doc_id NOT IN ({ids}))
SELECT pins.doc_id, pins.rank, scored.score, 'pinned' AS source
FROM pins LEFT JOIN scored USING (doc_id)
UNION ALL
SELECT doc_id, CAST(rn + {len(PINNED_IDS)} AS BIGINT) AS rank, score,
       'organic' AS source
FROM org WHERE rn <= {n_org}"""


ORACLES["q_pinned"] = _pinned_oracle()


QUERIES.update({
    "q_rank_feature": q_rank_feature,
    "q_pinned": q_pinned,
    "q_span_not": q_span_not,
    "q_distance_feature": q_distance_feature,
    "q_frequent_item_sets": q_frequent_item_sets,
    "q_terms_lookup": q_terms_lookup,
    "q_prefix_search": q_prefix_search,
    "q_regexp_search": q_regexp_search,
    "q_match_phrase_prefix": q_match_phrase_prefix,
    "q_span_first": q_span_first,
    "q_span_near": q_span_near,
    "q_query_string": q_query_string,
    "q_filters_agg": q_filters_agg,
    "q_range_agg": q_range_agg,
    "q_date_range_agg": q_date_range_agg,
    "q_global_agg": q_global_agg,
    "q_rate_agg": q_rate_agg,
    "q_scripted_metric": q_scripted_metric,
    "q_sampler_agg": q_sampler_agg,
    "q_random_sampler": q_random_sampler,
    "q_serial_diff": q_serial_diff,
    "q_bucket_selector": q_bucket_selector,
    "q_bucket_sort": q_bucket_sort,
    "q_moving_fn": q_moving_fn,
    "q_change_point": q_change_point,
})
