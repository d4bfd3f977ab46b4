"""ES|QL pack (round 8): the piped query language, end-to-end.

Each registered query here is a REAL ES|QL string compiled by
`elasticsearch_hbase_river_spark/esql.py` into a DataFrame plan, and each
has a hand-written DuckDB oracle twin — so the gate checks the parser, the
compiler, AND the semantics of every pipe command it exercises:

- ``q_esql_rollup``        FROM | WHERE | EVAL DATE_TRUNC | STATS BY | SORT | LIMIT
- ``q_esql_extract_hours`` DATE_EXTRACT + RLIKE
- ``q_esql_dissect``       DISSECT pattern capture
- ``q_esql_grok``          GROK typed capture (%{INT:k:int}) + IS NOT NULL
- ``q_esql_lookup``        RENAME + LOOKUP JOIN (broadcast dimension join)
- ``q_esql_enrich``        ENRICH policy ON .. WITH ..
- ``q_esql_mv_tokens``     EVAL SPLIT | MV_EXPAND | LENGTH filter
- ``q_esql_case_tiers``    CASE + LIKE + IN
- ``q_esql_ship_topk``     TO_DATETIME comparison + computed top-k + KEEP
- ``q_esql_percentiles``   MEDIAN / PERCENTILE / WEIGHTED_AVG

Round 9 adds: ``q_esql_sample`` (deterministic SAMPLE),
``q_esql_lookup_multi`` (multi-key LOOKUP JOIN against a derived
baseline + per-agg WHERE), ``q_esql_dissect_append`` (%{+key} +
APPEND_SEPARATOR), ``q_esql_ip`` (TO_IP / CIDR_MATCH / IP_PREFIX),
``q_esql_mv_strings`` / ``q_esql_mv_numeric`` (MV_* function family).

Reference parity: the reference's entire purpose is shipping HBase rows to
Elasticsearch *so they can be queried there* (`HBaseParser.java:135-162`);
ES|QL is how modern ES queries that data. The engine answers the same piped
language on the same rows without the round-trip.

Scale notes: the compiler emits only declarative ops, so each query below
plans exactly like its hand-written DataFrame twin — filters reach parquet
``PushedFilters``, ``STATS`` is one partial-agg shuffle on the group key,
``SORT|LIMIT`` folds to ``TakeOrderedAndProject``, and both lookup shapes
broadcast the dimension side (plan-pinned in ``tests/test_plan_shape.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.esql import esql
from elasticsearch_hbase_river_spark.functions.determinism import roundn_sql

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _register(name: str, text: str, oracle: str, doc: str,
              now=None) -> None:
    def run(spark: SparkSession, sf_dir: str, _text=text,
            _now=now) -> DataFrame:
        return esql(spark, _text, sf_dir, now=_now)

    run.__name__ = name
    run.__doc__ = doc + "\n\nES|QL:\n" + text
    run.esql_text = text
    QUERIES[name] = run
    ORACLES[name] = oracle


_register(
    "q_esql_rollup",
    """
FROM events
| WHERE value > 50 AND event_type != "view"
| EVAL day = DATE_TRUNC(1 day, ts)
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id),
        total = ROUND(SUM(value), 4)
  BY event_type, day
| SORT n DESC, event_type, day
| LIMIT 40
""",
    f"""
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       {roundn_sql('sum(value)', 4)} AS total
FROM events WHERE value > 50 AND event_type <> 'view'
GROUP BY event_type, day
ORDER BY n DESC, event_type, day LIMIT 40""",
    "Daily per-type rollup: one partial-agg shuffle, top-40 by count.")


_register(
    "q_esql_extract_hours",
    """
FROM events
| EVAL hour = DATE_EXTRACT("hour", ts)
| WHERE event_type RLIKE "(view|click)" AND hour >= 6 AND hour < 18
| STATS n = COUNT(*) BY event_type, hour
| SORT event_type, hour
""",
    """
SELECT event_type, CAST(date_part('hour', ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n
FROM events
WHERE regexp_matches(event_type, '^(view|click)$')
  AND date_part('hour', ts) >= 6 AND date_part('hour', ts) < 18
GROUP BY event_type, hour ORDER BY event_type, hour""",
    "Business-hours histogram; RLIKE anchors the whole string (ES|QL).")


_register(
    "q_esql_dissect",
    """
FROM orders
| DISSECT o_orderpriority "%{prio_rank}-%{prio_name}"
| STATS n = COUNT(*), avg_price = ROUND(AVG(o_totalprice), 4)
  BY prio_rank, prio_name
| SORT prio_rank, prio_name
""",
    f"""
WITH d AS (
  SELECT CASE WHEN regexp_matches(o_orderpriority, '^(.*?)-(.*)$')
              THEN regexp_extract(o_orderpriority, '^(.*?)-(.*)$', 1) END
           AS prio_rank,
         CASE WHEN regexp_matches(o_orderpriority, '^(.*?)-(.*)$')
              THEN regexp_extract(o_orderpriority, '^(.*?)-(.*)$', 2) END
           AS prio_name,
         o_totalprice
  FROM orders)
SELECT prio_rank, prio_name, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('avg(o_totalprice)', 4)} AS avg_price
FROM d GROUP BY prio_rank, prio_name ORDER BY prio_rank, prio_name""",
    "DISSECT splits '5-LOW' style priorities; pure regexp_extract, no UDF.")


_register(
    "q_esql_grok",
    """
FROM events
| GROK props "{\\"k\\": %{INT:k:int}}"
| WHERE k IS NOT NULL
| STATS n = COUNT(*), avg_val = ROUND(AVG(value), 4) BY k
| SORT n DESC, k
| LIMIT 25
""",
    f"""
WITH g AS (
  SELECT CASE WHEN regexp_matches(props, '^\\{{"k": ([+-]?\\d+)\\}}$')
              THEN CAST(regexp_extract(props,
                        '^\\{{"k": ([+-]?\\d+)\\}}$', 1) AS BIGINT) END AS k,
         value
  FROM events)
SELECT k, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('avg(value)', 4)} AS avg_val
FROM g WHERE k IS NOT NULL
GROUP BY k ORDER BY n DESC, k LIMIT 25""",
    "GROK typed capture over the props JSON-ish payload.")


_register(
    "q_esql_lookup",
    """
FROM orders
| RENAME o_custkey AS c_custkey
| LOOKUP JOIN customer ON c_custkey
| STATS revenue_m = ROUND(SUM(o_totalprice) / 1000000, 4), n = COUNT(*)
  BY c_mktsegment
| SORT revenue_m DESC, c_mktsegment
""",
    f"""
SELECT c_mktsegment,
       {roundn_sql('sum(o_totalprice) / 1000000', 4)} AS revenue_m,
       CAST(count(*) AS BIGINT) AS n
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY revenue_m DESC, c_mktsegment""",
    "LOOKUP JOIN: dimension join, broadcast side plan-pinned. Revenue is "
    "reported in MILLIONS: a raw double sum reaches ~1e12 at sf10, where "
    "summation-order wobble (~0.04) exceeds both the cent grain and the "
    "oracle tolerance; the scaled sum's wobble (4e-8) never does.")


_register(
    "q_esql_enrich",
    """
FROM customer
| ENRICH nations ON c_nationkey WITH n_name
| STATS n = COUNT(*), avg_bal = ROUND(AVG(c_acctbal), 4) BY n_name
| SORT n DESC, n_name
""",
    f"""
SELECT n_name, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('avg(c_acctbal)', 4)} AS avg_bal
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n DESC, n_name""",
    "ENRICH against the nations policy (match on c_nationkey).")


_register(
    "q_esql_mv_tokens",
    """
FROM documents
| EVAL tok = SPLIT(TO_LOWER(text), " ")
| MV_EXPAND tok
| WHERE LENGTH(tok) >= 6
| STATS n = COUNT(*) BY tok
| SORT n DESC, tok
| LIMIT 30
""",
    """
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
WHERE length(tok) >= 6
GROUP BY tok ORDER BY n DESC, tok LIMIT 30""",
    "Multivalue pipeline: SPLIT builds the MV column, MV_EXPAND unrolls.")


_register(
    "q_esql_case_tiers",
    """
FROM customer
| EVAL tier = CASE(c_acctbal >= 7500, "high", c_acctbal >= 2500, "mid",
                   "low")
| WHERE c_name LIKE "Customer*"
  AND c_mktsegment IN ("BUILDING", "MACHINERY", "AUTOMOBILE")
| STATS n = COUNT(*), min_bal = ROUND(MIN(c_acctbal), 2),
        max_bal = ROUND(MAX(c_acctbal), 2)
  BY tier, c_mktsegment
| SORT tier, c_mktsegment
""",
    f"""
SELECT CASE WHEN c_acctbal >= 7500 THEN 'high'
            WHEN c_acctbal >= 2500 THEN 'mid' ELSE 'low' END AS tier,
       c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('min(c_acctbal)', 2)} AS min_bal,
       {roundn_sql('max(c_acctbal)', 2)} AS max_bal
FROM customer
WHERE c_name LIKE 'Customer%'
  AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
GROUP BY tier, c_mktsegment ORDER BY tier, c_mktsegment""",
    "CASE tiering + ES|QL LIKE (*-wildcard) + IN list.")


_register(
    "q_esql_ship_topk",
    """
FROM lineitem
| WHERE l_shipdate >= TO_DATETIME("1996-06-01") AND l_discount > 0.05
| EVAL rev = ROUND(l_extendedprice * (1 - l_discount), 4)
| SORT rev DESC, l_orderkey, l_linenumber
| LIMIT 25
| KEEP l_orderkey, l_linenumber, rev, l_shipdate
""",
    f"""
SELECT l_orderkey, l_linenumber,
       {roundn_sql('l_extendedprice * (1 - l_discount)', 4)} AS rev,
       l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-06-01' AND l_discount > 0.05
ORDER BY rev DESC, l_orderkey, l_linenumber LIMIT 25""",
    "Computed top-k: SORT|LIMIT folds to TakeOrderedAndProject; the "
    "shipdate predicate reaches parquet PushedFilters.")


_register(
    "q_esql_bucket",
    """
FROM lineitem
| STATS n = COUNT(*), qty = ROUND(SUM(l_quantity), 2)
  BY price_b = BUCKET(l_extendedprice, 10000.0),
     week = BUCKET(l_shipdate, 1 week)
| SORT price_b, week
| LIMIT 200
""",
    f"""
SELECT floor(l_extendedprice / 10000.0) * 10000.0 AS price_b,
       date_trunc('week', l_shipdate) AS week,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(l_quantity)', 2)} AS qty
FROM lineitem GROUP BY price_b, week ORDER BY price_b, week LIMIT 200""",
    "BUCKET() both ways: fixed numeric width and calendar time span.")


_register(
    "q_esql_fork",
    """
FROM events
| WHERE value > 0
| FORK ( WHERE event_type == "click"
         | STATS n = COUNT(*) BY event_type )
       ( WHERE event_type == "purchase"
         | STATS n = COUNT(*), total = ROUND(SUM(value), 4)
           BY event_type )
| SORT _fork, event_type
""",
    f"""
SELECT 'fork1' AS _fork, event_type, CAST(count(*) AS BIGINT) AS n,
       NULL::DOUBLE AS total
FROM events WHERE value > 0 AND event_type = 'click' GROUP BY event_type
UNION ALL
SELECT 'fork2', event_type, CAST(count(*) AS BIGINT),
       {roundn_sql('sum(value)', 4)}
FROM events WHERE value > 0 AND event_type = 'purchase' GROUP BY event_type
ORDER BY _fork, event_type""",
    "FORK (ES 9.x): branch pipelines over one shared input, unioned by "
    "name with the _fork discriminator; Catalyst reuses the scan across "
    "branches.")


def _change_point_mark_cte(key: str, val: str) -> str:
    """The DuckDB twin of the compiler's CHANGE_POINT marker over a CTE
    ``s({key}, {val})``: the step-change candidate (cumulative split
    argmax) and the spike/dip candidate (leave-one-out argmax) each
    produce one row; the smaller RAW p-value wins, ties prefer step —
    spelled operand-for-operand like the Column expressions."""
    from elasticsearch_hbase_river_spark.esql import erf_sql

    dec = f"CAST({val} AS DECIMAL(19,3))"
    d = "abs((ts_ - cs)::DOUBLE / (tn - cn) - cs::DOUBLE / cn)"
    var = ("greatest(tq::DOUBLE / tn"
           " - (ts_::DOUBLE / tn) * (ts_::DOUBLE / tn), 0.0)")
    se = f"sqrt({var} * (1.0 / cn::DOUBLE + 1.0 / (tn - cn)::DOUBLE))"
    z = f"(CASE WHEN {se} > 0 THEN {d} / {se} ELSE 0.0 END)"
    phi = f"(0.5 * (1.0 + {erf_sql(f'{z} / 1.4142135623730951')}))"
    pv = f"greatest(0.0, 2.0 * (1.0 - {phi}))"
    mr = "((ts_ - x)::DOUBLE / (tn - 1)::DOUBLE)"
    varr = (f"greatest((tq - x * x)::DOUBLE / (tn - 1)::DOUBLE"
            f" - {mr} * {mr}, 0.0)")
    zs = (f"(CASE WHEN sqrt({varr}) > 0 "
          f"THEN abs(x::DOUBLE - {mr}) / sqrt({varr}) ELSE 0.0 END)")
    phis = f"(0.5 * (1.0 + {erf_sql(f'{zs} / 1.4142135623730951')}))"
    pvs = (f"(CASE WHEN sqrt({varr}) > 0 "
           f"THEN greatest(0.0, 2.0 * (1.0 - {phis})) "
           f"WHEN abs(x::DOUBLE - {mr}) > 0 THEN 0.0 ELSE 1.0 END)")
    return f"""
c AS (
  SELECT lead({key}) OVER (ORDER BY {key}) AS k_next,
         count(*) OVER (ORDER BY {key}) AS cn,
         sum({dec}) OVER (ORDER BY {key}) AS cs,
         sum({dec} * {dec}) OVER (ORDER BY {key}) AS cq,
         count(*) OVER () AS tn,
         sum({dec}) OVER () AS ts_,
         sum({dec} * {dec}) OVER () AS tq
  FROM s),
stepm AS (
  SELECT k_next AS mk, 'step_change' AS mtype, {pv} AS rawpv, 0 AS prio
  FROM c WHERE cn < tn
  ORDER BY {d} DESC, k_next LIMIT 1),
sp AS (
  SELECT {key} AS sk, {dec} AS x,
         count(*) OVER () AS tn,
         sum({dec}) OVER () AS ts_,
         sum({dec} * {dec}) OVER () AS tq
  FROM s),
spikem AS (
  SELECT sk AS mk,
         CASE WHEN x::DOUBLE > {mr} THEN 'spike' ELSE 'dip' END AS mtype,
         {pvs} AS rawpv, 1 AS prio
  FROM sp WHERE tn > 1
  ORDER BY abs(x * (tn - 1) - (ts_ - x)) DESC, sk LIMIT 1),
mark AS (
  SELECT mk, mtype, rawpv
  FROM (SELECT * FROM stepm UNION ALL SELECT * FROM spikem)
  ORDER BY rawpv, prio LIMIT 1)"""


def _change_point_oracle() -> str:
    return f"""
WITH s AS (
  SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1),
{_change_point_mark_cte('hour', 'n')}
SELECT s.hour, s.n, m.mtype AS type, {roundn_sql('m.rawpv')} AS pvalue
FROM s JOIN mark m ON s.hour = m.mk"""


_register(
    "q_esql_change_point",
    """
FROM events
| EVAL hour = DATE_TRUNC(1 hour, ts)
| STATS n = COUNT(*) BY hour
| CHANGE_POINT n ON hour
| WHERE type IS NOT NULL
""",
    _change_point_oracle(),
    "CHANGE_POINT: step-change detection over the hourly count series "
    "(exact-decimal argmax; two-sided z-test p-value via the shared A&S "
    "erf polynomial).")


def _match_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_toks_sql,
    )

    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n
FROM documents
WHERE len(list_intersect({analyze_toks_sql('text')},
                         {analyze_toks_sql("'spark window'")})) > 0
GROUP BY lang ORDER BY lang"""


_register(
    "q_esql_match",
    """
FROM documents
| WHERE MATCH(text, "spark window")
| STATS n = COUNT(*) BY lang
| SORT lang
""",
    _match_oracle(),
    "ES|QL full-text: MATCH under the standard analyzer (OR operator), "
    "the 8.18 search-in-ES|QL surface; the analyzed literal folds to a "
    "constant term array.")


_register(
    "q_esql_stats_where",
    """
FROM events
| STATS views = COUNT(*) WHERE event_type == "view",
        buys = COUNT(*) WHERE event_type == "purchase",
        buy_value = ROUND(SUM(value), 4) WHERE event_type == "purchase",
        n = COUNT(*)
  BY user_bucket = BUCKET(user_id, 100.0)
| SORT user_bucket
| LIMIT 30
""",
    f"""
SELECT floor(user_id / 100.0) * 100.0 AS user_bucket,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
         AS views,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS buys,
       {roundn_sql("sum(value) FILTER (WHERE event_type = 'purchase')", 4)}
         AS buy_value,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1 ORDER BY user_bucket LIMIT 30""",
    "Per-aggregate WHERE filters (ES|QL 8.16): one pass computes "
    "differently-filtered aggregates side by side — nulled non-matching "
    "rows, so every builtin agg's null-skipping does the filtering.")


_register(
    "q_esql_inlinestats",
    """
FROM events
| INLINESTATS avg_v = AVG(value) BY event_type
| EVAL cutoff = ROUND(1.8 * avg_v, 6)
| WHERE value > cutoff
| STATS outliers = COUNT(*), top_val = ROUND(MAX(value), 4) BY event_type
| SORT event_type
""",
    f"""
WITH a AS (
  SELECT event_type, avg(value) AS avg_v FROM events GROUP BY event_type),
j AS (
  SELECT e.event_type, e.value,
         {roundn_sql('1.8 * avg_v', 6)} AS cutoff
  FROM events e JOIN a USING (event_type))
SELECT event_type, CAST(count(*) AS BIGINT) AS outliers,
       {roundn_sql('max(value)', 4)} AS top_val
FROM j WHERE value > cutoff
GROUP BY event_type ORDER BY event_type""",
    "INLINESTATS (stats joined back): rows above 1.8x their group mean.")


def _q_esql_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL over the river's OWN canonical relation: the melted cells
    view is bound as an ES|QL table, proving the language composes with
    the engine's pipeline outputs (not just fixture parquet).

    ES|QL:
    FROM cells
    | WHERE family == "data" AND qualifier IN ("value", "props")
    | STATS n = COUNT(*), keys = COUNT_DISTINCT(row_key)
      BY family, qualifier
    | SORT family, qualifier
    """
    from elasticsearch_hbase_river_spark.sources.cells import (
        cells_from_events,
    )

    return esql(spark, """
FROM cells
| WHERE family == "data" AND qualifier IN ("value", "props")
| STATS n = COUNT(*), keys = COUNT_DISTINCT(row_key) BY family, qualifier
| SORT family, qualifier
""", tables={"cells": cells_from_events(spark, sf_dir)})


QUERIES["q_esql_cells"] = _q_esql_cells


def _cells_oracle() -> str:
    from elasticsearch_hbase_river_spark.sources.cells import CELLS_CTE

    return f"""
{CELLS_CTE}
SELECT family, qualifier, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT row_key) AS BIGINT) AS keys
FROM cells
WHERE family = 'data' AND qualifier IN ('value', 'props')
GROUP BY family, qualifier ORDER BY family, qualifier"""


ORACLES["q_esql_cells"] = _cells_oracle()


_register(
    "q_esql_percentiles",
    """
FROM events
| STATS p50 = ROUND(MEDIAN(value), 4),
        p95 = ROUND(PERCENTILE(value, 95), 4),
        w = ROUND(WEIGHTED_AVG(value, user_id), 4)
  BY event_type
| SORT event_type
""",
    f"""
SELECT event_type,
       {roundn_sql('quantile_cont(value, 0.5)', 4)} AS p50,
       {roundn_sql('quantile_cont(value, 0.95)', 4)} AS p95,
       {roundn_sql('sum(value * user_id) / sum(user_id)', 4)} AS w
FROM events GROUP BY event_type ORDER BY event_type""",
    "Exact interpolated percentiles + weighted average per event type.")


# -- round 9 additions: SAMPLE, multi-key LOOKUP JOIN, DISSECT append, ----
# -- MV_* function family, TO_IP / IP_PREFIX ------------------------------

_HEX16 = "0123456789abcdef"


def _md5_coin_sql(col_sql: str) -> str:
    """DuckDB twin of the compiler's SAMPLE coin: first four md5 hex
    digits of the string rendering as an integer 0..65535."""
    h = f"md5(CAST({col_sql} AS VARCHAR))"
    return (f"((strpos('{_HEX16}', substr({h}, 1, 1)) - 1) * 4096"
            f" + (strpos('{_HEX16}', substr({h}, 2, 1)) - 1) * 256"
            f" + (strpos('{_HEX16}', substr({h}, 3, 1)) - 1) * 16"
            f" + (strpos('{_HEX16}', substr({h}, 4, 1)) - 1))")


_register(
    "q_esql_sample",
    """
FROM events
| KEEP event_id
| SAMPLE 0.25
| STATS n = COUNT(*), s = SUM(event_id)
""",
    f"""
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(event_id) AS BIGINT) AS s
FROM events WHERE {_md5_coin_sql('event_id')} < {int(0.25 * 65536)}""",
    "SAMPLE: deterministic content-hash Bernoulli (documented deviation "
    "from ES's random coin — same keep probability, reproducible across "
    "runs and engines; map-side filter, no shuffle).")


_register(
    "q_esql_dissect_append",
    """
FROM orders
| EVAL line = CONCAT(o_orderstatus, " ", o_orderpriority)
| DISSECT line "%{pri} %{+pri}" APPEND_SEPARATOR="/"
| STATS n = COUNT(*) BY pri
| SORT pri
""",
    """
SELECT o_orderstatus || '/' || o_orderpriority AS pri,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY 1 ORDER BY 1""",
    "DISSECT %{+key} append modifier with APPEND_SEPARATOR: repeated "
    "captures of one key joined in pattern order.")


_register(
    "q_esql_ip",
    """
FROM events
| EVAL ip = CONCAT(TO_STRING(user_id % 200), ".",
                   TO_STRING(event_id % 256), ".7.9")
| WHERE TO_IP(ip) IS NOT NULL AND CIDR_MATCH(ip, "0.0.0.0/2")
| EVAL net = IP_PREFIX(ip, 16, 128)
| STATS n = COUNT(*) BY net
| SORT n DESC, net
| LIMIT 20
""",
    """
WITH e AS (
  SELECT (user_id % 200) AS o1, (event_id % 256) AS o2 FROM events
  WHERE (user_id % 200) < 64)
SELECT o1 || '.' || o2 || '.0.0' AS net, CAST(count(*) AS BIGINT) AS n
FROM e GROUP BY 1 ORDER BY n DESC, net LIMIT 20""",
    "IP function family: TO_IP validation, CIDR_MATCH prefix filter, "
    "IP_PREFIX network truncation — all compile-time-parsed literals, "
    "map-side integer math.")


_register(
    "q_esql_extended_stats",
    """
FROM events
| STATS var = ROUND(VARIANCE(value), 4),
        sd = ROUND(SQRT(VARIANCE(value)), 4),
        skew = ROUND(SKEWNESS(value), 6),
        kurt = ROUND(KURTOSIS(value), 6),
        n = COUNT(value)
  BY event_type
| SORT event_type
""",
    """
WITH m AS (
  -- group over ALL rows (an all-NULL group is still a group: the engine
  -- emits it with n = 0 and NULL stats); sums skip NULLs on their own
  SELECT event_type,
         count(value) AS n,
         sum(value::DOUBLE) AS s1,
         sum(value::DOUBLE * value) AS s2,
         sum(value::DOUBLE * value * value) AS s3,
         sum(value::DOUBLE * value * value * value) AS s4
  FROM events GROUP BY event_type),
d AS (
  -- m2 carries the engine's n·2^-50 cancellation clamp: at or below
  -- the group's summation noise floor, m2 is exactly 0 (variance 0,
  -- skew/kurt NULL) so float-noise sign never diverges across engines
  SELECT event_type, n,
         CASE WHEN n > 0 THEN s1 / n END AS mu,
         CASE WHEN n > 0 THEN
           CASE WHEN s2 / n - (s1 / n) * (s1 / n)
                     <= n * power(2.0, -50) * abs(s2 / n)
                THEN 0.0
                ELSE s2 / n - (s1 / n) * (s1 / n) END END AS m2,
         CASE WHEN n > 0 THEN
           s3 / n - 3 * (s1 / n) * s2 / n + 2 * pow(s1 / n, 3) END AS m3,
         CASE WHEN n > 0 THEN
           s4 / n - 4 * (s1 / n) * s3 / n + 6 * pow(s1 / n, 2) * s2 / n
           - 3 * pow(s1 / n, 4) END AS m4
  FROM m)
SELECT event_type, round(m2, 4) AS var, round(sqrt(m2), 4) AS sd,
       round(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 6) AS skew,
       round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END, 6) AS kurt,
       CAST(n AS BIGINT) AS n
FROM d ORDER BY event_type""",
    "Extended stats family: population VARIANCE / STD_DEV / SKEWNESS / "
    "excess KURTOSIS from raw power sums (one partial-aggregated pass; "
    "identical moment formulas in both engines — the built-in "
    "skewness/kurtosis of Spark and DuckDB disagree on sample-vs-"
    "population normalization, so neither is used).")


_register(
    "q_esql_to_ip6",
    """
FROM events
| EVAL ip6 = CONCAT(TO_STRING(user_id % 50), ":0:",
                    TO_STRING(event_id % 3), ":0:0:0:00AB:",
                    TO_STRING(event_id % 7))
| EVAL canon = TO_IP(ip6)
| STATS n = COUNT(*) BY canon
| SORT n DESC, canon
| LIMIT 25
""",
    None,  # twin filled in below (needs the generated canonicalizer)
    "TO_IP IPv6 canonicalization (RFC 5952: lowercase, leading zeros "
    "stripped, leftmost-longest zero run compressed) over synthesized "
    "addresses with varying zero runs — map-side column expressions, "
    "one aggregate shuffle.")

def _to_ip6_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.ip import to_ip_sql
    ip6 = ("(user_id % 50) || ':0:' || (event_id % 3) || "
           "':0:0:0:00AB:' || (event_id % 7)")
    # canonicalize AFTER pre-aggregating on the raw string (~1k distinct
    # values) — the 28-case run-search subquery runs once per distinct
    # address, not once per event row
    return f"""
WITH src AS (SELECT {ip6} AS ip6, count(*) AS c FROM events GROUP BY 1),
cn AS (SELECT {to_ip_sql('ip6')} AS canon, c FROM src)
SELECT canon, CAST(sum(c) AS BIGINT) AS n
FROM cn GROUP BY canon ORDER BY n DESC, canon LIMIT 25"""

ORACLES["q_esql_to_ip6"] = _to_ip6_oracle()


_register(
    "q_esql_cidr6",
    """
FROM events
| EVAL ip = CASE(event_id % 3 == 0,
                 CONCAT("2001:db8:", TO_STRING(user_id % 4), "::1"),
                 event_id % 3 == 1,
                 CONCAT("::ffff:10.", TO_STRING(user_id % 4), ".0.1"),
                 CONCAT("10.", TO_STRING(user_id % 4), ".",
                        TO_STRING(event_id % 2), ".9"))
| EVAL in6 = CIDR_MATCH(ip, "2001:db8::/32"),
       in4 = CIDR_MATCH(ip, "10.0.0.0/8", "fe80::/10")
| WHERE in6 OR in4
| EVAL canon = TO_IP(ip)
| STATS n = COUNT(*) BY canon, in6
| SORT n DESC, canon
| LIMIT 30
""",
    None,  # twin generated below (shared CIDR prefix compilation)
    "CIDR_MATCH across address families on the 128-bit value (Lucene "
    "InetAddressPoint encoding): IPv6 blocks (2001:db8::/32, a "
    "non-nibble-aligned fe80::/10), an IPv4 block that also catches "
    "IPv4-MAPPED addresses (::ffff:10.x.0.1 ∈ 10.0.0.0/8 — the ES "
    "mapped-range semantics), and TO_IP rendering mapped values back "
    "to dotted quads. All compile-time prefixes, map-side compares.")


def _cidr6_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.ip import (
        cidr_match_sql_cond,
        ip_hex32_sql,
        to_ip_sql,
    )
    ip = ("CASE WHEN event_id % 3 = 0 "
          "THEN '2001:db8:' || (user_id % 4) || '::1' "
          "WHEN event_id % 3 = 1 "
          "THEN '::ffff:10.' || (user_id % 4) || '.0.1' "
          "ELSE '10.' || (user_id % 4) || '.' || (event_id % 2) || '.9' "
          "END")
    in6 = cidr_match_sql_cond("h", "2001:db8::/32")
    in4a = cidr_match_sql_cond("h", "10.0.0.0/8")
    in4b = cidr_match_sql_cond("h", "fe80::/10")
    # pre-aggregate on the raw string (few distinct values) so the
    # hex32/canonicalizer subqueries run once per distinct address
    return f"""
WITH src AS (SELECT {ip} AS ip, count(*) AS c FROM events GROUP BY 1),
hx AS (SELECT ip, c, {ip_hex32_sql('ip')} AS h FROM src),
m AS (SELECT ip, c,
        (h IS NOT NULL AND {in6}) AS in6,
        (h IS NOT NULL AND ({in4a} OR {in4b})) AS in4
      FROM hx),
cn AS (SELECT {to_ip_sql('ip')} AS canon, in6, c
       FROM m WHERE in6 OR in4)
SELECT canon, in6, CAST(sum(c) AS BIGINT) AS n
FROM cn GROUP BY canon, in6 ORDER BY n DESC, canon LIMIT 30"""


ORACLES["q_esql_cidr6"] = _cidr6_oracle()


_register(
    "q_esql_ip6_prefix",
    """
FROM events
| EVAL ip6 = CONCAT("2001:db8:", TO_STRING(user_id % 16), ":",
                    TO_STRING(event_id % 4), "bc0::1")
| EVAL net = IP_PREFIX(ip6, 24, 52)
| STATS n = COUNT(*) BY net
| SORT n DESC, net
| LIMIT 20
""",
    None,  # twin generated below (shared hex32 mask + canonicalizer)
    "IP_PREFIX over IPv6: non-nibble-aligned 52-bit network mask on "
    "the hex32 encoding (substring + compile-time translate map) with "
    "the RFC 5952 canonicalizer reused for rendering — IP_PREFIX and "
    "TO_IP share one code path in both engines.")


def _ip6_prefix_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.ip import ip_prefix_sql
    ip6 = ("'2001:db8:' || (user_id % 16) || ':' || (event_id % 4) "
           "|| 'bc0::1'")
    return f"""
WITH src AS (SELECT {ip6} AS ip6, count(*) AS c FROM events GROUP BY 1),
pn AS (SELECT {ip_prefix_sql('ip6', 24, 52)} AS net, c FROM src)
SELECT net, CAST(sum(c) AS BIGINT) AS n
FROM pn GROUP BY net ORDER BY n DESC, net LIMIT 20"""


ORACLES["q_esql_ip6_prefix"] = _ip6_prefix_oracle()


_register(
    "q_esql_cal_trunc",
    """
FROM events
| EVAL q = DATE_TRUNC(3 month, ts), s = BUCKET(ts, 2 quarter)
| STATS n = COUNT(*), v = ROUND(SUM(value), 4) BY q, s
| SORT q, s
""",
    f"""
WITH e AS (
  SELECT (year(ts) - 1970) * 12 + month(ts) - 1 AS m, value FROM events),
b AS (SELECT m - m % 3 AS f3, m - m % 6 AS f6, value FROM e)
SELECT make_timestamp(1970 + f3 // 12, f3 % 12 + 1, 1, 0, 0, 0) AS q,
       make_timestamp(1970 + f6 // 12, f6 % 12 + 1, 1, 0, 0, 0) AS s,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(value)', 4)} AS v
FROM b GROUP BY 1, 2 ORDER BY q, s""",
    "Calendar multi-unit grids: DATE_TRUNC(3 month) and BUCKET(2 "
    "quarter) floor in EXACT month arithmetic anchored at the epoch "
    "month (ES Rounding semantics — never a fixed-width seconds "
    "approximation); both engines run the identical integer month "
    "math, one partial-agg shuffle.")


_register(
    "q_esql_mv_strings",
    """
FROM documents
| EVAL toks = SPLIT(text, " ")
| WHERE MV_COUNT(toks) >= 3
| EVAL first_tok = MV_FIRST(toks),
       tail2 = MV_CONCAT(MV_SLICE(toks, -2, -1), "_"),
       zipped = MV_CONCAT(MV_ZIP(MV_SLICE(toks, 0, 1),
                                 MV_SLICE(toks, -2, -1), ":"), ",")
| KEEP doc_id, first_tok, tail2, zipped
""",
    """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 3)
SELECT doc_id, l[1] AS first_tok,
       l[-2] || '_' || l[-1] AS tail2,
       l[1] || ':' || l[-2] || ',' || l[2] || ':' || l[-1] AS zipped
FROM t""",
    "String MV family: MV_FIRST / MV_CONCAT / MV_ZIP over negative-bound "
    "MV_SLICE windows — per-row array ops, no shuffle.")


_register(
    "q_esql_mv_numeric",
    """
FROM events
| EVAL triple = SPLIT(CONCAT(TO_STRING(event_id % 9), " ",
                             TO_STRING(user_id % 7), " ",
                             TO_STRING(event_id % 5)), " ")
| EVAL s = MV_SUM(triple), av = ROUND(MV_AVG(triple), 4),
       med = ROUND(MV_MEDIAN(triple), 4)
| STATS total = ROUND(SUM(s), 4), mean_avg = ROUND(AVG(av), 4),
        mean_med = ROUND(AVG(med), 4)
""",
    f"""
WITH t AS (
  SELECT (event_id % 9)::DOUBLE AS a, (user_id % 7)::DOUBLE AS b,
         (event_id % 5)::DOUBLE AS c
  FROM events)
SELECT {roundn_sql('sum(a + b + c)', 4)} AS total,
       {roundn_sql('avg(' + roundn_sql('(a + b + c) / 3', 4) + ')', 4)} AS mean_avg,
       {roundn_sql('avg(' + roundn_sql('a + b + c - least(a, b, c) - greatest(a, b, c)', 4) + ')', 4)} AS mean_med
FROM t""",
    "Numeric MV family: MV_SUM / MV_AVG / MV_MEDIAN over a synthesized "
    "3-element array, folded corpus-wide.")


_LOOKUP_MULTI_TEXT = """
FROM events
| EVAL hour = DATE_EXTRACT("hour", ts)
| LOOKUP JOIN baseline ON event_type, hour
| STATS n = COUNT(*), n_above = COUNT(*) WHERE value > base
  BY event_type
| SORT event_type
"""

_BASELINE_TEXT = """
FROM events
| EVAL hour = DATE_EXTRACT("hour", ts)
| STATS base = ROUND(AVG(value), 4) BY event_type, hour
"""


def q_esql_lookup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key LOOKUP JOIN: each event looks up the per-(type, hour)
    average-value baseline and the STATS counts how many rows beat it —
    the anomaly-vs-baseline shape. The lookup side is itself an ES|QL
    STATS (group-bounded, so the broadcast the compiler pins is sound at
    any corpus scale), and the per-aggregate WHERE exercises the
    filtered-count path through a composite-key join.

    ES|QL:
    """ + _LOOKUP_MULTI_TEXT
    baseline = esql(spark, _BASELINE_TEXT, sf_dir)
    return esql(spark, _LOOKUP_MULTI_TEXT, sf_dir,
                tables={"baseline": baseline})


QUERIES["q_esql_lookup_multi"] = q_esql_lookup_multi
ORACLES["q_esql_lookup_multi"] = f"""
WITH baseline AS (
  SELECT event_type, CAST(date_part('hour', ts) AS BIGINT) AS hour,
         {roundn_sql('avg(value)', 4)} AS base
  FROM events GROUP BY 1, 2)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE e.value > b.base) AS BIGINT) AS n_above
FROM events e
LEFT JOIN baseline b ON b.event_type = e.event_type
 AND b.hour = CAST(date_part('hour', e.ts) AS BIGINT)
GROUP BY 1 ORDER BY 1"""


_INDEXED_BM25_TEXT = """
FROM documents
| LOOKUP JOIN hits ON doc_id
| WHERE rank IS NOT NULL
| EVAL snippet = LEFT(text, 30)
| KEEP doc_id, rank, score, snippet
| SORT rank
"""


def q_esql_indexed_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL composed over the INDEX layer: the ``hits`` table bound into
    ``FROM``'s namespace is :func:`bm25_from_index` — BM25 top-20 served
    from the materialized postings layout (pruned bucket read, stats
    sidecar literals, zero corpus text scans) — and the language then
    joins the corpus back for snippets. Scale shape: the lookup side is
    the k-bounded hit list, so the compiler's broadcast lands on 20 rows
    while the corpus-sized documents relation streams map-side.

    ES|QL:
    """ + _INDEXED_BM25_TEXT
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        bm25_from_index,
        ensure_index,
    )

    hits = bm25_from_index(spark, ensure_index(spark, sf_dir))
    return esql(spark, _INDEXED_BM25_TEXT, sf_dir, tables={"hits": hits})


def _indexed_bm25_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.search import (
        ORACLES as _SEARCH_ORACLES,
    )

    base = _SEARCH_ORACLES["q_bm25"]
    tail = "SELECT * FROM ranked WHERE rank <= 20"
    assert tail in base
    return base.replace(tail, """
SELECT d.doc_id, r.rank, r.score, substr(d.text, 1, 30) AS snippet
FROM documents d JOIN ranked r USING (doc_id)
WHERE r.rank <= 20 ORDER BY r.rank""")


QUERIES["q_esql_indexed_bm25"] = q_esql_indexed_bm25
ORACLES["q_esql_indexed_bm25"] = _indexed_bm25_oracle()


# ---------------------------------------------------------------------------
# Streaming ES|QL: the same language, maintained by the river's tick loop
# (streaming/esql_stream.py). The registered query DRAINS a real multi-batch
# availableNow stream once per sf_dir (idempotent fixture, maxFilesPerTrigger
# = 1 over a 4-file source so the merge crosses real micro-batch boundaries)
# and serves the merged partial aggregates — which must hash-equal the plain
# batch GROUP BY the oracle computes. That is the materialized-view
# correctness contract that makes the incremental maintenance safe at scale.

ESQL_STREAM_TEXT = """
FROM events
| WHERE event_type IS NOT NULL
| STATS n = COUNT(*),
        total = ROUND(SUM(value), 4),
        hi = ROUND(MAX(value), 4),
        avg_v = ROUND(AVG(value), 4),
        n_hot = COUNT(*) WHERE value > 90
  BY event_type
| SORT event_type
"""


def _drain_esql_stream(spark: SparkSession, sf_dir: str, tag: str,
                       text: str, cols: tuple[str, ...],
                       ts_specs: dict | None = None) -> str:
    """Idempotent drained-stream fixture: stream ``cols`` of the events
    table through ``text`` once per corpus into the published directory
    ``<index path>-<tag>`` (state/ + ckpt/ + the ``_drained.json``
    marker), then serve it forever after (same discipline as
    ``ensure_live_epochs``)."""
    import os

    from elasticsearch_hbase_river_spark.artifacts import publish_dir
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        index_path_for,
    )
    from elasticsearch_hbase_river_spark.sources.tables import load_table
    from elasticsearch_hbase_river_spark.streaming.epochs import (
        epoch_ids,
        read_feed,
    )
    from elasticsearch_hbase_river_spark.streaming.esql_stream import (
        start_esql_stream,
    )

    root = index_path_for(sf_dir) + f"-{tag}"

    def _build(tmp: str) -> dict:
        src, state = os.path.join(tmp, "src"), os.path.join(tmp, "state")
        # 2 source files -> 2 real micro-batch epochs: the multi-epoch
        # merge this fixture exists to exercise needs >=2 (asserted
        # below), and each extra micro-batch costs a full foreachBatch
        # tick of fixed streaming-engine overhead at any data size (r11:
        # 4 -> 2 epochs, drain ~1 s cheaper, identical merged result —
        # the partials are exact). The split is not time-partitioned, so
        # a TS series' bucket spans both micro-batches.
        (load_table(spark, sf_dir, "events").select(*cols)
         .repartition(2).write.parquet(src))
        sdf = read_feed(spark, src, spark.read.parquet(src).schema,
                        files_per_trigger=1)
        q = start_esql_stream(spark, text, sdf, state,
                              os.path.join(tmp, "ckpt"), ts_specs=ts_specs)
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"{tag} fixture did not drain in 600s")
        epochs = epoch_ids(state, "partials")
        if len(epochs) < 2:
            raise RuntimeError(
                f"expected >=2 real micro-batches, got {epochs}")
        return {"epochs": len(epochs)}

    publish_dir(root, "_drained.json", {}, _build)
    return root


def ensure_esql_stream_state(spark: SparkSession, sf_dir: str) -> str:
    return _drain_esql_stream(spark, sf_dir, "esql-stream-v1",
                              ESQL_STREAM_TEXT,
                              ("event_id", "event_type", "value"))


def q_esql_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed materialized ES|QL STATS (COUNT/SUM/MAX/AVG + per-agg
    WHERE, merged across >=2 real micro-batch epochs) must equal the batch
    GROUP BY over the same rows.

    ES|QL:
    """ + ESQL_STREAM_TEXT
    from elasticsearch_hbase_river_spark.streaming.esql_stream import (
        read_esql_stream_result,
    )

    root = ensure_esql_stream_state(spark, sf_dir)
    import os

    return read_esql_stream_result(spark, ESQL_STREAM_TEXT,
                                   os.path.join(root, "state"))


QUERIES["q_esql_stream_rollup"] = q_esql_stream_rollup
ORACLES["q_esql_stream_rollup"] = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(value)', 4)} AS total,
       {roundn_sql('max(value)', 4)} AS hi,
       {roundn_sql('avg(value)', 4)} AS avg_v,
       CAST(count(*) FILTER (WHERE value > 90) AS BIGINT) AS n_hot
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type ORDER BY event_type"""


# ---------------------------------------------------------------------------
# Round-9 tranche 2: multi-index FROM, range ENRICH, math/hash/encoding
# function families, STD_DEV / TOP aggregates.

_register(
    "q_esql_multi_index",
    """
FROM customer, supplier METADATA _index
| EVAL bal = COALESCE(c_acctbal, s_acctbal)
| STATS n = COUNT(*), total = ROUND(SUM(bal), 4) BY _index
| SORT _index
""",
    f"""
SELECT _index, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(bal)', 4)} AS total
FROM (
  SELECT 'customer' AS _index, c_acctbal AS bal FROM customer
  UNION ALL
  SELECT 'supplier' AS _index, s_acctbal AS bal FROM supplier
) u GROUP BY _index ORDER BY _index""",
    "Multi-index FROM: union-by-name with null padding (ES semantics), "
    "METADATA _index tags provenance; per-source scan stays pruned.")


_register(
    "q_esql_enrich_range",
    """
FROM orders
| ENRICH price_tiers ON o_totalprice WITH tier
| STATS n = COUNT(*), hi = ROUND(MAX(o_totalprice), 4) BY tier
| SORT tier
""",
    f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            WHEN o_totalprice < 300000 THEN 'large'
            ELSE 'jumbo' END AS tier,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('max(o_totalprice)', 4)} AS hi
FROM orders GROUP BY tier ORDER BY tier""",
    "Range-typed ENRICH policy: broadcast [lo, hi) interval join against "
    "the 4-row tier dimension — BroadcastNestedLoopJoin, probe map-side.")


_register(
    "q_esql_math_surface",
    """
FROM events
| WHERE value > 0
| EVAL angle = TO_RADIANS(value)
| STATS avg_sin = ROUND(AVG(SIN(angle)), 4),
        sd = ROUND(STD_DEV(value), 4),
        rms = ROUND(SQRT(AVG(value * value)), 4),
        hyp = ROUND(MAX(HYPOT(value, 100.0)), 4)
  BY event_type
| SORT event_type
""",
    f"""
SELECT event_type,
       {roundn_sql('avg(sin(radians(value)))', 4)} AS avg_sin,
       {roundn_sql('stddev_pop(value)', 4)} AS sd,
       {roundn_sql('sqrt(avg(value * value))', 4)} AS rms,
       {roundn_sql('max(sqrt(value*value + 100.0*100.0))', 4)} AS hyp
FROM events WHERE value > 0
GROUP BY event_type ORDER BY event_type""",
    "Trig/math family inside aggregates: per-row codegen'd libm calls, "
    "one partial-agg shuffle; rounding pins the cross-libm ulp contract.")


_register(
    "q_esql_hash_fingerprint",
    """
FROM documents
| EVAL h = MD5(text), b = SUBSTRING(h, 1, 1), bl = BYTE_LENGTH(text)
| STATS n = COUNT(*), uniq = COUNT_DISTINCT(h), bytes = SUM(bl) BY b
| SORT b
""",
    """
SELECT substr(md5(text), 1, 1) AS b,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq,
       CAST(sum(strlen(text)) AS BIGINT) AS bytes
FROM documents GROUP BY b ORDER BY b""",
    "MD5 content fingerprints bucketed by first nibble — the dedup-hash "
    "shape as a language-level query; map-side hash, one shuffle.")


_register(
    "q_esql_top_values",
    """
FROM events
| STATS t3 = TOP(value, 3, "desc") BY event_type
| EVAL top1 = MV_FIRST(t3), spread = ROUND(MV_MAX(t3) - MV_MIN(t3), 4),
       s3 = ROUND(MV_SUM(t3), 4)
| DROP t3
| SORT event_type
""",
    f"""
WITH t AS (
  SELECT event_type, (list(value ORDER BY value DESC))[:3] AS t3
  FROM events GROUP BY event_type)
SELECT event_type, t3[1] AS top1,
       {roundn_sql('t3[1] - t3[3]', 4)} AS spread,
       {roundn_sql('t3[1] + t3[2] + t3[3]', 4)} AS s3
FROM t ORDER BY event_type""",
    "TOP(k) aggregate: per-group top-3 multivalue, then MV_* scalars "
    "reduce it — value-multiset deterministic under ties.")


# ---------------------------------------------------------------------------
# TS: the time-series command (metrics semantics). Inner *_OVER_TIME /
# RATE aggregates reduce each (series, bucket) first; the outer aggregate
# combines across series — ES TSDB's two-level model, compiled to one
# window projection (RATE deltas, partitioned by series so no partition
# ever exceeds one series' bucket) + two partial-aggregable groupBys.

_register(
    "q_esql_ts_gauge",
    """
TS events
| STATS load = ROUND(AVG(AVG_OVER_TIME(value)), 4),
        peak = ROUND(MAX(MAX_OVER_TIME(value)), 4),
        n_series = COUNT(*)
  BY event_type, tb = BUCKET(ts, 1 day)
| SORT event_type, tb
| LIMIT 50
""",
    f"""
WITH s AS (
  SELECT user_id, event_type, date_trunc('day', ts) AS tb,
         CAST(sum(CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(27,6))) AS DOUBLE) / count(value) AS a,
         max(value) AS m
  FROM events GROUP BY user_id, event_type, tb)
SELECT event_type, tb,
       {roundn_sql('CAST(sum(CAST(floor(a * 1000000000.0 + 0.5) '
                    '/ 1000000000.0 AS DECIMAL(27,9))) AS DOUBLE) '
                    '/ count(a)', 4)} AS load,
       {roundn_sql('max(m)', 4)} AS peak,
       CAST(count(*) AS BIGINT) AS n_series
FROM s GROUP BY event_type, tb ORDER BY event_type, tb LIMIT 50""",
    "TS gauge rollup: per-(user, type, day) series averages/maxima, then "
    "the cross-series combine — never a flat AVG that would weight "
    "chatty series higher, the exact point of the TSDB model. Both AVG "
    "levels use the engine's ORDER-FREE exact-decimal form "
    "(esql._ts_pinned_avg): quantize to a fixed grid, sum in decimal, "
    "divide once — so the rounded output cannot flip with partial-agg "
    "merge order (the 1-ulp half-grain flake this query once had).")


ESQL_TS_RATE_TEXT = """
TS metrics
| STATS inc = ROUND(SUM(RATE(req_total)) * 86400, 4)
  BY tb = BUCKET(ts, 1 day)
| SORT tb
"""


def q_esql_ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter RATE over a derived per-host request counter (cumulative
    count mod 100 — the modulus forces RESETS, exercising the Prometheus
    increase rule: positive deltas sum, a reset contributes the
    post-reset value, the first sample is baseline; normalized by the
    86400 s bucket).

    ES|QL:
    """ + ESQL_TS_RATE_TEXT
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from elasticsearch_hbase_river_spark.esql import TimeSeriesSpec
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    host = F.pmod(F.col("user_id"), F.lit(8)).cast("long")
    w = Window.partitionBy(host).orderBy("ts", "event_id")
    metrics = ev.select(
        host.alias("host"), "ts",
        (F.sum(F.lit(1)).over(w) % 100).alias("req_total"))
    return esql(spark, ESQL_TS_RATE_TEXT, tables={"metrics": metrics},
                ts_specs={"metrics": TimeSeriesSpec("ts", ("host",))})


QUERIES["q_esql_ts_rate"] = q_esql_ts_rate
ORACLES["q_esql_ts_rate"] = f"""
WITH m AS (
  SELECT CAST(user_id % 8 AS BIGINT) AS host, ts,
         CAST(count(*) OVER (PARTITION BY user_id % 8
                             ORDER BY ts, event_id) AS BIGINT) % 100
           AS req_total
  FROM events),
d AS (
  SELECT host, date_trunc('day', ts) AS tb, req_total,
         req_total - lag(req_total) OVER (
             PARTITION BY host, date_trunc('day', ts)
             ORDER BY ts, req_total) AS delta
  FROM m),
r AS (
  SELECT host, tb,
         sum(CASE WHEN delta IS NULL THEN 0
                  WHEN delta >= 0 THEN delta
                  ELSE req_total END) / 86400.0 AS rate
  FROM d GROUP BY host, tb)
SELECT tb, {roundn_sql('sum(rate) * 86400', 4)} AS inc
FROM r GROUP BY tb ORDER BY tb"""


# ---------------------------------------------------------------------------
# Spatial ST_* family over the DSL geo pack's derived user locations
# (operators/esdsl3.py:_geo_users — md5-derived stable per-user points; the
# synthesis is fixture plumbing, the language surface under test is
# ST_POINT / TO_GEOPOINT / ST_DISTANCE / ring bucketing).

ESQL_GEO_TEXT = """
FROM geo_users
| EVAL d = ST_DISTANCE(ST_POINT(lon, lat), TO_GEOPOINT("POINT (-122.0 37.0)"))
| WHERE d < 4000000.0
| EVAL dr = ROUND(d / 1000.0, 4), ring = TO_LONG(FLOOR(d / 1000000.0))
| STATS n_users = COUNT(*), avg_km = ROUND(AVG(dr), 2) BY ring
| SORT ring
"""


def q_esql_geo_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-ring histogram in the language: per-user great-circle
    meters from the origin (haversine, codegen'd libm), 1000 km rings.
    Same sphere and derivation as the DSL's q_geo_distance, so the two
    surfaces corroborate each other.

    ES|QL:
    """ + ESQL_GEO_TEXT
    from elasticsearch_hbase_river_spark.operators.esdsl3 import _geo_users

    return esql(spark, ESQL_GEO_TEXT,
                tables={"geo_users": _geo_users(spark, sf_dir)})


def _esql_geo_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        _geo_users_sql,
        _haversine_sql,
    )

    dist_m = "(" + _haversine_sql("37.0", "-122.0", "lat", "lon") + " * 1000.0)"
    return f"""
WITH geo_users AS ({_geo_users_sql("strpos")}),
d AS (SELECT {dist_m} AS d FROM geo_users)
SELECT CAST(floor(d / 1000000.0) AS BIGINT) AS ring,
       CAST(count(*) AS BIGINT) AS n_users,
       {roundn_sql(f"avg({roundn_sql('d / 1000.0', 4)})", 2)} AS avg_km
FROM d WHERE d < 4000000.0
GROUP BY ring ORDER BY ring"""


QUERIES["q_esql_geo_rings"] = q_esql_geo_rings
ORACLES["q_esql_geo_rings"] = _esql_geo_oracle()


# ---------------------------------------------------------------------------
# FUSE: hybrid retrieval via reciprocal rank fusion (ES 9.x) — two term
# rankings forked from one scan, fused by 1/(60 + rank), entirely in the
# language. The term-frequency proxy keeps the oracle exact (byte counts,
# no libm); the surface under test is FORK -> per-branch top-k -> FUSE.

_register(
    "q_esql_fuse_hybrid",
    """
FROM documents
| EVAL _id = doc_id,
       s1 = (BYTE_LENGTH(text) - BYTE_LENGTH(REPLACE(text, "data", ""))) / 4,
       s2 = (BYTE_LENGTH(text) - BYTE_LENGTH(REPLACE(text, "model", ""))) / 5
| FORK ( WHERE s1 > 0 | EVAL _score = TO_DOUBLE(s1)
         | SORT _score DESC, _id | LIMIT 20 )
       ( WHERE s2 > 0 | EVAL _score = TO_DOUBLE(s2)
         | SORT _score DESC, _id | LIMIT 20 )
| FUSE
| EVAL _score = ROUND(_score, 6)
| SORT _score DESC, _id
| LIMIT 10
| KEEP _id, _score
""",
    f"""
WITH base AS (
  SELECT doc_id AS _id,
         (strlen(text) - strlen(replace(text, 'data', ''))) / 4 AS s1,
         (strlen(text) - strlen(replace(text, 'model', ''))) / 5 AS s2
  FROM documents),
b1 AS (SELECT _id, row_number() OVER (ORDER BY CAST(s1 AS DOUBLE) DESC, _id)
         AS r FROM base WHERE s1 > 0),
b2 AS (SELECT _id, row_number() OVER (ORDER BY CAST(s2 AS DOUBLE) DESC, _id)
         AS r FROM base WHERE s2 > 0),
u AS (SELECT _id, 1.0 / (60 + r) AS c FROM b1 WHERE r <= 20
      UNION ALL
      SELECT _id, 1.0 / (60 + r) AS c FROM b2 WHERE r <= 20)
SELECT _id, {roundn_sql('sum(c)', 6)} AS _score
FROM u GROUP BY _id
ORDER BY _score DESC, _id LIMIT 10""",
    "Hybrid retrieval: two rankings from one scan, per-branch top-20, "
    "RRF-fused — the FORK/FUSE shape of ES hybrid search; windows only "
    "ever sort one branch's k rows.")


# ---------------------------------------------------------------------------
# CATEGORIZE: log-line categorization in STATS BY (deterministic skeleton
# rule — see _scalar_categorize). The query synthesizes log-shaped lines
# so the masking is load-bearing: ids and measures vary per row, the
# category stays stable per (verb, type) shape.

_register(
    "q_esql_categorize",
    """
FROM events
| EVAL msg = CONCAT("user ", TO_STRING(user_id), " did ", event_type,
                    " value=", TO_STRING(value))
| STATS n = COUNT(*), users = COUNT_DISTINCT(user_id)
  BY cat = CATEGORIZE(msg)
| SORT n DESC, cat
""",
    """
WITH c AS (
  SELECT user_id,
         array_to_string(list_filter(
           string_split_regex('user ' || CAST(user_id AS VARCHAR)
                              || ' did ' || event_type || ' value='
                              || CAST(value AS VARCHAR), '[^A-Za-z]+'),
           x -> x <> ''), ' ') AS cat
  FROM events)
SELECT cat, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM c GROUP BY cat ORDER BY n DESC, cat""",
    "Log categorization: variable parts (ids, measures) mask out, the "
    "alphabetic skeleton groups — map-side split/filter/join, one "
    "partial-agg shuffle on the category.")


# ---------------------------------------------------------------------------
# TRUE hybrid search: FUSE over BOTH index layers — the materialized BM25
# postings layout and the vector ranking — in one language pipeline. The
# fixture's doc_id and vec_id share a key space, so this is the real
# lexical+semantic RRF, not a proxy.

ESQL_HYBRID_TEXT = """
FROM hits
| FORK ( WHERE bm IS NOT NULL | EVAL _score = bm )
       ( WHERE cos IS NOT NULL | EVAL _score = cos )
| FUSE
| EVAL _score = ROUND(_score, 6)
| SORT _score DESC, _id
| LIMIT 10
| KEEP _id, _score
"""


def q_esql_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 (served from the pruned postings index) fused with
    cosine top-10 (query = vector 0's embedding) by reciprocal rank.
    FUSE re-derives each branch's rank from _score with the same
    (score desc, _id) tie-break both rankings were built with, so the
    fused ranks equal the sources' own rank columns — pinned by the
    oracle, which consumes those rank columns directly.

    ES|QL:
    """ + ESQL_HYBRID_TEXT
    from pyspark.sql import functions as F

    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        bm25_from_index,
        ensure_index,
    )
    from elasticsearch_hbase_river_spark.operators.similarity import (
        q_knn_cosine,
    )

    bm = bm25_from_index(spark, ensure_index(spark, sf_dir)).select(
        F.col("doc_id").alias("_id"), F.col("score").alias("bm"))
    kn = (q_knn_cosine(spark, sf_dir).filter(F.col("qid") == 0)
          .select(F.col("vec_id").alias("_id"), F.col("cosine").alias("cos")))
    hits = bm.join(kn, "_id", "full_outer")
    return esql(spark, ESQL_HYBRID_TEXT, tables={"hits": hits})


def _hybrid_rrf_oracle() -> str:
    from elasticsearch_hbase_river_spark.operators.search import (
        ORACLES as _SEARCH_ORACLES,
    )
    from elasticsearch_hbase_river_spark.operators.similarity import (
        ORACLES as _SIM_ORACLES,
    )

    return f"""
WITH bm AS (SELECT * FROM ({_SEARCH_ORACLES["q_bm25"]}) t1),
kn AS (SELECT * FROM ({_SIM_ORACLES["q_knn_cosine"]}) t2 WHERE qid = 0),
u AS (
  SELECT doc_id AS _id, 1.0 / (60 + rank) AS c FROM bm
  UNION ALL
  SELECT vec_id AS _id, 1.0 / (60 + rank) AS c FROM kn)
SELECT _id, {roundn_sql('sum(c)', 6)} AS _score
FROM u GROUP BY _id
ORDER BY _score DESC, _id LIMIT 10"""


QUERIES["q_esql_hybrid_rrf"] = q_esql_hybrid_rrf
ORACLES["q_esql_hybrid_rrf"] = _hybrid_rrf_oracle()


# ---------------------------------------------------------------------------
# Multi-unit BUCKET span: the 6-hour metrics grid (epoch-floor, tz-free).

_register(
    "q_esql_bucket_6h",
    """
FROM events
| STATS n = COUNT(*), total = ROUND(SUM(value), 4)
  BY tb = BUCKET(ts, 6 hour)
| SORT tb
""",
    f"""
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT))
         AS tb,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(value)', 4)} AS total
FROM events GROUP BY tb ORDER BY tb""",
    "N-unit uniform BUCKET span: floor onto the 21600 s epoch grid — "
    "map-side arithmetic, one partial-agg shuffle; calendar-dependent "
    "multi-unit spans are refused at compile time.")


# ---------------------------------------------------------------------------
# Streaming TS: the continuous hypertable rollup. Per-epoch INNER partials
# per (series, bucket) — a series' bucket spans micro-batches in this
# fixture by construction (the repartition is not time-partitioned) — must
# merge to exactly the batch GROUP BY answer. The registered query uses
# only association-exact aggregates (MAX / COUNT) so the oracle hash is
# deterministic; the AVG/FIRST/LAST merge semantics are pinned by
# tests/test_esql_stream.py against the batch TS compiler.

ESQL_STREAM_TS_TEXT = """
TS metrics
| STATS peak = ROUND(MAX(MAX_OVER_TIME(value)), 4),
        n = SUM(COUNT_OVER_TIME(value)),
        n_series = COUNT(*)
  BY event_type, tb = BUCKET(ts, 1 day)
| SORT event_type, tb
| LIMIT 40
"""


def ensure_esql_stream_ts_state(spark: SparkSession, sf_dir: str) -> str:
    from elasticsearch_hbase_river_spark.esql import TimeSeriesSpec

    return _drain_esql_stream(
        spark, sf_dir, "esql-stream-ts-v1", ESQL_STREAM_TS_TEXT,
        ("event_id", "ts", "user_id", "event_type", "value"),
        ts_specs={"metrics": TimeSeriesSpec("ts",
                                            ("user_id", "event_type"))})


def q_esql_stream_ts_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed hypertable rollup (per-series inner partials merged
    across >=2 real micro-batch epochs) must equal the two-level batch
    GROUP BY.

    ES|QL:
    """ + ESQL_STREAM_TS_TEXT
    import os

    from elasticsearch_hbase_river_spark.streaming.esql_stream import (
        read_esql_stream_result,
    )

    root = ensure_esql_stream_ts_state(spark, sf_dir)
    return read_esql_stream_result(spark, ESQL_STREAM_TS_TEXT,
                                   os.path.join(root, "state"))


QUERIES["q_esql_stream_ts_peak"] = q_esql_stream_ts_peak
ORACLES["q_esql_stream_ts_peak"] = f"""
WITH s AS (
  SELECT user_id, event_type, date_trunc('day', ts) AS tb,
         max(value) AS m, count(value) AS c
  FROM events GROUP BY user_id, event_type, tb)
SELECT event_type, tb,
       {roundn_sql('max(m)', 4)} AS peak,
       CAST(sum(c) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_series
FROM s GROUP BY event_type, tb
ORDER BY event_type, tb LIMIT 40"""


_register(
    "q_esql_round_to",
    """
FROM events
| EVAL tier = ROUND_TO(value, 0, 50, 100, 200)
| STATS n = COUNT(*), avg_v = ROUND(AVG(value), 4) BY tier
| SORT tier
""",
    f"""
SELECT CASE WHEN value >= 200 THEN 200 WHEN value >= 100 THEN 100
            WHEN value >= 50 THEN 50 ELSE 0 END AS tier,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('avg(value)', 4)} AS avg_v
FROM events GROUP BY tier ORDER BY tier""",
    "ROUND_TO explicit-boundary binning: a literal comparison ladder, "
    "map-side, one partial-agg shuffle on the bin.")


# ---------------------------------------------------------------------------
# Round-9 continuation tranche: full-text functions (MATCH_PHRASE, QSTR),
# the pinned query clock (NOW() + datetime±span arithmetic), and
# MV_PSERIES_WEIGHTED_SUM over a TOP() multivalue.

_register(
    "q_esql_match_phrase",
    """
FROM documents
| WHERE MATCH_PHRASE(text, "fast spark")
| STATS n = COUNT(*), langs = COUNT_DISTINCT(lang) BY source
| SORT source
""",
    """
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT lang) AS BIGINT) AS langs
FROM documents
WHERE contains(
    ' ' || array_to_string(
      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                  x -> x <> ''), ' ') || ' ',
    ' fast spark ')
GROUP BY source ORDER BY source""",
    "MATCH_PHRASE: consecutive analyzed-token containment, map-side "
    "predicate under whole-stage codegen, one partial-agg shuffle.")


_register(
    "q_esql_qstr",
    """
FROM documents
| WHERE QSTR("+text:spark -text:slow text:fast")
| STATS n = COUNT(*), chars = SUM(n_chars) BY lang
| SORT lang
""",
    """
WITH t AS (
  SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x <> '') AS toks
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM t
WHERE list_contains(toks, 'spark') AND NOT list_contains(toks, 'slow')
GROUP BY lang ORDER BY lang""",
    "QSTR Lucene query-string subset: +must/-must_not/bare-should "
    "clauses as one analyzed row-level predicate (should is boost-only "
    "beside a + clause, so it does not narrow the filter).")


_register(
    "q_esql_qstr2",
    """
FROM documents
| WHERE QSTR("+text:(spark OR flink) -text:\\"slow query\\" text:fast*")
| STATS n = COUNT(*), chars = SUM(n_chars) BY lang
| SORT lang
""",
    """
WITH t AS (
  SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x <> '') AS toks
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM t
WHERE (list_contains(toks, 'spark') OR list_contains(toks, 'flink'))
  AND NOT contains(' ' || array_to_string(toks, ' ') || ' ',
                   ' slow query ')
GROUP BY lang ORDER BY lang""",
    "QSTR widened syntax: parenthesized OR groups, quoted PHRASES "
    "(consecutive analyzed tokens via the padded-join adjacency test) "
    "and wildcard should-clauses composing with +/- semantics — all "
    "one map-side predicate, one partial-agg shuffle.")


_register(
    "q_esql_pseries",
    """
FROM events
| STATS vals = TOP(value, 5, "desc") BY event_type
| EVAL w = ROUND(MV_PSERIES_WEIGHTED_SUM(vals, 1.5), 4)
| KEEP event_type, w
| SORT event_type
""",
    f"""
WITH g AS (
  SELECT event_type,
         list_slice(list(value ORDER BY value DESC), 1, 5) AS vals
  FROM events GROUP BY event_type)
SELECT event_type,
       {roundn_sql(
           "list_sum(list_transform(vals, (x, i) -> x / pow(i, 1.5)))",
           4)} AS w
FROM g ORDER BY event_type""",
    "MV_PSERIES_WEIGHTED_SUM over a TOP() multivalue: the ES relevance "
    "combinator (sum of value_i / i^p) computed per group with "
    "higher-order functions only.")


_register(
    "q_esql_recent",
    """
FROM events
| WHERE ts >= NOW() - 7 day AND ts < NOW() - 2 day
| EVAL day = DATE_TRUNC(1 day, ts)
| STATS n = COUNT(*), total = ROUND(SUM(value), 4) BY event_type, day
| SORT event_type, day
""",
    f"""
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(value)', 4)} AS total
FROM events
WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' - INTERVAL 7 DAY
  AND ts <  TIMESTAMP '2024-01-25 00:00:00' - INTERVAL 2 DAY
GROUP BY event_type, day ORDER BY event_type, day""",
    "NOW() pinned query clock + datetime-minus-span arithmetic: the "
    "relative time-window filter every dashboard query uses; the span "
    "folds to a literal so the predicate reaches PushedFilters.",
    now=__import__("datetime").datetime(2024, 1, 25))


# ---------------------------------------------------------------------------
# METADATA _score: BM25-scored MATCH and KNN vector search inside the
# language — relevance-ranked retrieval as a first-class pipe stage.

def _bm25_oracle(terms: tuple[str, ...], k: int) -> str:
    """DuckDB twin of the compiler's scored MATCH: per-term tf/dl are
    row-local list expressions over ONE tokenization, corpus stats a
    1-row CTE, contributions summed in literal term order — mirroring
    the Spark expression operand-for-operand so scores hash-match."""
    tfs = ",\n             ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    dfs = ", ".join(
        f"CAST(count(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}"
        for i in range(len(terms)))
    contribs = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
        f"* (tf{i} * (1.2 + 1)) / "
        f"(tf{i} + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) "
        f"ELSE 0.0 END)" for i in range(len(terms)))
    total = f"(0.0 + {contribs})"
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
b AS (SELECT doc_id, len(toks) AS dl,
             {tfs}
      FROM t),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
                 {dfs}
          FROM b)
SELECT doc_id, {roundn_sql(total)} AS _score
FROM b, stats
WHERE {total} > 0
ORDER BY _score DESC, doc_id LIMIT {k}"""


_register(
    "q_esql_score_match",
    """
FROM documents METADATA _score
| WHERE MATCH(text, "spark join window")
| SORT _score DESC, doc_id
| LIMIT 20
| KEEP doc_id, _score
""",
    _bm25_oracle(("spark", "join", "window"), 20),
    "Scored full-text retrieval in the language: METADATA _score + "
    "MATCH compile to row-local BM25 (one tokenization, per-term array "
    "tf, broadcast 1-row corpus stats — no postings shuffle); SORT "
    "_score | LIMIT folds to TakeOrderedAndProject.")


def _knn_query_vector(dim: int = 64) -> list:
    import math as _m
    return [round(_m.sin(i + 1.0), 3) for i in range(dim)]


def _knn_oracle(vals: list, k: int) -> str:
    import math as _m
    from elasticsearch_hbase_river_spark.operators.similarity import (
        _dot_sql,
        _norm_sql,
    )
    qnorm = _m.sqrt(sum(v * v for v in vals))
    lit = "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"
    cos = (f"({_dot_sql('embedding', 'qv')} "
           f"/ ({_norm_sql('embedding')} * {qnorm!r}))")
    return f"""
WITH q AS (SELECT {lit} AS qv)
SELECT vec_id, {roundn_sql(cos)} AS _score
FROM embeddings, q
ORDER BY _score DESC, vec_id LIMIT {k}"""


_KNN_VALS = _knn_query_vector()

_register(
    "q_esql_knn",
    """
FROM embeddings METADATA _score
| WHERE KNN(embedding, [""" + ", ".join(repr(v) for v in _KNN_VALS) + """], 10)
| KEEP vec_id, _score
| SORT _score DESC, vec_id
""",
    _knn_oracle(_KNN_VALS, 10),
    "Vector search in the language: KNN keeps the k nearest rows by "
    "cosine (TakeOrderedAndProject partial top-k, never a global sort) "
    "and adds the similarity to _score under METADATA _score.")


# ---------------------------------------------------------------------------
# Spatial relations: point-in-literal-polygon (ST_INTERSECTS/WITHIN/
# CONTAINS/DISJOINT via the division-free ray cast in functions/
# geoshape.py) + the ST_CENTROID_AGG / ST_EXTENT_AGG aggregates.

#: Same region as the DSL pack's q_geo_polygon triangle (esdsl6.POLY,
#: (lat, lon) order there) spelled as WKT (lon lat) — the two surfaces
#: corroborate each other through DIFFERENT algorithms (cross-product
#: sign test vs even-odd ray cast).
ESQL_GEO_POLY_WKT = "POLYGON ((-150 60, -100 -50, 30 55, -150 60))"

ESQL_GEO_POLY_TEXT = f"""
FROM geo_users
| EVAL p = ST_POINT(lon, lat)
| WHERE ST_INTERSECTS(p, TO_GEOSHAPE("{ESQL_GEO_POLY_WKT}"))
| STATS n = COUNT(*), c = ST_CENTROID_AGG(p), e = ST_EXTENT_AGG(p)
| EVAL clon = ROUND(ST_X(c), 4), clat = ROUND(ST_Y(c), 4),
       xmin = ROUND(ST_XMIN(e), 4), xmax = ROUND(ST_XMAX(e), 4),
       ymin = ROUND(ST_YMIN(e), 4), ymax = ROUND(ST_YMAX(e), 4)
| KEEP n, clon, clat, xmin, xmax, ymin, ymax
"""


def q_esql_geo_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial relations in the language: point-in-literal-polygon via
    the even-odd ray cast (multiply/subtract only — the polygon is a
    query literal, so each edge's slope sign folds at compile time and
    no division ever runs), then the centroid (order-free exact-decimal
    average) and extent aggregates. Map-side predicate riding the scan;
    one 1-row aggregate.

    The bound relation derives the user hashes as AGGREGATE outputs of a
    second groupBy over the deduped users (the esdsl6.q_geo_polygon
    pattern): the ray cast references lat/lon ~12 times, and with a
    plain projection Catalyst re-inlines the md5 chain per REFERENCE and
    pushes the predicate below the dedup — measured 19.9 s at sf1 vs
    3.0 s with the hashes pinned above (same rows, same oracle).

    ES|QL:
    """ + ESQL_GEO_POLY_TEXT
    return esql(spark, ESQL_GEO_POLY_TEXT,
                tables={"geo_users": _geo_users_df(spark, sf_dir)})


def _geo_users_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elasticsearch_hbase_river_spark.operators.esdsl3 import _h16_sql
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    lat16, lon16 = _h16_sql("lat", "instr"), _h16_sql("lon", "instr")
    return (ev.select("user_id").distinct()
            .groupBy("user_id")
            .agg(F.min(F.expr(lat16)).alias("h_lat"),
                 F.min(F.expr(lon16)).alias("h_lon"))
            .select("user_id",
                    F.expr("-80e0 + 160e0 * (h_lat / 65536e0)")
                    .alias("lat"),
                    F.expr("-180e0 + 360e0 * (h_lon / 65536e0)")
                    .alias("lon")))


def _esql_geo_poly_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.geoshape import (
        parse_wkt_polygon,
        point_in_ring_sql,
    )
    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        _geo_users_sql,
    )
    ring = parse_wkt_polygon(ESQL_GEO_POLY_WKT)
    inside = point_in_ring_sql("lon", "lat", ring)

    def pinned_avg(x: str) -> str:
        return (f"CAST(sum(CAST(floor({x} * 1000000000.0 + 0.5) "
                f"/ 1000000000.0 AS DECIMAL(27,9))) AS DOUBLE) / count({x})")

    return f"""
WITH geo_users AS ({_geo_users_sql("strpos")}),
hits AS (SELECT lon, lat FROM geo_users WHERE {inside})
SELECT CAST(count(*) AS BIGINT) AS n,
       {roundn_sql(pinned_avg('lon'), 4)} AS clon,
       {roundn_sql(pinned_avg('lat'), 4)} AS clat,
       {roundn_sql('min(lon)', 4)} AS xmin,
       {roundn_sql('max(lon)', 4)} AS xmax,
       {roundn_sql('min(lat)', 4)} AS ymin,
       {roundn_sql('max(lat)', 4)} AS ymax
FROM hits"""


QUERIES["q_esql_geo_polygon"] = q_esql_geo_polygon
ORACLES["q_esql_geo_polygon"] = _esql_geo_poly_oracle()


#: The q_esql_geo_polygon triangle with a triangular HOLE cut out, plus
#: a disjoint second part in the eastern hemisphere — exercising the
#: even-odd multi-ring parity (hole members excluded, either part in).
ESQL_GEO_MULTI_WKT = ("MULTIPOLYGON (((-150 60, -100 -50, 30 55, -150 60), "
                      "(-80 20, -60 35, -40 20, -80 20)), "
                      "((100 -40, 160 -40, 130 10, 100 -40)))")

ESQL_GEO_MULTI_TEXT = f"""
FROM geo_users
| EVAL p = ST_POINT(lon, lat)
| WHERE ST_INTERSECTS(p, TO_GEOSHAPE("{ESQL_GEO_MULTI_WKT}"))
| STATS n = COUNT(*), e = ST_EXTENT_AGG(p)
| EVAL xmin = ROUND(ST_XMIN(e), 4), xmax = ROUND(ST_XMAX(e), 4),
       ymin = ROUND(ST_YMIN(e), 4), ymax = ROUND(ST_YMAX(e), 4)
| KEEP n, xmin, xmax, ymin, ymax
"""


def q_esql_geo_multipoly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-vs-MULTIPOLYGON-with-hole: the even-odd ray cast XORs the
    per-ring parities, so holes and disjoint parts need no role
    bookkeeping and the predicate stays a division-free map-side
    expression. Same geo_users derivation (hash pin above the dedup)
    as q_esql_geo_polygon.

    ES|QL:
    """ + ESQL_GEO_MULTI_TEXT
    return esql(spark, ESQL_GEO_MULTI_TEXT,
                tables={"geo_users": _geo_users_df(spark, sf_dir)})


def _esql_geo_multi_oracle() -> str:
    from elasticsearch_hbase_river_spark.functions.geoshape import (
        parse_wkt_shape,
        point_in_rings_sql,
    )
    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        _geo_users_sql,
    )
    inside = point_in_rings_sql("lon", "lat",
                                parse_wkt_shape(ESQL_GEO_MULTI_WKT))
    return f"""
WITH geo_users AS ({_geo_users_sql("strpos")}),
hits AS (SELECT lon, lat FROM geo_users WHERE {inside})
SELECT CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('min(lon)', 4)} AS xmin,
       {roundn_sql('max(lon)', 4)} AS xmax,
       {roundn_sql('min(lat)', 4)} AS ymin,
       {roundn_sql('max(lat)', 4)} AS ymax
FROM hits"""


QUERIES["q_esql_geo_multipoly"] = q_esql_geo_multipoly
ORACLES["q_esql_geo_multipoly"] = _esql_geo_multi_oracle()


# ---------------------------------------------------------------------------
# RERANK: second-stage re-scoring of a retrieval pipeline (ES 9.x). The
# engine's deterministic stand-in replaces _score with the fraction of
# query terms present (documented in the compiler); the query under test
# is the canonical retrieve-then-rerank funnel.

def _rerank_oracle() -> str:
    terms = ("spark", "fast", "merge")
    cs = " + ".join(
        f"(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        for t in terms)
    return f"""
WITH top AS ({_bm25_oracle(('spark', 'join', 'window'), 50)}),
rt AS (
  SELECT top.doc_id,
         list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM top JOIN documents d USING (doc_id))
SELECT doc_id,
       {roundn_sql(f'CAST((0 + {cs}) AS DOUBLE) / {float(len(terms))!r}')}
         AS _score
FROM rt
ORDER BY _score DESC, doc_id LIMIT 10"""


_register(
    "q_esql_rerank",
    """
FROM documents METADATA _score
| WHERE MATCH(text, "spark join window")
| SORT _score DESC, doc_id
| LIMIT 50
| RERANK "spark fast merge" ON text
| SORT _score DESC, doc_id
| LIMIT 10
| KEEP doc_id, _score
""",
    _rerank_oracle(),
    "Retrieve-then-rerank funnel: BM25 top-50 (TakeOrderedAndProject), "
    "then RERANK replaces _score row-locally over the 50 survivors — "
    "the second stage costs |candidates|, never |corpus|.")


# ---------------------------------------------------------------------------
# RAG-pipeline functions: CHUNK_TEXT (word-window chunker) and
# TEXT_EMBEDDING (deterministic feature-hashing embedding). Both stage
# their token/word arrays as attributes before any per-element fold —
# the SPARK-36715 discipline — so cost is O(tokens), not O(chunks x
# tokens) / O(dims x tokens) re-tokenizations.

_CHUNK_SIZE, _CHUNK_OVERLAP = 40, 10
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP

_register(
    "q_esql_chunk_text",
    f"""
FROM documents
| EVAL chunks = CHUNK_TEXT(text, {_CHUNK_SIZE}, {_CHUNK_OVERLAP})
| EVAL n_chunks = MV_COUNT(chunks)
| MV_EXPAND chunks
| EVAL wc = MV_COUNT(SPLIT(chunks, " "))
| STATS n = COUNT(*), avg_words = ROUND(AVG(wc), 4), mx = MAX(n_chunks)
  BY source
| SORT source
""",
    f"""
WITH w AS (
  SELECT source,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
           AS words
  FROM documents),
c AS (
  SELECT source,
         CASE WHEN len(words) = 0 THEN []::VARCHAR[]
              ELSE list_transform(
                range(0, CASE WHEN len(words) <= {_CHUNK_SIZE} THEN 1
                              ELSE CAST(ceil((len(words) - {_CHUNK_SIZE})
                                        / {float(_CHUNK_STRIDE)}) AS INTEGER)
                                   + 1 END),
                j -> array_to_string(
                  list_slice(words, j * {_CHUNK_STRIDE} + 1,
                             j * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' '))
         END AS chunks
  FROM w),
x AS (SELECT source, len(chunks) AS n_chunks,
             unnest(chunks) AS chunk FROM c)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql("avg(len(string_split(chunk, ' ')))", 4)} AS avg_words,
       CAST(max(n_chunks) AS BIGINT) AS mx
FROM x GROUP BY source ORDER BY source""",
    "CHUNK_TEXT: the RAG word-window chunker (size 40, overlap 10) as a "
    "multivalue column; MV_EXPAND yields the chunk relation. Map-side "
    "only until the final rollup shuffle.")


_TE_DIMS = 8


def _te_oracle() -> str:
    """Mirrors the compiler's padded-code construction exactly: one
    5-char unit per token, per-dimension counts via replace-length
    arithmetic (see esql._Compiler._apply_text_embedding)."""
    h = _md5_coin_sql("t")
    negbit = (f"(CASE WHEN CAST(floor({h} / {float(_TE_DIMS)}) AS BIGINT) "
              f"% 2 = 0 THEN 0 ELSE 1 END)")
    unit = (f"lpad(CAST(({h} % {_TE_DIMS}) * 2 + {negbit} AS VARCHAR), "
            f"4, '0') || ';'")
    pos = "lpad(CAST(d * 2 AS VARCHAR), 4, '0') || ';'"
    neg = "lpad(CAST(d * 2 + 1 AS VARCHAR), 4, '0') || ';'"
    cnt_pos = f"((length(cs) - length(replace(cs, {pos}, ''))) / 5)"
    cnt_neg = f"((length(cs) - length(replace(cs, {neg}, ''))) / 5)"
    emb = (f"list_transform(range(0, {_TE_DIMS}), d -> "
           f"CAST({cnt_pos} - {cnt_neg} AS DOUBLE))")
    return f"""
WITH tk AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
cstr AS (
  SELECT lang,
         array_to_string(list_transform(toks, t -> {unit}), '') AS cs
  FROM tk),
e AS (SELECT lang, {emb} AS emb FROM cstr)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('sum(emb[1])', 4)} AS t0,
       {roundn_sql('sum(list_sum(emb))', 4)} AS ts
FROM e GROUP BY lang ORDER BY lang"""


_register(
    "q_esql_text_embedding",
    f"""
FROM documents
| EVAL emb = TEXT_EMBEDDING(text, {_TE_DIMS})
| EVAL e0 = MV_FIRST(emb), s = MV_SUM(emb)
| STATS n = COUNT(*), t0 = ROUND(SUM(e0), 4), ts = ROUND(SUM(s), 4)
  BY lang
| SORT lang
""",
    _te_oracle(),
    "TEXT_EMBEDDING: deterministic feature-hashing embedding (signed "
    "md5-bucket token counts — the documented inference stand-in); "
    "integer-valued components keep every downstream sum exact.")


# ---------------------------------------------------------------------------
# CHANGE_POINT spike/dip: the detector family beyond step_change. A
# 20x burst planted at one bucket makes the leave-one-out candidate
# beat every level-shift split, so the marker reports type 'spike'.

_register(
    "q_esql_change_spike",
    """
FROM events
| STATS n = COUNT(*) BY ub = BUCKET(user_id, 500.0)
| EVAL v = CASE(ub == 2000.0, n * 20, n)
| CHANGE_POINT v ON ub
| WHERE type IS NOT NULL
| KEEP ub, v, type, pvalue
""",
    f"""
WITH s AS (
  SELECT floor(user_id / 500.0) * 500.0 AS ub,
         CASE WHEN floor(user_id / 500.0) * 500.0 = 2000.0
              THEN CAST(count(*) AS BIGINT) * 20
              ELSE CAST(count(*) AS BIGINT) END AS v
  FROM events GROUP BY floor(user_id / 500.0) * 500.0),
{_change_point_mark_cte('ub', 'v')}
SELECT s.ub, s.v, m.mtype AS type, {roundn_sql('m.rawpv')} AS pvalue
FROM s JOIN mark m ON s.ub = m.mk""",
    "CHANGE_POINT spike/dip: step-change and leave-one-out candidates "
    "compete on raw p-value (ties prefer step); exact-decimal argmax "
    "metrics keep the candidate choice engine-exact.")


# ---------------------------------------------------------------------------
# TS Prometheus counter family: DELTA / INCREASE / IRATE over the same
# reset-forcing derived counter as q_esql_ts_rate.

ESQL_TS_PROM_TEXT = """
TS metrics
| STATS d = ROUND(SUM(DELTA(req_total)), 4),
        inc = ROUND(SUM(INCREASE(req_total)), 4),
        ir = ROUND(SUM(IRATE(req_total)), 6)
  BY tb = BUCKET(ts, 1 day)
| SORT tb
"""


def q_esql_ts_prom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA (last-first gauge delta, no extrapolation), INCREASE (reset-
    aware positive-delta sum = RATE without width normalization) and
    IRATE (last adjusted delta over its microsecond-exact interval) per
    series-day, combined across series.

    ES|QL:
    """ + ESQL_TS_PROM_TEXT
    from pyspark.sql import Window

    from elasticsearch_hbase_river_spark.esql import TimeSeriesSpec
    from elasticsearch_hbase_river_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    host = F.pmod(F.col("user_id"), F.lit(8)).cast("long")
    w = Window.partitionBy(host).orderBy("ts", "event_id")
    metrics = ev.select(
        host.alias("host"), "ts",
        (F.sum(F.lit(1)).over(w) % 100).alias("req_total"))
    return esql(spark, ESQL_TS_PROM_TEXT, tables={"metrics": metrics},
                ts_specs={"metrics": TimeSeriesSpec("ts", ("host",))})


QUERIES["q_esql_ts_prom"] = q_esql_ts_prom
ORACLES["q_esql_ts_prom"] = f"""
WITH m AS (
  SELECT CAST(user_id % 8 AS BIGINT) AS host, ts,
         CAST(count(*) OVER (PARTITION BY user_id % 8
                             ORDER BY ts, event_id) AS BIGINT) % 100
           AS req_total
  FROM events),
d AS (
  SELECT host, date_trunc('day', ts) AS tb, ts, req_total,
         req_total - lag(req_total) OVER (
             PARTITION BY host, date_trunc('day', ts)
             ORDER BY ts, req_total) AS delta,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY host, date_trunc('day', ts)
             ORDER BY ts, req_total) AS dt_us
  FROM m),
v AS (
  SELECT host, tb, ts, req_total, delta,
         CASE WHEN delta IS NOT NULL AND dt_us > 0 THEN
           (CASE WHEN delta >= 0 THEN CAST(delta AS DOUBLE)
                 ELSE CAST(req_total AS DOUBLE) END)
           / (CAST(dt_us AS DOUBLE) / 1000000.0)
         END AS irv
  FROM d),
per AS (
  SELECT host, tb,
         list_sort(list({{'t': ts, 'v': req_total}}))[-1].v
           - list_sort(list({{'t': ts, 'v': req_total}}))[1].v AS dlt,
         sum(CASE WHEN delta IS NULL THEN 0.0
                  WHEN delta >= 0 THEN CAST(delta AS DOUBLE)
                  ELSE CAST(req_total AS DOUBLE) END) AS inc,
         list_sort(list({{'t': epoch_us(ts), 'v': irv}})
                   FILTER (irv IS NOT NULL))[-1].v AS ir
  FROM v GROUP BY host, tb)
SELECT tb, {roundn_sql('sum(dlt)', 4)} AS d,
       {roundn_sql('sum(inc)', 4)} AS inc,
       {roundn_sql('sum(ir)', 6)} AS ir
FROM per GROUP BY tb ORDER BY tb"""


# ---------------------------------------------------------------------------
# TERM exact-term predicate + MEDIAN_ABSOLUTE_DEVIATION / SAMPLE
# aggregates.

def _interp_sql(lst: str, n: str, p: float) -> str:
    """DuckDB twin of esql._mv_percentile_of (linear interpolation over a
    sorted list) — operand order mirrored."""
    rank = f"(({p!r} / 100.0) * (CAST({n} AS DOUBLE) - 1))"
    lo = f"CAST(floor({rank}) AS INTEGER)"
    frac = f"({rank} - CAST({lo} AS DOUBLE))"
    v_lo = f"CAST({lst}[{lo} + 1] AS DOUBLE)"
    v_hi = f"CAST({lst}[least({lo} + 2, {n})] AS DOUBLE)"
    return f"({v_lo} + ({v_hi} - {v_lo}) * {frac})"


def _mad_sql(col: str) -> str:
    med = _interp_sql("l", "n", 50.0)
    devs = f"list_sort(list_transform(l, x -> abs(CAST(x AS DOUBLE) - {med})))"
    inner = (f"(SELECT {_interp_sql('d', 'nn', 50.0)} FROM "
             f"(SELECT {devs} AS d, n AS nn) _m)")
    return (f"(SELECT {inner} FROM (SELECT list_sort(list({col})) AS l, "
            f"count({col}) AS n) _o)")


_register(
    "q_esql_term_mad_sample",
    """
FROM documents
| WHERE TERM(text, "spark")
| STATS n = COUNT(*),
        mad = ROUND(MEDIAN_ABSOLUTE_DEVIATION(n_chars), 4),
        sm = SAMPLE(doc_id, 3)
  BY lang
| MV_EXPAND sm
| SORT lang, sm
""",
    f"""
WITH hits AS (
  SELECT lang, n_chars, doc_id
  FROM documents
  WHERE list_contains(
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> ''), 'spark')),
g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         {roundn_sql(_mad_sql('n_chars'), 4)} AS mad,
         list_transform(
           list_slice(list_sort(list(struct_pack(
             h := md5(CAST(doc_id AS VARCHAR)), v := doc_id))), 1, 3),
           s -> s.v) AS sm
  FROM hits GROUP BY lang)
SELECT lang, n, mad, unnest(sm) AS sm FROM g ORDER BY lang, sm""",
    "TERM exact-term predicate (field analyzed, query term verbatim) "
    "with the MAD aggregate (exact interpolated percentiles over the "
    "group's values) and the deterministic SAMPLE aggregate "
    "(content-hash-ordered draw).")


_register(
    "q_esql_kql",
    """
FROM events
| WHERE KQL("event_type:click OR (event_type:purchase AND value >= 50)")
| STATS n = COUNT(*), avg_v = ROUND(AVG(value), 4) BY event_type
| SORT event_type
""",
    f"""
WITH t AS (
  SELECT *, list_filter(string_split_regex(lower(event_type),
                        '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       {roundn_sql('avg(value)', 4)} AS avg_v
FROM t
WHERE list_contains(toks, 'click')
   OR (list_contains(toks, 'purchase') AND value >= 50)
GROUP BY event_type ORDER BY event_type""",
    "KQL (Kibana Query Language) as a row-level predicate: field:term "
    "matches on the analyzed tokens, numeric ranges compare natively, "
    "NOT > AND > OR precedence with parentheses — all map-side.")


_register(
    "q_esql_completion",
    """
FROM documents
| EVAL p = CONCAT("Summarize: ", SUBSTRING(text, 1, 40), ". ", text)
| COMPLETION lead = p
| EVAL n = LENGTH(lead)
| STATS docs = COUNT(*), avg_lead = ROUND(AVG(n), 4),
        longest = MAX(n) BY source
| SORT source
""",
    f"""
WITH c AS (
  SELECT source,
         length(trim(regexp_extract(
           'Summarize: ' || substring(text, 1, 40) || '. ' || text,
           '^\\s*([^.!?]*[.!?]?)', 1))) AS n
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS docs,
       {roundn_sql('avg(n)', 4)} AS avg_lead,
       CAST(max(n) AS BIGINT) AS longest
FROM c GROUP BY source ORDER BY source""",
    "COMPLETION: deterministic extractive stand-in (first sentence of "
    "the prompt — no inference endpoints in this engine, documented "
    "deviation); row-local codegen'd regexp, no shuffle.")
