"""ES query-DSL pack 8: significant_text, parent_id, span_multi,
terms_enum, the percentile pipeline aggs, ip_range, geohex_grid and
int8-quantized KNN rescoring.

Packs 1-7 close the term/full-text, bucket/metric/pipeline, span,
suggest, geo/ip, parent-child, runtime-field and multi-search families.
This pack covers the remaining published API shapes:

- ``q_significant_text``   : ES ``significant_text`` agg — like
  significant_terms but over analyzed free text, with
  ``filter_duplicate_text: true`` (exact-duplicate docs removed before
  counting, Lucene's dedup-by-hash) and the ``chi_square`` significance
  heuristic (classic 2x2 contingency chi-square, the published
  alternative to the default JLH used by ``q_significant_terms``).
- ``q_parent_id``          : ES ``parent_id`` query — the children of
  ONE parent document (join-field model: orders are parents, lineitems
  children, as in ``q_has_child``). The parent is picked by a
  deterministic 1-row aggregate (max ``o_totalprice``, ties to the
  smallest key) so the query literal scales with the fixture.
- ``q_span_multi``         : ES ``span_multi`` wrapping a ``prefix``
  multi-term query — positions of ANY term with the prefix participate
  in the span; per-doc occurrence count, distinct matched terms and
  first position.
- ``q_terms_enum`` / ``_indexed`` : the ES terms_enum API — the sorted
  term dictionary sliced by a prefix with document frequencies; the
  indexed twin reads the persistent index's vocab relation (the actual
  terms dictionary) instead of re-deriving it from the corpus.
- ``q_percentiles_bucket`` : ES ``percentiles_bucket`` sibling pipeline
  agg — exact p25/p50/p75/p95 over the per-day event-count histogram.
- ``q_moving_percentiles`` : ES ``moving_percentiles`` — trailing
  {MOVP_WINDOW}-bucket median over the day histogram (ROWS frame, the
  shingle semantics of the ES agg).
- ``q_ip_range_agg``       : ES ``ip_range`` agg — explicit from/to
  boundaries (uneven, unlike ``q_ip_prefix``'s fixed-width /8 cells)
  over the same synthetic stable per-user IPv4s.
- ``q_geohex_grid``        : ES ``geohex_grid`` twin — hexagonal grid
  bucketing of the synthetic user geo-points. Real H3 is a proprietary
  icosahedral projection; the published, engine-checkable core is
  hex-lattice binning, so cells are axial (q, r) coordinates of a
  pointy-top hex lattice (size {HEX_SIZE_DEG} deg) via the standard
  fractional-axial + cube-rounding construction — the same math H3
  applies after its projection.
- ``q_eql_sequence`` / ``q_eql_until`` : ES EQL — ``sequence by
  user_id with maxspan`` head-match semantics via reversed
  cumulative-min window pointers (no row-explosion join), and the
  ``until`` variant where a terminator event between stages expires
  the pending sequence state.
- ``q_knn_int8_rescore``   : ES's quantized-vector search story
  (``int8`` scalar quantization): corpus vectors are quantized to
  8-bit codes (per-vector min/max scale — ES's per-segment scalar
  quantile scheme, applied per-vector for determinism), candidates are
  ranked by QUANTIZED cosine, and the top ``{INT8_WINDOW}`` per query
  are rescored with exact float cosine (the ``rescore_vector``
  oversample model) for the final top-{INT8_TOP}.

Scale shapes: every text surface rides the shared analyzed-postings
relation (one partial-agg shuffle); duplicate-text removal is one
hash-keyed window. parent_id joins a 1-row broadcast against the
child scan (map-side). terms_enum's indexed twin is a vocab-relation
read — the terms dictionary, corpus-size-independent. The percentile
pipeline aggs window/aggregate over the DAY relation (thousands of
rows at 100 TB — the corpus pays one keyed partial-agg shuffle below
them; the single-partition window is over buckets, never rows).
ip_range/geohex are stateless map-side integer/float math feeding one
small-key shuffle. int8 KNN broadcasts the 8-row query side, scans the
corpus once for the quantized pass, and rescores only |Q| x
{INT8_WINDOW} survivors against the corpus by key — the oversample
trick that makes quantized indexes cheap at 100 TB. Float outputs are
rounded with the portable primitive before any rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.analyzer import (
    analyze_toks_sql,
)
from elasticsearch_hbase_river_spark.functions.determinism import (
    roundn_col,
    roundn_sql,
)
from elasticsearch_hbase_river_spark.operators.esagg import DAY_MS
from elasticsearch_hbase_river_spark.operators.esdsl3 import (
    _geo_users,
    _geo_users_sql,
    _h16_sql,
)
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
# significant_text — chi_square heuristic + filter_duplicate_text.

SIGTXT_FG_TERM = "merge"
SIGTXT_TOP = 15


def q_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``significant_text`` (field: text, ``filter_duplicate_text:
    true``, ``chi_square`` heuristic): terms over-represented in the
    docs matching {SIGTXT_FG_TERM!r} relative to the corpus, after
    dropping exact-duplicate texts (keep the smallest doc_id — Lucene
    dedups repeated text before counting so boilerplate can't dominate
    significance). chi_square is the classic 2x2 contingency score
    N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) with a=fg docs containing the
    term, b=other fg docs, c=bg-only docs containing it, d=the rest.

    Scale shape: dedup is one md5-keyed window over (hash, doc_id);
    doc-term pairs are the shared postings distinct; fg membership is a
    semi-join; totals are 1-row broadcasts; top-k plans as
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    w_dup = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    uniq = (docs.withColumn("rn", F.row_number().over(w_dup))
            .filter(F.col("rn") == 1).select("doc_id", "text"))
    doc_tok = _postings(uniq).select("doc_id", "token").distinct()
    fg_docs = (doc_tok.filter(F.col("token") == SIGTXT_FG_TERM)
               .select("doc_id"))
    fg_total = fg_docs.agg(F.count(F.lit(1)).cast("long").alias("fg_total"))
    bg_total = uniq.agg(F.count(F.lit(1)).cast("long").alias("bg_total"))
    bg = doc_tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("bg_count"))
    fg = (doc_tok.join(fg_docs, "doc_id", "left_semi")
          .groupBy("token")
          .agg(F.count(F.lit(1)).cast("long").alias("fg_count")))
    a = F.col("fg_count").cast("double")
    b = (F.col("fg_total") - F.col("fg_count")).cast("double")
    c = (F.col("bg_count") - F.col("fg_count")).cast("double")
    d = (F.col("bg_total") - F.col("bg_count")
         - F.col("fg_total") + F.col("fg_count")).cast("double")
    n = F.col("bg_total").cast("double")
    # clamp: a term present in EVERY doc has b = d = 0 → 0/0; the clamp
    # turns it into score 0 identically in both engines
    chi = (n * (a * d - b * c) * (a * d - b * c)
           / F.greatest((a + b) * (c + d) * (a + c) * (b + d),
                        F.lit(1e-12)))
    scored = (fg.join(bg, "token")
              .crossJoin(F.broadcast(fg_total))
              .crossJoin(F.broadcast(bg_total))
              .filter(F.col("token") != SIGTXT_FG_TERM)
              .select("token", "fg_count", "bg_count",
                      roundn_col(chi).alias("score")))
    top = (scored.orderBy(F.col("score").desc(), "token")
           .limit(SIGTXT_TOP))
    w = Window.orderBy(F.col("score").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


_CHI_SQL = roundn_sql(
    "bg_total::DOUBLE * (fg_count::DOUBLE * d - b * c)"
    " * (fg_count::DOUBLE * d - b * c)"
    " / greatest(fg_total::DOUBLE * (c + d) * (fg_count::DOUBLE + c)"
    " * (b + d), 1e-12)")

ORACLES["q_significant_text"] = f"""
WITH uniq AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text)
                              ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tok AS (
  SELECT doc_id, unnest(toks) AS token
  FROM (SELECT doc_id, {analyze_toks_sql('text')} AS toks FROM uniq)),
doc_tok AS (SELECT DISTINCT doc_id, token FROM tok),
fg_docs AS (SELECT doc_id FROM doc_tok WHERE token = '{SIGTXT_FG_TERM}'),
fg_total AS (SELECT CAST(count(*) AS BIGINT) AS fg_total FROM fg_docs),
bg_total AS (SELECT CAST(count(*) AS BIGINT) AS bg_total FROM uniq),
bg AS (SELECT token, CAST(count(*) AS BIGINT) AS bg_count
       FROM doc_tok GROUP BY token),
fg AS (SELECT token, CAST(count(*) AS BIGINT) AS fg_count
       FROM doc_tok WHERE doc_id IN (SELECT doc_id FROM fg_docs)
       GROUP BY token),
parts AS (
  SELECT token, fg_count, bg_count, fg_total, bg_total,
         (fg_total - fg_count)::DOUBLE AS b,
         (bg_count - fg_count)::DOUBLE AS c,
         (bg_total - bg_count - fg_total + fg_count)::DOUBLE AS d
  FROM fg JOIN bg USING (token), fg_total, bg_total
  WHERE token != '{SIGTXT_FG_TERM}'),
scored AS (
  SELECT token, fg_count, bg_count, {_CHI_SQL} AS score FROM parts),
ranked AS (
  SELECT token, fg_count, bg_count, score,
         CAST(row_number() OVER (ORDER BY score DESC, token)
              AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {SIGTXT_TOP}"""

# ---------------------------------------------------------------------------
# parent_id — children of one parent via the join-field model.


def q_parent_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``parent_id`` query (join field ``order -> lineitem``, as in
    ``q_has_child``): fetch the child documents of ONE parent. The
    parent id is the deterministic "most valuable order" (max
    ``o_totalprice``, ties to the smallest key) so the literal scales
    with the fixture instead of being a magic number.

    Scale shape: the parent is a 1-row broadcast (two-phase max agg);
    the child scan joins it map-side — no shuffle on the corpus."""
    orders = load_table(spark, sf_dir, "orders")
    parent = (orders
              .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
              .limit(1)
              .select(F.col("o_orderkey").alias("parent_key")))
    li = load_table(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(parent),
                    li["l_orderkey"] == parent["parent_key"])
            .select(F.col("l_orderkey").alias("o_orderkey"),
                    "l_linenumber", "l_quantity",
                    F.col("l_extendedprice").cast("double")
                    .alias("price"))
            .orderBy("l_linenumber"))


ORACLES["q_parent_id"] = """
WITH parent AS (
  SELECT o_orderkey AS parent_key FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1)
SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity,
       CAST(l_extendedprice AS DOUBLE) AS price
FROM lineitem JOIN parent ON l_orderkey = parent_key
ORDER BY l_linenumber"""

# ---------------------------------------------------------------------------
# span_multi — a span wrapping a prefix multi-term query.

SPANM_PREFIX = "s"
SPANM_TOP = 20


def q_span_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_multi`` wrapping ``prefix: {SPANM_PREFIX!r}``: every
    position of ANY term with the prefix counts as a span match.
    Per-doc: occurrence count, distinct matched terms, first position;
    top-{SPANM_TOP} docs by count. The prefix filter runs map-side on
    the postings relation — one doc_id-keyed partial-agg shuffle."""
    p = _postings(load_table(spark, sf_dir, "documents"))
    hits = p.filter(F.col("token").startswith(SPANM_PREFIX))
    per = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.countDistinct("token").cast("long").alias("n_terms"),
        F.min("pos").alias("first_pos"))
    return (per.orderBy(F.col("n_spans").desc(), "doc_id")
            .limit(SPANM_TOP))


ORACLES["q_span_multi"] = f"""
WITH tok AS ({_POSTINGS_SQL})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(DISTINCT token) AS BIGINT) AS n_terms,
       min(pos) AS first_pos
FROM tok WHERE token LIKE '{SPANM_PREFIX}%'
GROUP BY doc_id ORDER BY n_spans DESC, doc_id LIMIT {SPANM_TOP}"""

# ---------------------------------------------------------------------------
# terms_enum — the sorted terms dictionary sliced by a prefix.

TE_PREFIX = "s"
TE_LIMIT = 20


def q_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms_enum API: index terms starting with {TE_PREFIX!r},
    sorted, with document frequencies, first {TE_LIMIT}. Derived from
    the corpus here (one distinct + small-key agg); the ``_indexed``
    twin reads the persistent terms dictionary instead."""
    p = (_postings(load_table(spark, sf_dir, "documents"))
         .filter(F.col("token").startswith(TE_PREFIX))
         .select("doc_id", "token").distinct())
    return (p.groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .orderBy("token").limit(TE_LIMIT))


def q_terms_enum_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms_enum served from the persistent index: the vocab relation
    IS the terms dictionary (token, df) — a corpus-size-independent
    read, exactly how ES walks a segment's term dictionary. The prefix
    cannot prune hash buckets (they key on the whole term), but the
    dictionary is vocabulary-sized, not corpus-sized."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        ensure_index,
        read_vocab,
    )
    idx = ensure_index(spark, sf_dir)
    v = read_vocab(spark, idx)
    return (v.filter(F.col("token").startswith(TE_PREFIX))
            .select("token", F.col("df").cast("long").alias("doc_count"))
            .orderBy("token").limit(TE_LIMIT))


_TE_SQL = f"""
WITH tok AS ({_POSTINGS_SQL})
SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_count
FROM tok WHERE token LIKE '{TE_PREFIX}%'
GROUP BY token ORDER BY token LIMIT {TE_LIMIT}"""

ORACLES["q_terms_enum"] = _TE_SQL
ORACLES["q_terms_enum_indexed"] = _TE_SQL

# ---------------------------------------------------------------------------
# percentiles_bucket / moving_percentiles — percentile pipeline aggs.

PCTB_TYPE = "purchase"
MOVP_WINDOW = 7


def _day_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_events(spark, sf_dir)
          .filter(F.col("event_type") == PCTB_TYPE))
    return ev.groupBy(F.expr(f"ts_ms div {DAY_MS}").alias("day_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n"))


_DAY_HIST_SQL = f"""
  SELECT epoch_ms(ts) // {DAY_MS} AS day_id,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = '{PCTB_TYPE}' GROUP BY 1"""


def q_percentiles_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentiles_bucket`` sibling pipeline agg: exact
    p25/p50/p75/p95 (linear interpolation — both engines' exact
    percentile semantics) over the per-day {PCTB_TYPE!r} histogram.
    The corpus pays one keyed partial-agg shuffle into day buckets;
    the percentile scan runs over the bucket relation only."""
    buckets = _day_hist(spark, sf_dir)
    return buckets.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        roundn_col(F.expr("percentile(n, 0.25)")).alias("p25"),
        roundn_col(F.expr("percentile(n, 0.5)")).alias("p50"),
        roundn_col(F.expr("percentile(n, 0.75)")).alias("p75"),
        roundn_col(F.expr("percentile(n, 0.95)")).alias("p95"))


ORACLES["q_percentiles_bucket"] = f"""
WITH b AS ({_DAY_HIST_SQL})
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       {roundn_sql('quantile_cont(n, 0.25)')} AS p25,
       {roundn_sql('quantile_cont(n, 0.5)')} AS p50,
       {roundn_sql('quantile_cont(n, 0.75)')} AS p75,
       {roundn_sql('quantile_cont(n, 0.95)')} AS p95
FROM b"""


def q_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``moving_percentiles``: the median over a trailing
    {MOVP_WINDOW}-bucket ROWS window of the day histogram (the agg's
    shingle semantics — buckets, not time range). The window is a
    single partition BY DESIGN: it runs over the bucket relation
    (days — thousands of rows at 100 TB), never over events."""
    buckets = _day_hist(spark, sf_dir)
    w = Window.orderBy("day_id").rowsBetween(-(MOVP_WINDOW - 1), 0)
    return (buckets
            .withColumn("moving_p50",
                        roundn_col(F.expr("percentile(n, 0.5)").over(w)))
            .orderBy("day_id"))


ORACLES["q_moving_percentiles"] = f"""
WITH b AS ({_DAY_HIST_SQL})
SELECT day_id, n,
       {roundn_sql(f'''quantile_cont(n, 0.5) OVER (
         ORDER BY day_id
         ROWS BETWEEN {MOVP_WINDOW - 1} PRECEDING AND CURRENT ROW)''')}
       AS moving_p50
FROM b ORDER BY day_id"""

# ---------------------------------------------------------------------------
# ip_range — explicit from/to boundaries over the synthetic IPv4s.

#: Uneven a-octet boundaries (ES ip_range takes arbitrary from/to pairs;
#: q_ip_prefix's /8 cells are the fixed-width dual). None = unbounded.
IP_RANGES = (
    (None, 64),
    (64, 160),
    (160, 224),
    (224, None),
)


def q_ip_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``ip_range`` agg with explicit boundaries: each user's stable
    synthetic IPv4 (the ``q_ip_prefix`` convention — md5-derived a.b
    octets) falls in exactly one [from, to) range; per range, distinct
    users and events. Map-side integer math + one |ranges|-key
    shuffle."""
    ev = load_events(spark, sf_dir)
    ipa = F.expr(f"CAST(({_h16_sql('ipa', 'instr')}) div 256 AS BIGINT)")
    label = F.lit(None).cast("string")
    for lo, hi in IP_RANGES:
        name = (f"{lo if lo is not None else '*'}.0.0.0-"
                f"{hi if hi is not None else '*'}.0.0.0")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (ipa >= lo)
        if hi is not None:
            cond = cond & (ipa < hi)
        label = F.when(cond & label.isNull(), name).otherwise(label)
    per = ev.select(label.alias("ip_range"), "user_id", "event_id")
    return (per.groupBy("ip_range")
            .agg(F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.count(F.lit(1)).cast("long").alias("n_events"))
            .orderBy("ip_range"))


def _ip_range_oracle() -> str:
    ipa = f"(({_h16_sql('ipa', 'strpos', 'VARCHAR')}) // 256)"
    whens = []
    for lo, hi in IP_RANGES:
        name = (f"{lo if lo is not None else '*'}.0.0.0-"
                f"{hi if hi is not None else '*'}.0.0.0")
        conds = []
        if lo is not None:
            conds.append(f"{ipa} >= {lo}")
        if hi is not None:
            conds.append(f"{ipa} < {hi}")
        whens.append(
            f"WHEN {' AND '.join(conds) if conds else 'TRUE'} THEN '{name}'")
    case = "CASE " + " ".join(whens) + " END"
    return f"""
SELECT {case} AS ip_range,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1 ORDER BY 1"""


ORACLES["q_ip_range_agg"] = _ip_range_oracle()

# ---------------------------------------------------------------------------
# geohex_grid — hex-lattice bucketing via axial coords + cube rounding.

HEX_SIZE_DEG = 8.0
HEX_TOP = 20

_SQRT3_3 = "0.5773502691896258"   # sqrt(3)/3, literal so both engines agree


def _hex_steps(lat: str, lon: str) -> list[tuple[str, str]]:
    """The shared axial + cube-rounding construction as (name, expr)
    steps — IDENTICAL text in both engines so the float math (and every
    comparison) is bit-for-bit the same. Pointy-top lattice: fractional
    axial (qf, rf), cube components (x=qf, z=rf, y=-x-z), round each,
    then fix the component with the largest rounding error."""
    s = HEX_SIZE_DEG
    return [
        ("qf", f"({_SQRT3_3} * {lon} - ({lat}) / 3.0e0) / {s}"),
        ("rf", f"(2.0e0 * ({lat}) / 3.0e0) / {s}"),
        ("yf", "-qf - rf"),
        ("rx", "floor(qf + 0.5e0)"),
        ("ry", "floor(yf + 0.5e0)"),
        ("rz", "floor(rf + 0.5e0)"),
        ("dx", "abs(rx - qf)"),
        ("dy", "abs(ry - yf)"),
        ("dz", "abs(rz - rf)"),
        ("hq", "CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz "
               "ELSE rx END AS BIGINT)"),
        ("hr", "CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND NOT (dy > dz) "
               "THEN -rx - ry ELSE rz END AS BIGINT)"),
    ]


def q_geohex_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``geohex_grid`` twin: hex-lattice cells (axial q, r;
    pointy-top, size {HEX_SIZE_DEG} deg) over the synthetic user
    geo-points, top-{HEX_TOP} cells by user count with a 4-dp centroid.
    H3's icosahedral projection is proprietary detail; the checkable
    core — fractional axial coords + cube rounding — is the published
    hex-binning construction and is emitted as IDENTICAL expression
    text in both engines. Map-side float math, one cell-key shuffle."""
    pts = _geo_users(spark, sf_dir)
    for name, expr in _hex_steps("lat", "lon"):
        pts = pts.withColumn(name, F.expr(expr))
    cells = pts.groupBy("hq", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        roundn_col(F.avg("lat"), 4).alias("c_lat"),
        roundn_col(F.avg("lon"), 4).alias("c_lon"))
    return (cells.orderBy(F.col("n_users").desc(), "hq", "hr")
            .limit(HEX_TOP))


def _geohex_oracle() -> str:
    steps = _hex_steps("lat", "lon")
    inner = _geo_users_sql("strpos")
    sel = inner
    for name, expr in steps:
        sel = f"SELECT *, {expr} AS {name} FROM ({sel})"
    return f"""
SELECT hq, hr, CAST(count(*) AS BIGINT) AS n_users,
       {roundn_sql('avg(lat)', 4)} AS c_lat,
       {roundn_sql('avg(lon)', 4)} AS c_lon
FROM ({sel})
GROUP BY hq, hr ORDER BY n_users DESC, hq, hr LIMIT {HEX_TOP}"""


ORACLES["q_geohex_grid"] = _geohex_oracle()

# ---------------------------------------------------------------------------
# int8-quantized KNN with exact rescoring.

INT8_NQ = 8        # query vectors: vec_id < 8 (the similarity convention)
INT8_TOP = 10
INT8_WINDOW = 40   # quantized candidates rescored exactly (4x oversample)
_INT8_EPS = "1e-9"  # span floor: constant vectors quantize to code 0


def _dequant(col: Column, mn: Column, span: Column) -> Column:
    """Quantize to 8-bit codes then decode — the roundtrip ES scores
    against. floor(x+0.5) is the portable round; codes stay double to
    keep the math identical across engines."""
    code = F.floor((col - mn) / span * 255.0 + 0.5)
    return mn + code * span / 255.0


def q_knn_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES quantized vector search (``int8`` scalar quantization +
    ``rescore_vector`` oversampling): corpus vectors are quantized to
    per-vector min/max-scaled 8-bit codes; candidates rank by cosine
    over the DEQUANTIZED vectors; the top {INT8_WINDOW} per query are
    rescored with exact float cosine and the final top-{INT8_TOP} keeps
    both scores. Per-vector scaling (vs ES's per-segment quantiles)
    keeps the construction deterministic and engine-checkable.

    Scale shape: the 8-row query side is broadcast twice (quantized
    pass + rescore); the corpus is scanned ONCE for the quantized pass
    (all higher-order-function JVM math, no Python); the exact pass
    touches only |Q| x {INT8_WINDOW} rows fetched by key. This is the
    quantized-index economics: full-precision vectors are only read for
    the oversample window."""
    emb = load_table(spark, sf_dir, "embeddings")

    def dq_parts(df: DataFrame, pre: str) -> DataFrame:
        mn = F.array_min("embedding").cast("double")
        mx = F.array_max("embedding").cast("double")
        span = F.greatest(mx - mn, F.expr(f"CAST({_INT8_EPS} AS DOUBLE)"))
        df = (df.withColumn("_mn", mn).withColumn("_span", span))
        dq = F.transform(
            F.col("embedding"),
            lambda v: _dequant(v.cast("double"),
                               F.col("_mn"), F.col("_span")))
        df = df.withColumn(f"{pre}dq", dq)
        dot = F.aggregate(
            F.zip_with(F.col(f"{pre}dq"), F.col(f"{pre}dq"),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        return (df.withColumn(f"{pre}norm", F.sqrt(dot))
                .drop("_mn", "_span"))

    q = (dq_parts(emb.filter(F.col("vec_id") < INT8_NQ), "q")
         .select(F.col("vec_id").alias("qid"), "qdq", "qnorm"))
    c = dq_parts(emb.select("vec_id", "embedding"), "c")

    def dot(a: Column, b: Column) -> Column:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, v: acc + v)

    approx = roundn_col(dot(F.col("qdq"), F.col("cdq"))
                        / (F.col("qnorm") * F.col("cnorm")))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", approx.alias("approx_cos")))
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_cos").desc(), "vec_id")
    cand = (scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= INT8_WINDOW)
            .drop("crank"))

    def exact_parts(df: DataFrame, vec: str, pre: str) -> DataFrame:
        d = F.aggregate(
            F.zip_with(F.col(vec), F.col(vec),
                       lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
        return df.withColumn(f"{pre}en", F.sqrt(d))

    qex = exact_parts(
        emb.filter(F.col("vec_id") < INT8_NQ)
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qe")), "qe", "q")
    cex = exact_parts(emb.select("vec_id", "embedding"), "embedding", "c")
    exact = roundn_col(
        F.aggregate(
            F.zip_with(F.col("qe"), F.col("embedding"),
                       lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
        / (F.col("qen") * F.col("cen")))
    rescored = (cand.join(cex, "vec_id")
                .join(F.broadcast(qex), "qid")
                .select("qid", "vec_id", "approx_cos",
                        exact.alias("cosine")))
    w2 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return (rescored.withColumn("rank",
                                F.row_number().over(w2).cast("long"))
            .filter(F.col("rank") <= INT8_TOP)
            .orderBy("qid", "rank"))


def _int8_oracle() -> str:
    dq = (f"list_transform(embedding, v -> _mn + floor((v::DOUBLE - _mn)"
          f" / _span * 255.0 + 0.5) * _span / 255.0)")
    dqdot = ("list_sum(list_transform(range(1, len(qdq) + 1),"
             " i -> qdq[i] * cdq[i]))")
    exdot = ("list_sum(list_transform(range(1, len(qe) + 1),"
             " i -> qe[i]::DOUBLE * embedding[i]::DOUBLE))")
    return f"""
WITH base AS (
  SELECT vec_id, embedding,
         list_min(list_transform(embedding, v -> v::DOUBLE)) AS _mn,
         greatest(list_max(list_transform(embedding, v -> v::DOUBLE))
                  - list_min(list_transform(embedding, v -> v::DOUBLE)),
                  {_INT8_EPS}) AS _span
  FROM embeddings),
dq AS (
  SELECT vec_id, embedding, {dq} AS dqv FROM base),
dqn AS (
  SELECT vec_id, embedding, dqv,
         sqrt(list_sum(list_transform(dqv, x -> x * x))) AS dnorm
  FROM dq),
q AS (SELECT vec_id AS qid, dqv AS qdq, dnorm AS qnorm FROM dqn
      WHERE vec_id < {INT8_NQ}),
scored AS (
  SELECT qid, vec_id,
         {roundn_sql(f'{dqdot} / (qnorm * dnorm)')} AS approx_cos
  FROM q, (SELECT vec_id, dqv AS cdq, dnorm FROM dqn)
  WHERE vec_id <> qid),
cand AS (
  SELECT qid, vec_id, approx_cos FROM (
    SELECT qid, vec_id, approx_cos,
           row_number() OVER (PARTITION BY qid
                              ORDER BY approx_cos DESC, vec_id) AS crank
    FROM scored) WHERE crank <= {INT8_WINDOW}),
qe_rel AS (
  SELECT vec_id AS qid, embedding AS qe,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS qen
  FROM embeddings WHERE vec_id < {INT8_NQ}),
ce_rel AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS cen
  FROM embeddings),
rescored AS (
  SELECT qid, vec_id, approx_cos,
         {roundn_sql(f'{exdot} / (qen * cen)')} AS cosine
  FROM cand JOIN ce_rel USING (vec_id) JOIN qe_rel USING (qid)),
ranked AS (
  SELECT qid, vec_id, approx_cos, cosine,
         CAST(row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM rescored)
SELECT * FROM ranked WHERE rank <= {INT8_TOP} ORDER BY qid, rank"""


ORACLES["q_knn_int8_rescore"] = _int8_oracle()

# ---------------------------------------------------------------------------
# EQL sequence — ES's Event Query Language over the event stream.

EQL_STAGES = ("view", "click", "purchase")
EQL_MAXSPAN_MS = 6 * 3600 * 1000
EQL_TOP = 20


def eql_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-aggregated EQL sequence match relation
    ``(user_id, vts, cts, pts)`` that ``q_eql_sequence`` aggregates."""
    ev = (load_events(spark, sf_dir)
          .filter(F.col("event_type").isin(*EQL_STAGES))
          .select("user_id", "event_id", "ts_ms", "event_type"))
    # "first following" must mean STREAM order (ts, event_id), not ts
    # alone: when a user's view/click/purchase share one ts_ms, a
    # ts-keyed pointer join can chain a purchase through a click that
    # PRECEDES the view in stream order. So the chain join is on stream
    # POSITIONS, the same device q_eql_until uses for its voiding rule.
    wpos = (Window.partitionBy("user_id").orderBy("ts_ms", "event_id"))
    ev = ev.withColumn("pos", F.row_number().over(wpos).cast("long"))
    # reversed stream order: frame [unbounded, 1 preceding] = strictly
    # LATER events, so min(...) is the first following stage event;
    # min(pos) and min(ts) both belong to the FIRST following one
    # because pos order extends ts order
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts_ms").desc(), F.col("event_id").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    is_click = F.col("event_type") == EQL_STAGES[1]
    is_purch = F.col("event_type") == EQL_STAGES[2]
    ptr = ev.select("user_id", "pos", "ts_ms", "event_type",
                    F.min(F.when(is_click, F.col("pos"))).over(w)
                     .alias("next_click_pos"),
                    F.min(F.when(is_purch, F.col("ts_ms"))).over(w)
                     .alias("next_purchase_ts"))
    views = (ptr.filter(F.col("event_type") == EQL_STAGES[0])
             .select("user_id", F.col("ts_ms").alias("vts"),
                     F.col("next_click_pos").alias("cpos"))
             .filter(F.col("cpos").isNotNull()))
    # pos is unique per user, so the pointer join is 1:1 by
    # construction — no dedup aggregation needed; the click's own
    # next_purchase pointer is the first purchase strictly after it
    # in stream order (position > click position, per the frame)
    clicks = (ptr.filter(is_click)
              .select("user_id", F.col("pos").alias("cpos"),
                      F.col("ts_ms").alias("cts"),
                      F.col("next_purchase_ts").alias("pts"))
              .filter(F.col("pts").isNotNull()))
    return (views.join(clicks, ["user_id", "cpos"])
            .filter(F.col("pts") - F.col("vts") <= EQL_MAXSPAN_MS)
            .select("user_id", "vts", "cts", "pts"))


def q_eql_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES EQL ``sequence by user_id with maxspan=6h [view] [click]
    [purchase]``: per user, every view anchors a match whose click is
    the FIRST click strictly after it in stream order and whose
    purchase is the FIRST purchase strictly after that click, with the
    whole span inside the maxspan — EQL's head-match semantics. Output:
    per-user match count and tightest span, top-{EQL_TOP} users.

    Scale shape: NO row-explosion sequence join — two reversed
    cumulative-min window passes per user (each the first-following-
    event pointer) and ONE equi-join on (user_id, click_ts) to chain
    them. Events shuffle once onto user_id and stay there; stream order
    ties break on event_id so the match is deterministic."""
    matches = eql_matches(spark, sf_dir)
    return (matches.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches"),
                 F.min(F.col("pts") - F.col("vts")).alias("min_span_ms"))
            .orderBy(F.col("n_matches").desc(), "user_id")
            .limit(EQL_TOP))


ORACLES["q_eql_sequence"] = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY epoch_ms(ts), event_id)
              AS BIGINT) AS pos
  FROM events WHERE event_type IN ('{EQL_STAGES[0]}', '{EQL_STAGES[1]}',
                                   '{EQL_STAGES[2]}')),
ptr AS (
  SELECT user_id, pos, ts_ms, event_type,
         min(CASE WHEN event_type = '{EQL_STAGES[1]}' THEN pos END)
           OVER (PARTITION BY user_id
                 ORDER BY ts_ms DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_click_pos,
         min(CASE WHEN event_type = '{EQL_STAGES[2]}' THEN ts_ms END)
           OVER (PARTITION BY user_id
                 ORDER BY ts_ms DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_purchase_ts
  FROM ev),
views AS (
  SELECT user_id, ts_ms AS vts, next_click_pos AS cpos FROM ptr
  WHERE event_type = '{EQL_STAGES[0]}' AND next_click_pos IS NOT NULL),
clicks AS (
  SELECT user_id, pos AS cpos, next_purchase_ts AS pts FROM ptr
  WHERE event_type = '{EQL_STAGES[1]}' AND next_purchase_ts IS NOT NULL),
matches AS (
  SELECT user_id, vts, pts FROM views JOIN clicks USING (user_id, cpos)
  WHERE pts - vts <= {EQL_MAXSPAN_MS})
SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
       min(pts - vts) AS min_span_ms
FROM matches GROUP BY user_id
ORDER BY n_matches DESC, user_id LIMIT {EQL_TOP}"""

# ---------------------------------------------------------------------------
# EQL until — the sequence window terminated by an expiration event.

EQL_UNTIL = "error"


def q_eql_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQL ``sequence by user_id with maxspan=6h [view] [click] until
    [error]``: a (view → first-following-click) pair is VOIDED when an
    {EQL_UNTIL!r} event falls strictly between the two in stream order
    — EQL's ``until`` expires pending sequence state. Per user: valid
    matches and voided matches (the observability split an alerting
    pipeline wants), top-{EQL_TOP} users by valid matches.

    Scale shape: the SAME single window pass as ``q_eql_sequence``
    computes both the next-click and next-until pointers; validity is a
    map-side comparison — no extra shuffle at all."""
    ev = (load_events(spark, sf_dir)
          .filter(F.col("event_type").isin(EQL_STAGES[0], EQL_STAGES[1],
                                           EQL_UNTIL))
          .select("user_id", "event_id", "ts_ms", "event_type"))
    # "before" must mean STREAM order (ts, event_id) — a ts-only
    # comparison would mis-void a click that ties the error on ts but
    # precedes it by event_id, so validity compares stream POSITIONS
    wpos = (Window.partitionBy("user_id")
            .orderBy("ts_ms", "event_id"))
    ev = ev.withColumn("pos", F.row_number().over(wpos).cast("long"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts_ms").desc(), F.col("event_id").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    is_click = F.col("event_type") == EQL_STAGES[1]
    is_until = F.col("event_type") == EQL_UNTIL
    # among strictly-following clicks, min(pos) and min(ts) both belong
    # to the FIRST one (pos order extends ts order)
    nxt_click_pos = F.min(F.when(is_click, F.col("pos"))).over(w)
    nxt_click_ts = F.min(F.when(is_click, F.col("ts_ms"))).over(w)
    nxt_until_pos = F.min(F.when(is_until, F.col("pos"))).over(w)
    views = (ev.select("user_id", "ts_ms", "event_type",
                       nxt_click_pos.alias("cpos"),
                       nxt_click_ts.alias("cts"),
                       nxt_until_pos.alias("upos"))
             .filter((F.col("event_type") == EQL_STAGES[0])
                     & F.col("cpos").isNotNull()
                     & (F.col("cts") - F.col("ts_ms") <= EQL_MAXSPAN_MS)))
    valid = (F.col("upos").isNull() | (F.col("cpos") < F.col("upos")))
    return (views.groupBy("user_id")
            .agg(F.sum(F.when(valid, 1).otherwise(0)).cast("long")
                 .alias("n_matches"),
                 F.sum(F.when(valid, 0).otherwise(1)).cast("long")
                 .alias("n_voided"))
            .filter(F.col("n_matches") > 0)
            .orderBy(F.col("n_matches").desc(), "user_id")
            .limit(EQL_TOP))


ORACLES["q_eql_until"] = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY epoch_ms(ts), event_id)
              AS BIGINT) AS pos
  FROM events WHERE event_type IN ('{EQL_STAGES[0]}', '{EQL_STAGES[1]}',
                                   '{EQL_UNTIL}')),
ptr AS (
  SELECT user_id, ts_ms, event_type,
         min(CASE WHEN event_type = '{EQL_STAGES[1]}' THEN pos END)
           OVER (PARTITION BY user_id
                 ORDER BY ts_ms DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS cpos,
         min(CASE WHEN event_type = '{EQL_STAGES[1]}' THEN ts_ms END)
           OVER (PARTITION BY user_id
                 ORDER BY ts_ms DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS cts,
         min(CASE WHEN event_type = '{EQL_UNTIL}' THEN pos END)
           OVER (PARTITION BY user_id
                 ORDER BY ts_ms DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS upos
  FROM ev),
views AS (
  SELECT user_id, (upos IS NULL OR cpos < upos) AS valid FROM ptr
  WHERE event_type = '{EQL_STAGES[0]}' AND cpos IS NOT NULL
    AND cts - ts_ms <= {EQL_MAXSPAN_MS})
SELECT user_id,
       CAST(count(*) FILTER (valid) AS BIGINT) AS n_matches,
       CAST(count(*) FILTER (NOT valid) AS BIGINT) AS n_voided
FROM views GROUP BY user_id HAVING count(*) FILTER (valid) > 0
ORDER BY n_matches DESC, user_id LIMIT {EQL_TOP}"""

# ---------------------------------------------------------------------------

QUERIES.update({
    "q_significant_text": q_significant_text,
    "q_parent_id": q_parent_id,
    "q_span_multi": q_span_multi,
    "q_terms_enum": q_terms_enum,
    "q_terms_enum_indexed": q_terms_enum_indexed,
    "q_percentiles_bucket": q_percentiles_bucket,
    "q_moving_percentiles": q_moving_percentiles,
    "q_ip_range_agg": q_ip_range_agg,
    "q_geohex_grid": q_geohex_grid,
    "q_knn_int8_rescore": q_knn_int8_rescore,
    "q_eql_sequence": q_eql_sequence,
    "q_eql_until": q_eql_until,
})
