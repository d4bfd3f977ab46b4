"""Pretraining-corpus curation operators (BASELINE.json north star: "the
operations a large-scale training-data pipeline would need" beyond
dedup/similarity — the cleaning/safety passes that run between raw crawl
and tokenizer).

- ``q_passage_dedup``     : cross-document duplicated passages (fixed-size
                            token windows hashed and counted) — the
                            passage-level analog of exact dedup; at 100 TB
                            the hash groupBy is one partial-agg shuffle and
                            the output is only the colliding hashes.
- ``q_contamination``     : benchmark-contamination check via 8-gram
                            overlap: the (tiny) held-out set's n-gram hashes
                            broadcast against the corpus — a train-side scan
                            with a broadcast semi-ish join, never a corpus
                            self-join.
- ``q_pii_redact``        : regex PII (email) redaction + per-doc counts.
                            Pure regexp_replace/regexp string built-ins;
                            pattern kept inside the RE2 ∩ Java-regex common
                            dialect so both engines agree byte-for-byte.
- ``q_repetition_filter`` : Gopher-style repetition quality gate: within-doc
                            duplicate-token and duplicate-2gram fractions,
                            map-side higher-order functions only (no
                            explode, no shuffle).
- ``q_domain_mix``        : per-source sampling weights that flatten the
                            domain distribution toward uniform (capped) —
                            k-row aggregate + one-row broadcast, the shape
                            of every mixture-rebalancing job.
- ``q_domain_sample``     : the sampler those weights drive — deterministic
                            per-doc Bernoulli keep/drop via an md5 coin,
                            entirely map-side after a k-row broadcast.
- ``q_sequence_pack``     : GPT-style concatenate-and-chunk packing: global
                            token offsets per doc (blocked prefix sum, never
                            a corpus-wide window) -> which fixed-length
                            training sequences each document spans.

All seven are fully oracle-checked; determinism notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col, roundn_sql
from elasticsearch_hbase_river_spark.operators.text import _toks
from elasticsearch_hbase_river_spark.sources.tables import load_table

PASSAGE_TOKENS = 16      # tokens per passage window (non-overlapping)
CONTAM_N = 8             # n-gram size for the contamination check
#: Karp-Rabin gram-hash parameters (same scheme as the winnowing and
#: MinHash rewrites): token hash = first 8 md5 hex digits as int mod KR_M,
#: gram hash = Horner fold base KR_B — one md5 per TOKEN instead of one
#: per 8-gram, the fold itself pure multiply-add in codegen. Products stay
#: < 2^52: exact in both engines.
KR_B = 1_000_003
KR_M = 2_147_483_647
BENCH_MOD = 97           # doc_id % 97 == 0 -> member of the "benchmark" set
PII_MOD = 10             # every 10th doc gets a synthetic email appended
DUP_TOKEN_MAX = 0.30     # Gopher-ish thresholds
DUP_2GRAM_MAX = 0.20
MIX_CAP = 3.0            # max upsampling weight per domain
SAMPLE_SEED = "smpl-1"   # keyed md5 coin -> reproducible sampling runs
PACK_SEQ_LEN = 256       # tokens per packed training sequence
PACK_BLOCK = 1_000       # doc_id-range width per prefix-sum block
SHUFFLE_SHARDS = 8       # training shards for the corpus shuffle
SHUFFLE_SEED = "shuf-1"  # keyed md5 -> a new seed is a fresh epoch order


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated passages: chunk each document into
    non-overlapping PASSAGE_TOKENS-token windows, hash each window, keep
    hashes seen in more than one document.

    Scale shape: explode -> md5 -> groupBy(hash) is one shuffle with
    map-side partial aggregation; the result relation holds only colliding
    hashes (tiny). The same relation is what a passage-level dedup pass
    would anti-join back onto the corpus."""
    # fanout: the per-passage md5 melt is single-task at fixture layout
    # (guide §2.5 input skew); no-op when the scan already has >= cores
    # partitions.
    docs = load_table(spark, sf_dir, "documents",
                      fanout=True).select("doc_id", "text")
    t = docs.select("doc_id", _toks().alias("toks"))
    n_pass = F.ceil(F.size("toks") / PASSAGE_TOKENS).cast("int")
    passages = t.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), n_pass - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("toks"), i * PASSAGE_TOKENS + 1,
                             PASSAGE_TOKENS)),
        )).alias("passage"),
    )
    return (passages
            .select("doc_id", F.md5("passage").alias("passage_hash"))
            .groupBy("passage_hash")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_docs") > 1))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: training docs sharing at least one
    CONTAM_N-gram with the held-out set (doc_id % BENCH_MOD == 0).

    Scale shape: the benchmark side is tiny by construction — its distinct
    n-gram hash set broadcasts; the corpus side explodes to (doc, hash) and
    the join + per-doc count is one shuffle on doc_id. Output one row per
    contaminated training doc."""
    # fanout: per-token md5 + the 8-term rolling-gram fold is the
    # registry's heaviest map side and ran in ONE scan task at fixture
    # layout (guide §2.5); scale-adaptive — no exchange added once the
    # scan has >= cores partitions.
    docs = load_table(spark, sf_dir, "documents",
                      fanout=True).select("doc_id", "text")
    th = F.transform(
        _toks(),
        lambda tk: F.conv(F.substring(F.md5(tk), 1, 8), 16, 10)
        .cast("long") % KR_M)
    t = docs.select("doc_id", th.alias("th"))

    def gram(i):
        acc = F.element_at(F.col("th"), i)
        for j in range(1, CONTAM_N):
            acc = (acc * KR_B % KR_M) + F.element_at(F.col("th"), i + j)
        return acc % KR_M

    grams = F.when(
        F.size("th") >= CONTAM_N,
        F.transform(F.sequence(F.lit(1), F.size("th") - (CONTAM_N - 1)), gram),
    ).otherwise(F.array().cast("array<bigint>"))
    hashed = t.select("doc_id", F.explode(F.array_distinct(grams)).alias("gh"))
    bench = (hashed.filter(F.col("doc_id") % BENCH_MOD == 0)
             .select("gh").distinct())
    train = hashed.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (train.join(F.broadcast(bench), "gh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
            .withColumn("is_contaminated", F.lit(True)))


#: Kept to the RE2 ∩ Java-regex common subset: literal classes, +, no
#: lookaround/backrefs — identical semantics in Spark and DuckDB.
PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+[a-z]"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII (email) redaction with audit counts. The fixture corpus carries
    no PII, so every PII_MOD-th document gets a deterministic synthetic
    email appended (mirrored in the oracle) — the redactor then must (a)
    replace every match with the token ``<EMAIL>`` and (b) report per-doc
    match counts, leaving clean docs untouched. Pure map-side string ops."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % PII_MOD == 0,
               F.concat(F.col("text"), F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now")))
         .otherwise(F.col("text")))
    n_pii = F.size(F.split(F.col("text"), PII_EMAIL_RE, -1)) - 1
    return aug.select(
        "doc_id",
        F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>").alias("clean_text"),
        n_pii.cast("long").alias("n_redacted"),
    ).withColumn("had_pii", F.col("n_redacted") > 0)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: fraction of repeated tokens and
    repeated 2-grams inside each document; docs above either threshold are
    flagged. Entirely map-side (higher-order functions over the token
    array) — zero shuffles at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select("doc_id", _toks().alias("toks"))
    n_tok = F.size("toks")
    grams2 = F.transform(
        F.sequence(F.lit(1), n_tok - 1),
        lambda i: F.concat_ws(" ", F.element_at(F.col("toks"), i),
                              F.element_at(F.col("toks"), i + 1)))
    dup_tok = (n_tok - F.size(F.array_distinct("toks"))) / n_tok
    dup_2g = F.when(n_tok >= 2,
                    (F.size(grams2) - F.size(F.array_distinct(grams2)))
                    / F.size(grams2)).otherwise(F.lit(0.0))
    out = t.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        roundn_col(dup_tok).alias("dup_token_frac"),
        roundn_col(dup_2g).alias("dup_2gram_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("dup_token_frac") <= DUP_TOKEN_MAX)
        & (F.col("dup_2gram_frac") <= DUP_2GRAM_MAX))


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: per-source document/token counts plus the
    sampling weight that flattens the mix toward uniform, capped at MIX_CAP
    (never upsample a tiny domain unboundedly). The per-source relation is
    k rows; the corpus total is a 1-row broadcast — the weights then drive
    a Bernoulli/repeat sampler over the corpus (map-side)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_src = (docs.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.size(_toks())).cast("long").alias("n_tokens")))
    totals = per_src.agg(F.sum("n_tokens").alias("tot_tokens"),
                         F.count(F.lit(1)).alias("n_sources"))
    w = F.least(
        F.lit(MIX_CAP),
        (F.col("tot_tokens") / F.col("n_sources")) / F.col("n_tokens"))
    return (per_src.crossJoin(F.broadcast(totals))
            .select("source", "n_docs", "n_tokens",
                    roundn_col(w).alias("sample_weight")))


def q_domain_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sampler driven by the q_domain_mix weights:
    each doc flips a keyed-md5 coin against its domain's keep rate
    min(1, weight). The coin is the first 8 md5 hex chars compared
    lexicographically against the rate rendered as 8 hex digits — identical
    math in Spark and DuckDB, no RNG, reruns reproduce exactly.

    Scale shape: the per-domain rate relation is k rows (broadcast); the
    decision is a map-side string compare — zero shuffles over the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_src = (docs.groupBy("source")
               .agg(F.sum(F.size(_toks())).cast("long").alias("n_tokens")))
    totals = per_src.agg(F.sum("n_tokens").alias("tot_tokens"),
                         F.count(F.lit(1)).alias("n_sources"))
    w = F.least(
        F.lit(MIX_CAP),
        (F.col("tot_tokens") / F.col("n_sources")) / F.col("n_tokens"))
    rates = (per_src.crossJoin(F.broadcast(totals))
             .select("source", F.least(F.lit(1.0), w).alias("p_keep")))
    # keep iff md5 coin < p_keep * 2^32, both sides as 8-digit lowercase hex
    # (p_keep == 1 renders as 9 digits, guarded by the >= 1.0 branch).
    thresh = F.format_string(
        "%08x", F.floor(F.col("p_keep") * F.lit(4294967296.0)).cast("long"))
    coin = F.substring(
        F.md5(F.concat(F.lit(SAMPLE_SEED + "|"), F.col("doc_id").cast("string"))),
        1, 8)
    return (docs.join(F.broadcast(rates), "source")
            .select("doc_id", "source",
                    roundn_col(F.col("p_keep")).alias("p_keep"),
                    ((F.col("p_keep") >= 1.0) | (coin < thresh)).alias("keep")))


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: documents are laid out
    end-to-end in doc_id order and cut into PACK_SEQ_LEN-token training
    sequences; emit each doc's global token offset and the sequence range
    it spans (feeds the shard writer of a pretraining tokenizer job).

    Scale shape: the global prefix sum is built per deterministic doc_id
    block — per-block token totals (k-row relation) get the cross-block
    running sum on a tiny window, broadcast back, and each block computes
    its local cumsum in parallel. Bit-identical to a corpus-wide
    ``sum() OVER (ORDER BY doc_id)`` at any parallelism, with no
    single-partition exchange over the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select("doc_id", F.size(_toks()).cast("long").alias("n_tokens"))
    blocked = t.withColumn(
        "blk", (F.col("doc_id") / PACK_BLOCK).cast("long"))
    btot = blocked.groupBy("blk").agg(F.sum("n_tokens").alias("btot"))
    offsets = btot.select(
        "blk",
        (F.sum("btot").over(Window.orderBy("blk")) - F.col("btot")).alias("boff"))
    local = blocked.withColumn(
        "lcum",
        F.sum("n_tokens").over(Window.partitionBy("blk").orderBy("doc_id"))
        - F.col("n_tokens"))
    packed = (local.join(F.broadcast(offsets), "blk")
              .withColumn("tok_start", F.col("boff") + F.col("lcum")))
    seq_start = F.floor(F.col("tok_start") / PACK_SEQ_LEN).cast("long")
    seq_end = F.floor(
        (F.col("tok_start") + F.col("n_tokens") - 1) / PACK_SEQ_LEN).cast("long")
    return packed.select(
        "doc_id", "n_tokens", "tok_start",
        seq_start.alias("seq_start"), seq_end.alias("seq_end"),
        (seq_end - seq_start + 1).alias("n_seqs"))


FUNNEL_LANG = "en"       # curation-funnel gates (cumulative)
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 80


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate attrition through the curation pipeline: how many docs
    survive each cumulative gate (language -> length band -> Gopher
    repetition), with stage-over-stage retention — the first report every
    pretraining-data run produces.

    Scale shape: all gate predicates are map-side (metadata equality,
    token counts, higher-order dedup fractions — the exact expressions
    ``q_repetition_filter`` uses, rounded identically); ONE aggregate
    folds them into four conditional counts (partial-agg to a single
    row), and the 4-row funnel is unstacked from that row. The corpus is
    read once and never shuffled."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    t = docs.select("lang", _toks().alias("toks"))
    n_tok = F.size("toks")
    grams2 = F.transform(
        F.sequence(F.lit(1), n_tok - 1),
        lambda i: F.concat_ws(" ", F.element_at(F.col("toks"), i),
                              F.element_at(F.col("toks"), i + 1)))
    dup_tok = roundn_col((n_tok - F.size(F.array_distinct("toks"))) / n_tok)
    dup_2g = F.when(n_tok >= 2, roundn_col(
        (F.size(grams2) - F.size(F.array_distinct(grams2)))
        / F.size(grams2))).otherwise(F.lit(0.0))
    g1 = F.col("lang") == FUNNEL_LANG
    g2 = g1 & n_tok.between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS)
    g3 = g2 & (dup_tok <= DUP_TOKEN_MAX) & (dup_2g <= DUP_2GRAM_MAX)
    agg = t.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(g1.cast("long")).alias("n1"),
        F.sum(g2.cast("long")).alias("n2"),
        F.sum(g3.cast("long")).alias("n3"))
    stacked = agg.selectExpr(
        "stack(4,"
        " 0L, 'all',        n0, CAST(NULL AS BIGINT),"
        " 1L, 'lang',       n1, n0,"
        " 2L, 'length',     n2, n1,"
        " 3L, 'repetition', n3, n2) AS (stage, gate, n_surviving, n_prev)")
    return stacked.select(
        "stage", "gate", F.col("n_surviving").cast("long").alias("n_surviving"),
        F.when(F.col("n_prev").isNull(), F.lit(1.0))
         .otherwise(roundn_col(F.col("n_surviving") / F.col("n_prev")))
         .alias("retention"))


_HEX = "0123456789abcdef"


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into training shards: each doc
    draws a keyed md5 value; the first two hex digits pick the shard and the
    full digest orders docs within the shard — the "shuffle the corpus
    before packing an epoch" pass, reproducible at any parallelism (a new
    SHUFFLE_SEED is a fresh epoch permutation; never ``rand()``, whose
    row-order dependence would make epochs unrepeatable).

    Scale shape: shard + sort keys are pure map-side md5; the only data
    movement is the per-shard window (one hash shuffle on shard).  At
    100 TB, SHUFFLE_SHARDS scales with the corpus so one shard ~= one
    output file of a few GB, and the production writer is the exact twin
    ``df.repartition("shard").sortWithinPartitions("skey")`` — a
    spillable sort per shard; this query is its auditable position map."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = f"md5(concat('{SHUFFLE_SEED}:', CAST(doc_id AS STRING)))"
    bucket = F.expr(
        f"CAST((instr('{_HEX}', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1) AS BIGINT)")
    keyed = docs.select(
        "doc_id",
        F.expr(h).alias("skey"),
        (bucket % SHUFFLE_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id", "shard", "skey",
        (F.row_number().over(w) - 1).cast("long").alias("position"))


QUERIES = {
    "q_passage_dedup": q_passage_dedup,
    "q_contamination": q_contamination,
    "q_pii_redact": q_pii_redact,
    "q_repetition_filter": q_repetition_filter,
    "q_domain_mix": q_domain_mix,
    "q_domain_sample": q_domain_sample,
    "q_sequence_pack": q_sequence_pack,
    "q_corpus_shuffle": q_corpus_shuffle,
    "q_curation_funnel": q_curation_funnel,
}


_TOKS_SQL = "string_split(text, ' ')"

def _contam_gram_horner_sql() -> str:
    """The same Horner fold ``q_contamination`` runs, as DuckDB SQL text
    (DuckDB list slices are 1-based inclusive; ``i`` is the 1-based gram
    start)."""
    acc = "th[i]"
    for j in range(1, CONTAM_N):
        acc = f"(({acc}) * {KR_B} % {KR_M}) + th[i + {j}]"
    return f"(({acc}) % {KR_M})"


ORACLES = {
    "q_passage_dedup": f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(ceil(len(toks) / {PASSAGE_TOKENS}.0) AS BIGINT)),
           i -> md5(array_to_string(
                  toks[i * {PASSAGE_TOKENS} + 1 : (i + 1) * {PASSAGE_TOKENS}],
                  ' ')))) AS passage_hash
  FROM t)
SELECT passage_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM p GROUP BY passage_hash HAVING count(DISTINCT doc_id) > 1""",

    "q_contamination": f"""
WITH t AS (
  SELECT doc_id,
         list_transform({_TOKS_SQL},
                        tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT % {KR_M})
           AS th
  FROM documents),
h AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(th) >= {CONTAM_N}
                THEN list_transform(range(1, len(th) - {CONTAM_N - 1} + 1),
                     i -> {_contam_gram_horner_sql()})
                ELSE CAST([] AS BIGINT[]) END)) AS gh
  FROM t),
bench AS (SELECT DISTINCT gh FROM h WHERE doc_id % {BENCH_MOD} = 0)
SELECT doc_id, count(*) AS n_shared_ngrams, TRUE AS is_contaminated
FROM h JOIN bench USING (gh)
WHERE doc_id % {BENCH_MOD} <> 0
GROUP BY doc_id""",

    "q_pii_redact": f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com now'
              ELSE text END AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS clean_text,
       CAST(len(string_split_regex(text, '{PII_EMAIL_RE}')) - 1 AS BIGINT)
         AS n_redacted,
       len(string_split_regex(text, '{PII_EMAIL_RE}')) - 1 > 0 AS had_pii
FROM aug""",

    "q_repetition_filter": f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS grams2
  FROM t),
m AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         {roundn_sql('(n_tok - len(list_distinct(toks))) / n_tok')}
           AS dup_token_frac,
         CASE WHEN n_tok >= 2 THEN
           {roundn_sql('(len(grams2) - len(list_distinct(grams2))) / len(grams2)')}
         ELSE 0.0 END AS dup_2gram_frac
  FROM g)
SELECT doc_id, n_tokens, dup_token_frac, dup_2gram_frac,
       dup_token_frac <= {DUP_TOKEN_MAX} AND dup_2gram_frac <= {DUP_2GRAM_MAX}
         AS keep
FROM m""",

    "q_domain_mix": f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tot_tokens, count(*) AS n_sources FROM per_src)
SELECT source, n_docs, n_tokens,
       {roundn_sql(f'least({MIX_CAP}, (tot_tokens / n_sources) / n_tokens)')}
         AS sample_weight
FROM per_src CROSS JOIN tot""",

    "q_domain_sample": f"""
WITH per_src AS (
  SELECT source, CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT sum(n_tokens) AS tot_tokens, count(*) AS n_sources FROM per_src),
rates AS (
  SELECT source,
         least(1.0, least({MIX_CAP}, (tot_tokens / n_sources) / n_tokens))
           AS p_keep
  FROM per_src CROSS JOIN tot)
SELECT d.doc_id, d.source, {roundn_sql('p_keep')} AS p_keep,
       p_keep >= 1.0
       OR substring(md5('{SAMPLE_SEED}|' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          < printf('%08x', CAST(floor(p_keep * 4294967296.0) AS BIGINT))
         AS keep
FROM documents d JOIN rates USING (source)""",

    "q_sequence_pack": f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS tok_start
  FROM t)
SELECT doc_id, n_tokens, tok_start,
       tok_start // {PACK_SEQ_LEN} AS seq_start,
       (tok_start + n_tokens - 1) // {PACK_SEQ_LEN} AS seq_end,
       (tok_start + n_tokens - 1) // {PACK_SEQ_LEN}
         - tok_start // {PACK_SEQ_LEN} + 1 AS n_seqs
FROM c""",

    "q_corpus_shuffle": f"""
WITH keyed AS (
  SELECT doc_id,
         md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS skey
  FROM documents),
sharded AS (
  SELECT doc_id, skey,
         CAST(((strpos('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(skey, 2, 1)) - 1))
              % {SHUFFLE_SHARDS} AS BIGINT) AS shard
  FROM keyed)
SELECT doc_id, shard, skey,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) - 1
            AS BIGINT) AS position
FROM sharded""",

    "q_curation_funnel": f"""
WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
g AS (
  SELECT lang, toks, len(toks) AS n_tok,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS grams2
  FROM t),
m AS (
  SELECT lang, n_tok,
         {roundn_sql('(n_tok - len(list_distinct(toks))) / n_tok')}
           AS dup_token_frac,
         CASE WHEN n_tok >= 2 THEN
           {roundn_sql('(len(grams2) - len(list_distinct(grams2))) / len(grams2)')}
         ELSE 0.0 END AS dup_2gram_frac
  FROM g),
flags AS (
  SELECT lang = '{FUNNEL_LANG}' AS g1,
         lang = '{FUNNEL_LANG}'
           AND n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS} AS g2,
         lang = '{FUNNEL_LANG}'
           AND n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS}
           AND dup_token_frac <= {DUP_TOKEN_MAX}
           AND dup_2gram_frac <= {DUP_2GRAM_MAX} AS g3
  FROM m),
f AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM flags)
SELECT CAST(0 AS BIGINT) AS stage, 'all' AS gate, n0 AS n_surviving,
       1.0 AS retention FROM f
UNION ALL
SELECT 1, 'lang', n1, {roundn_sql('n1::DOUBLE / n0')} FROM f
UNION ALL
SELECT 2, 'length', n2, {roundn_sql('n2::DOUBLE / n1')} FROM f
UNION ALL
SELECT 3, 'repetition', n3, {roundn_sql('n3::DOUBLE / n2')} FROM f""",
}
