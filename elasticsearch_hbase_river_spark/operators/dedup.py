"""Deduplication operators for the training-data pipeline (SURVEY.md §2.3
E1/E2 + BASELINE.json north star: exact, n-gram Jaccard, MinHash+LSH,
SimHash).

Because the fixture corpus contains no natural duplicates, each query first
AUGMENTS the corpus deterministically (exact copies / truncated near-copies
of every 50th document, offset ids) so the machinery demonstrably finds
pairs; the augmentation is mirrored verbatim in the oracle SQL.

Scale design (the part that matters at 100 TB):
- exact dedup: hash-groupBy — one shuffle on the content hash, partial-agg.
- MinHash/LSH: signatures are per-doc map-side (higher-order functions over
  the shingle array — the classic k independent permutations are the k
  disjoint 32-bit slices of two staged keyed md5 digests); candidate
  generation shuffles on (band_idx, band_hash) — never an all-pairs join;
  verification touches only candidate pairs.
- SimHash: per-doc map-side signature; candidates via 4-bit band buckets,
  then Hamming-distance verify with bit_count(xor).
- adjacent-pair Jaccard: a 1-off self-join on the id (sort-merge/broadcast,
  linear).

All hash math uses md5 hex strings (lexicographic min == numeric min on
fixed-width hex) so Spark and DuckDB agree bit-for-bit with zero custom
hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col, roundn_sql
from elasticsearch_hbase_river_spark.sources.tables import load_table

COPY_MOD = 50          # every 50th doc gets a synthetic duplicate
COPY_OFFSET = 1_000_000_000  # far above any scale-fixture replica id
                             # (make_scale_fixtures strides doc_id by 1e5
                             # per replica, so 1e6 collided at K >= 11 —
                             # groupBy(doc_id) then merged two real docs
                             # while the per-row oracle kept both)
TRUNCATE = 5           # near-dup copies drop the last 5 tokens
N_HASHES = 8           # MinHash permutations
N_BANDS = 4            # LSH bands (2 rows per band)
#: Per-bucket pair-expansion cap for the batch LSH self-joins (MinHash and
#: SimHash): each doc compares against the bucket's first CAP members by
#: doc_id, the same bound as the winnowing WINNOW_MAX_DF. Uncapped, a
#: dup-rich corpus emits O(occupancy^2) pairs per bucket (measured executor
#: OOM at the 100-replica fixture); capped, the expansion is O(cap * bands).
LSH_BUCKET_CAP = 64


def _augmented_docs(spark: SparkSession, sf_dir: str, exact: bool,
                    fanout: bool = False) -> DataFrame:
    """documents ∪ synthetic copies (exact, or truncated near-dups).

    ``fanout`` passes through to :func:`load_table` (scale-adaptive
    round-robin) — OPT-IN per consumer: measured a clear win only for
    the shingle+md5-heavy map sides (q_simhash_dedup 2.3-6.5 → 1.5-2.2 s,
    q_minhash_signature 0.6 → 0.3 s at sf0.1) and a loss for cheap
    consumers (q_exact_dedup 0.17 → 0.53 s, q_ngram_jaccard 0.18 → 1.1 s,
    whose shared-shingle checkpoint makes the extra exchange pure cost)."""
    docs = load_table(spark, sf_dir, "documents",
                      fanout=fanout).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % COPY_MOD == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.col("text") if exact else F.array_join(
            F.slice(F.split("text", " "), 1,
                    F.greatest(F.size(F.split("text", " ")) - TRUNCATE, F.lit(1))),
            " ").alias("text"),
    )
    if not exact:
        # Exchange barrier on the (tiny, 1/COPY_MOD) copies branch: without
        # it CollapseProject inlines the split/slice/array_join text
        # expression into every element_at inside the downstream shingle
        # lambdas — O(shingles) re-evaluations per row, a >10x slowdown
        # measured at sf0.1.
        copies = copies.repartition("doc_id")
    return docs.unionByName(copies)


_AUG_SQL_EXACT = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {COPY_OFFSET}, text FROM documents WHERE doc_id % {COPY_MOD} = 0
"""

_AUG_SQL_NEAR = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {COPY_OFFSET},
       array_to_string(
         string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - {TRUNCATE}, 1)],
         ' ')
FROM documents WHERE doc_id % {COPY_MOD} = 0
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one shuffle on md5(text), keep the
    lowest doc_id per group (SURVEY.md §2.3 E1)."""
    aug = _augmented_docs(spark, sf_dir, exact=True)
    return (
        aug.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .withColumn("is_dup_group", F.col("n_copies") > 1)
    )


# --- shingling ------------------------------------------------------------

def _shingle_df(aug: DataFrame) -> DataFrame:
    """(doc_id, sh) with the token split materialized as its own projection
    stage — inside one big lambda expression Spark re-evaluates ``split``
    per reference, so stage it as a real column (evaluated once per row in
    codegen) before building shingles from it."""
    t = aug.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                  F.element_at(toks, i + 1),
                                  F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return t.select("doc_id", F.array_distinct(grams).alias("sh"))


_SHINGLES_SQL = """
list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
  THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
       i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
            || ' ' || string_split(text, ' ')[i+2])
  ELSE [text] END)
"""

#: Karp-Rabin integer gram hashing (round-4 rewrite, shared scheme with
#: winnowing and contamination): token hash = first 8 md5 hex digits as an
#: int mod KR_M; 3-gram hash = Horner fold base KR_B. ONE md5 per TOKEN
#: (tokens sit in ~3 shingles each, and MinHash previously paid another
#: md5 per shingle on top), the folds pure multiply-add in codegen, set
#: intersections on integers instead of strings. Products stay < 2^52 —
#: exact and identical in both engines.
KR_B = 1_000_003
KR_M = 2_147_483_647


def _gram_hash_df(aug: DataFrame) -> DataFrame:
    """(doc_id, gh): the distinct integer 3-gram hash set per document —
    the input relation for n-gram Jaccard, the near-dup cluster edges, and
    the MinHash signature. Token hashes are staged as a real column so the
    md5 runs once per token; docs under 3 tokens hash their whole text as
    the single gram (mirroring the [text] fallback of the string shingle
    path)."""
    t = aug.select("doc_id", "text",
                   F.split(F.col("text"), " ").alias("toks"))
    th = F.transform(
        F.col("toks"),
        lambda tk: F.conv(F.substring(F.md5(tk), 1, 8), 16, 10)
        .cast("long") % KR_M)
    t2 = t.select("doc_id", "text", th.alias("th"))
    n = F.size("th")

    def gram(i):
        acc = F.element_at(F.col("th"), i)
        for j in (1, 2):
            acc = (acc * KR_B % KR_M) + F.element_at(F.col("th"), i + j)
        return acc % KR_M

    whole = (F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
             .cast("long") % KR_M)
    grams = F.when(
        n >= 3, F.transform(F.sequence(F.lit(1), n - 2), gram)
    ).otherwise(F.array(whole))
    return t2.select("doc_id", F.array_distinct(grams).alias("gh"))


_TH_SQL = (f"list_transform(string_split(text, ' '), "
           f"tk -> ('0x' || substr(md5(tk), 1, 8))::BIGINT % {KR_M})")


def _gram_horner_sql() -> str:
    acc = "th[i]"
    for j in (1, 2):
        acc = f"(({acc}) * {KR_B} % {KR_M}) + th[i + {j}]"
    return f"(({acc}) % {KR_M})"


#: gh from a relation carrying (text, th) — compose after a `_TH_SQL` CTE.
_GH_SQL = f"""
list_distinct(CASE WHEN len(th) >= 3
  THEN list_transform(range(1, len(th) - 1), i -> {_gram_horner_sql()})
  ELSE [('0x' || substr(md5(text), 1, 8))::BIGINT % {KR_M}] END)
"""


def candidate_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, sh_a, doc_b, sh_b) candidate pairs: original↔truncated copy
    plus adjacent-id background pairs. CRITICAL scale shape: the two
    conditions are SEPARATE equi-joins (keys ``a.doc_id + off == b.doc_id``)
    unioned afterwards — a single OR'd join condition has no extractable
    equi keys and Spark falls back to a nested-loop join (quadratic:
    measured minutes-not-seconds at sf0.1, unusable beyond).

    The shingle relation is materialized once (localCheckpoint) before the
    self-joins: the two joins reference it four times, and without the
    barrier each reference re-derives the shingle arrays — worse, the
    post-join Jaccard/verify expressions collapse INTO the shingle-building
    projection (CollapseProject across the join) and re-evaluate the
    transform per expression reference. Measured at sf0.1: edges drop from
    5.6 s to 1.8 s including the checkpoint; the downstream iterative
    consumer (connected components) drops 12 s -> ~3 s because every CC
    round re-read this subtree. The checkpoint is a deliberate
    materialization of an O(corpus) relation read 4+ times — the standard
    multi-pass trade, executor-local, no driver collect."""
    sh = sh.localCheckpoint(eager=True)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # Both join sides are the CORPUS-sized shingle relation; pin sort-merge.
    # Unhinted, Catalyst broadcasts one side whenever its estimate fits
    # (measured: OK at sf0.1, OOMs a default-memory driver at 10x, and at
    # any real scale a corpus broadcast is the wrong plan outright).
    copies = a.hint("merge").join(b, F.col("doc_b") == F.col("doc_a") + COPY_OFFSET)
    adjacent = (
        a.hint("merge").join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .filter((F.col("doc_a") < COPY_OFFSET)
                & (F.col("doc_b") < COPY_OFFSET)))
    return copies.unionByName(adjacent)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity on candidate pairs: each original vs
    its truncated near-copy, plus adjacent-id background pairs. Set algebra
    via array_intersect on the integer 3-gram hash sets (hash collisions in
    the 2^31 space are negligible for ~10^2-gram documents, and both
    engines hash identically)."""
    aug = _augmented_docs(spark, sf_dir, exact=False)
    pairs = candidate_pairs(
        _gram_hash_df(aug).withColumnRenamed("gh", "sh"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter / union
    return pairs.select(
        "doc_a", "doc_b",
        roundn_col(jac).alias("jaccard"),
        (roundn_col(jac) >= 0.8).alias("is_near_dup"),
    )


EDIT_PREFIX = 64   # compare bounded prefixes: edit distance is O(n*m)


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification on candidate pairs: Levenshtein over
    BOUNDED prefixes (the full-text distance is O(n·m) per pair — never
    run it unbounded at scale; LSH/banding proposes, a capped distance
    verifies). Both engines implement levenshtein identically on integers,
    so this is fully oracle-checked."""
    aug = _augmented_docs(spark, sf_dir, exact=False)
    pref = aug.select("doc_id",
                      F.substring("text", 1, EDIT_PREFIX).alias("pref"))
    pairs = candidate_pairs(pref.withColumnRenamed("pref", "sh"))
    dist = F.levenshtein(F.col("sh_a"), F.col("sh_b"))
    return pairs.select(
        "doc_a", "doc_b",
        dist.cast("long").alias("edit_distance"),
        (dist <= EDIT_PREFIX // 8).alias("is_near_dup"),
    )


#: MinHash permutation family over INTEGER shingle hashes (round-4
#: rewrite, same family as the winnowing Karp-Rabin change): base hash =
#: first 8 md5 hex digits of the shingle as an int mod MH_M — ONE md5 per
#: shingle; the prior digest-slicing scheme needed two — and permutation j
#: is the universal hash (MH_A[j]·h + MH_B[j]) mod MH_M, pure multiply-add
#: inside codegen with integer minima instead of hex-string compares.
#: MH_A < 2^20 keeps every product < 2^51: exact (and identical) in both
#: engines' 64-bit integers. Constants derive from md5 at import time, so
#: Spark and the DuckDB oracle inline the same literals.
MH_M = 2_147_483_647
BAND_C = 1_000_003


def _mh_params() -> tuple[list[int], list[int]]:
    import hashlib

    a = [int(hashlib.md5(f"mha|{j}".encode()).hexdigest()[:5], 16) | 1
         for j in range(N_HASHES)]
    b = [int(hashlib.md5(f"mhb|{j}".encode()).hexdigest()[:8], 16) % MH_M
         for j in range(N_HASHES)]
    return a, b


MH_A, MH_B = _mh_params()


def _perm_min(j: int) -> Column:
    # NB: factory closure, NOT a default-arg lambda — F.transform passes
    # (element, index) to any two-arg lambda, so `lambda h, a=a:` would
    # silently bind the element index to a.
    a, b = MH_A[j], MH_B[j]

    def perm(h: Column) -> Column:
        return (h * a + b) % MH_M

    return F.array_min(F.transform(F.col("gh"), perm)).alias(f"mh{j}")


def minhash_signature(gh_df: DataFrame) -> DataFrame:
    """(doc_id, gh) -> (doc_id, mh0..mh{k-1}): k integer permutation
    minima over the gram-hash set (map-side, no explode, no shuffle, and
    ZERO hashing — the Karp-Rabin gram hashes from ``_gram_hash_df`` are
    the base hashes)."""
    return gh_df.select(
        "doc_id", *[_perm_min(j) for j in range(N_HASHES)])


def _minhash_sql(j: int) -> str:
    """Permutation-j minimum over a staged ``gh`` integer gram-hash list."""
    return (f"list_min(list_transform(gh, h -> "
            f"(({MH_A[j]} * h + {MH_B[j]}) % {MH_M})))")


def _band_col(b: int) -> Column:
    """Integer band key: the 2-minhash combine as multiply-add mod MH_M."""
    return ((F.col(f"mh{2 * b}") * BAND_C % MH_M)
            + F.col(f"mh{2 * b + 1}")) % MH_M


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature + LSH band keys (2 rows/band)."""
    # fanout: pure map-side shingle+permutation work, no downstream
    # shuffle to amortize the single scan task (A/B in _augmented_docs)
    aug = _augmented_docs(spark, sf_dir, exact=False, fanout=True)
    sig = minhash_signature(_gram_hash_df(aug))
    bands = [_band_col(b).alias(f"band{b}") for b in range(N_BANDS)]
    return sig.select("doc_id", *[F.col(f"mh{j}") for j in range(N_HASHES)], *bands)


def q_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: candidates from band-bucket
    collisions (shuffle keyed on (band_idx, band_hash) — never all-pairs),
    scored by the fraction of matching MinHashes.

    The full signature rides the band rows (r11, guide §2.4 — the
    ``doc_bands``/``near_dup_decisions`` shape this query predated): a
    colliding pair verifies from the two ``mh`` arrays already ON the
    join row, so the two post-candidate signature sort-merge joins (and
    the signature persist that fed them) are gone — one band-key shuffle
    plus the pair distinct is the whole plan. The wider band row costs
    ~N_HASHES ints, far less than re-shuffling the candidate set twice.

    The band relation is built by :func:`doc_bands` — the SAME
    implementation the persistent band table and the incremental path
    use (r12, ADVICE: the inlined twin risked batch/incremental drift)."""
    aug = _augmented_docs(spark, sf_dir, exact=False)
    bands = doc_bands(aug)
    # Bucket-occupancy cap, like the winnowing df-cap: the bucket self-join
    # emits O(occupancy²) pairs per bucket, and a dup-rich corpus (the
    # 100-replica scale fixture; at 100 TB any templated text) grows
    # buckets without bound — measured executor OOM at sf10. Buckets at or
    # under the cap keep their full pair clique (small-scale semantics
    # unchanged); an over-cap bucket is a mega-cluster, and every member
    # pairs against its MIN doc_id only (a star, not a clique) — the
    # connected-components consumer still groups the whole bucket through
    # the star edges while the pair expansion stays linear in occupancy.
    # The windows share the join's shuffle key. Mirrored verbatim in the
    # oracle.
    wb = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
    wc = Window.partitionBy("band_idx", "band_hash")
    reps = (bands.withColumn("r", F.row_number().over(wb))
            .withColumn("occ", F.count(F.lit(1)).over(wc))
            .filter((F.col("occ") <= LSH_BUCKET_CAP) | (F.col("r") == 1))
            .drop("r", "occ"))
    # corpus-sized band relation on both sides: pin sort-merge (unhinted,
    # Catalyst auto-broadcasts whichever side its estimate says fits — OK
    # at sf0.1, driver/task OOM at 10x, wrong at any real scale)
    scored = (
        reps.alias("x").hint("merge")
        .join(bands.alias("y"),
              (F.col("x.band_idx") == F.col("y.band_idx"))
              & (F.col("x.band_hash") == F.col("y.band_hash"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"),
                _shared_minhash(F.col("x.mh"), F.col("y.mh"))
                .alias("n_shared_minhash"))
        # n_shared is a pure function of the pair, so the distinct's
        # cardinality is exactly the old distinct-on-(doc_a, doc_b)
        .distinct()
    )
    return scored.withColumn(
        "est_jaccard", roundn_col(F.col("n_shared_minhash") / F.lit(float(N_HASHES))))


#: Accept/reject threshold for incremental near-dedup: >= 4 of 8 shared
#: MinHashes estimates Jaccard >= 0.5.
NEAR_DUP_MIN_SHARED = 4


def doc_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, mh, band_idx, band_hash): one row per LSH band per doc,
    carrying the full signature so a band-bucket collision can be verified
    WITHOUT a second lookup — this is the self-contained row shape the
    persistent band table stores (plans/pipeline.py:near_dedup_against_sink)
    and the incremental query joins on."""
    sig = minhash_signature(_gram_hash_df(docs))
    mh = F.array(*[F.col(f"mh{j}") for j in range(N_HASHES)])
    withb = sig.select(
        # Canonical LONG doc_id: the persistent band table is an append-only
        # parquet log, and a caller handing int32 ids (e.g. literal ids)
        # would otherwise create a mixed INT32/INT64 directory that fails to
        # read whenever schema inference lands on the narrow file.
        F.col("doc_id").cast("long").alias("doc_id"), mh.alias("mh"),
        *[_band_col(b).alias(f"band{b}") for b in range(N_BANDS)])
    return withb.select(
        "doc_id", "mh",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)]))
        .alias("band_idx", "band_hash"))


def _shared_minhash(a: Column, b: Column) -> Column:
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y),
                           lambda eq: eq)).cast("long")


def near_dup_decisions(incoming_bands: DataFrame,
                       history_bands: DataFrame) -> DataFrame:
    """Per incoming doc: the max shared-MinHash count against the history
    corpus and the accept/reject verdict. Candidates come from the
    (band_idx, band_hash) equi-join — output-bounded by bucket occupancy,
    never |incoming| x |history| — and each candidate pair verifies from
    the signatures already ON the band rows (zero extra joins). The
    history side is capped at the bucket's first {LSH_BUCKET_CAP} members:
    a dup-rich corpus grows history buckets without bound and the uncapped
    join OOMed the 100-replica fixture; incoming docs still verify against
    the capped member set."""
    wb = Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
    history_bands = (history_bands.withColumn("r", F.row_number().over(wb))
                     .filter(F.col("r") <= LSH_BUCKET_CAP)
                     .drop("r"))
    n, h = incoming_bands.alias("n"), history_bands.alias("h")
    pairs = (n.hint("merge")
             .join(h, (F.col("n.band_idx") == F.col("h.band_idx"))
                   & (F.col("n.band_hash") == F.col("h.band_hash")))
             .select(F.col("n.doc_id").alias("doc_id"),
                     F.col("h.doc_id").alias("hist_id"),
                     F.col("n.mh").alias("mh_n"), F.col("h.mh").alias("mh_h"))
             .distinct())
    best = (pairs.withColumn("n_shared", _shared_minhash(F.col("mh_n"),
                                                         F.col("mh_h")))
            .groupBy("doc_id").agg(F.max("n_shared").alias("n_shared_max")))
    return (incoming_bands.select("doc_id").distinct()
            .join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_shared_max", F.lit(0)).cast("long")
                     .alias("n_shared_max"))
            .withColumn("is_dup",
                        F.col("n_shared_max") >= NEAR_DUP_MIN_SHARED))


def q_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a HISTORICAL corpus: the full
    documents table plays the already-indexed history; the incoming batch
    is synthetic — truncated near-copies (should collide and verify as
    dups) plus token-reversed fresh docs (3-gram shingles are
    order-sensitive, so reversal breaks them) — and each incoming doc gets
    its accept/reject verdict against history. This is the CORRECTNESS
    twin of the stateful sink-history dedup
    (plans/pipeline.py:near_dedup_against_sink)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % COPY_MOD == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(F.split("text", " "), 1,
                    F.greatest(F.size(F.split("text", " ")) - TRUNCATE,
                               F.lit(1))),
            " ").alias("text"),
    ).repartition("doc_id")  # Exchange barrier, same reason as _augmented_docs
    fresh = docs.filter(F.col("doc_id") % COPY_MOD == 1).select(
        (F.col("doc_id") + 2 * COPY_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
    ).repartition("doc_id")
    incoming = near.unionByName(fresh)
    return near_dup_decisions(doc_bands(incoming), doc_bands(docs))


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 32-bit signature from per-shingle md5 hex
    digits (majority vote per bit position), 8-bit band candidate buckets,
    Hamming-distance verify via bit_count(xor)."""
    # fanout: the per-shingle md5 + nibble votes are the query's CPU cost
    # and ran in the fixture's one scan task (A/B in _augmented_docs)
    aug = _augmented_docs(spark, sf_dir, exact=False, fanout=True)
    # Features are 3-gram shingles, not unigrams: with a small shared
    # vocabulary unigram simhashes cluster (everything looks near-dup);
    # shingles carry word order.
    #
    # Signature shape: explode shingles and majority-vote per bit position
    # with 32 conditional SUMs in ONE hash aggregate. The nested
    # higher-order-function form (aggregate over transform(sequence(1,32)))
    # runs interpreted, outside whole-stage codegen — ~40x slower here.
    # Explode + groupBy is also the 100 TB shape: md5 once per shingle,
    # map-side partial aggregation, one shuffle keyed on doc_id.
    hashed = (_shingle_df(aug)
              .select("doc_id", F.explode("sh").alias("s"))
              .select("doc_id", F.md5("s").alias("h")))
    # bit p (1..32): +1 if hex digit p of md5(shingle) >= 8 else -1; majority.
    # 32 bits so the 8-bit candidate bands below have 256 values — a 16-bit
    # signature with 4-bit bands makes every bucket huge and the self-join
    # quadratic.
    #
    # "hex digit >= 8" is exactly the high bit of that nibble, so instead of
    # 32 substring/isin string comparisons per shingle (dominated the whole
    # bench at ~34 s), parse the hex into four 32-bit chunks with conv()
    # (4 string ops per row) and extract each nibble's high bit with
    # shiftright/& — integer ops that stay inside whole-stage codegen.
    # The 32 vote aggregates and the 32-term signature fold are built as
    # SQL expression STRINGS (r12): each F.expr is ONE gateway round trip
    # that parses JVM-side into the identical expression tree, where the
    # Column-method form made ~7 py4j calls per vote (~500 total, ~1 s of
    # pure construction per bench at the sandbox's ~2 ms round trip).
    chunks = hashed.select("doc_id", *[
        F.expr(f"cast(conv(substring(h, {1 + 8 * c}, 8), 16, 10) as bigint)")
        .alias(f"c{c}")
        for c in range(4)
    ])

    def vote_sql(p: int) -> str:
        c, o = (p - 1) // 8, (p - 1) % 8  # chunk, nibble offset within chunk
        shift = 4 * (7 - o) + 3
        return (f"sum(cast((shiftright(c{c}, {shift}) & 1) * 2 - 1"
                f" as bigint))")

    votes = chunks.groupBy("doc_id").agg(*[
        F.expr(vote_sql(p)).alias(f"v{p}") for p in range(1, 33)
    ])
    simhash = F.expr("cast(0 as bigint) + " + " + ".join(
        f"(case when v{p} > 0 then cast({1 << (p - 1)} as bigint)"
        f" else cast(0 as bigint) end)" for p in range(1, 33)))
    sh = votes.select("doc_id", simhash.alias("simhash")).persist()
    bands = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.expr(
            "transform(sequence(0, 3), b -> (simhash div shiftleft(CAST(1 AS BIGINT), 8*b)) % 256)"
        )).alias("band_idx", "band_val"),
    )
    # Same clique-or-star occupancy cap as q_near_dedup: 8-bit bands make
    # bucket sizes O(corpus/256) by construction, so the uncapped
    # self-join is quadratic at any dup-rich scale; over-cap buckets pair
    # against their min member only. Mirrored in the oracle.
    wb = Window.partitionBy("band_idx", "band_val").orderBy("doc_id")
    wc = Window.partitionBy("band_idx", "band_val")
    reps = (bands.withColumn("r", F.row_number().over(wb))
            .withColumn("occ", F.count(F.lit(1)).over(wc))
            .filter((F.col("occ") <= LSH_BUCKET_CAP) | (F.col("r") == 1))
            .drop("r", "occ"))
    cand = (
        reps.alias("x").hint("merge")
        .join(bands.alias("y"),
              (F.col("x.band_idx") == F.col("y.band_idx"))
              & (F.col("x.band_val") == F.col("y.band_val"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("x.simhash").alias("sim_a"),
                F.col("y.doc_id").alias("doc_b"), F.col("y.simhash").alias("sim_b"))
        .distinct()
    )
    ham = F.bit_count(F.expr("sim_a ^ sim_b")).cast("long")
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= 3)
                .select("doc_a", "doc_b", "sim_a", "sim_b", "hamming"))


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better"): find documents sharing a contiguous
# duplicated token span of >= SUB_L tokens ANYWHERE in the text — the
# shifted-boilerplate case that whole-doc / passage / line dedup misses.
#
# Scale design: the suffix-array of the paper is re-expressed as fixed-L
# token windows — a span of length >= L is shared between two documents
# IFF some L-token window is (detection-equivalent, no suffix sort
# needed). Each doc emits (n_tokens - L + 1) windows; windows shuffle
# ONCE on their span text (exact — no hash-collision risk), duplicated
# spans join back on the same key (co-partitioned, exchange reuse), and
# per-doc contiguous runs of duplicated window positions reconstruct the
# maximal removable region (run of k windows = k + L - 1 shared tokens).
# Everything is linear in corpus size: no all-pairs join, no global
# suffix sort. The shuffle/sort key leads with xxhash64(span) so the
# sort comparisons are 8 bytes (the span string is compared only on
# hash ties, keeping exactness), and the duplicated-span test is
# min(doc_id) != max(doc_id) over the span window — O(1) aggregate
# state per span, so a boilerplate span shared by millions of documents
# never materializes its doc set (the old size(collect_set(doc_id))
# shape was O(M) state per hot span and O(M²) work across its rows).

SUB_L = 15          # minimum duplicated span, in tokens
SUB_MID_OFF = 6     # synthetic copies embed tokens [6, 25] of the source
SUB_MID_LEN = 20    # ... a 20-token span behind fresh flanking text


def _substring_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ shifted-boilerplate copies: every COPY_MOD-th doc's
    middle SUB_MID_LEN tokens re-appear inside an otherwise-new text, at
    a DIFFERENT token offset — invisible to exact/passage dedup."""
    # fanout: the window explode over every token position is map-side
    # CPU ahead of the one span shuffle (sf0.1 A/B 1.1-1.7 → ~1.0 s)
    docs = load_table(spark, sf_dir, "documents",
                      fanout=True).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mid = F.array_join(F.slice(toks, SUB_MID_OFF, SUB_MID_LEN), " ")
    copies = docs.filter(F.col("doc_id") % COPY_MOD == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.concat(F.lit("boiler plate header tokens "), mid,
                 F.lit(" trailing footer tokens")).alias("text"))
    return docs.unionByName(copies)


def _token_windows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, span): every SUB_L-token window of every document —
    map-side only (sequence + transform + posexplode, all JVM).

    The token array BINDS as a lambda variable before the window pass:
    referencing the ``split(text)`` expression inside the per-position
    lambda inlines it, re-splitting the whole document once per window
    position — O(n² · L) per doc, measured 13 s for the sf1 window
    explode vs 1.5 s bound (the same CollapseProject/capture class as
    MAD / TEXT_EMBEDDING)."""
    def windows_of(t: Column) -> Column:
        n = F.size(t)
        return (F.when(n >= SUB_L, F.transform(
                    F.sequence(F.lit(1), n - SUB_L + 1),
                    lambda i: F.array_join(F.slice(t, i, SUB_L), " ")))
                .otherwise(F.array().cast("array<string>")))

    wins_arr = F.element_at(
        F.transform(F.array(F.split(F.col("text"), " ")), windows_of), 1)
    return docs.select(
        "doc_id", F.posexplode(wins_arr).alias("pos0", "span")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "span")


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing a duplicated span of >= SUB_L contiguous
    tokens shared with ANY other document: per doc, the number of
    duplicated window positions and the longest contiguous duplicated
    region in tokens (the span Lee et al. would cut).

    Plan: windows explode map-side (sequence + transform + posexplode,
    all JVM); ONE hash shuffle keyed (xxhash64(span), span) — 8-byte
    comparisons first, span only on hash ties, exactness kept; the
    island window partitions by doc_id (never a single-partition
    window)."""
    aug = _substring_aug(spark, sf_dir)
    return substring_dup_report(aug)


def substring_dup_report(docs: DataFrame) -> DataFrame:
    """Core of the exact-substring dedup over a (doc_id, text) relation:
    per doc with any >= SUB_L-token span shared with another doc, the
    duplicated-window count and the longest contiguous duplicated
    region. Factored out so scale/skew tests drive the product path."""
    wins = _token_windows(docs).withColumn("span_h", F.xxhash64("span"))
    # ONE shuffle: the duplicated-span test rides a window over the
    # span partitioning instead of a groupBy + join-back (which shuffled
    # the span-keyed rows twice — measured 36 s -> 18 s at sf1), and the
    # test itself is min(doc_id) != max(doc_id) — O(1) window state, so
    # a hot boilerplate span shared by millions of docs never
    # materializes its doc set (the old size(collect_set(..)) was O(M)
    # state per span and a one-task memory hazard at 100 TB)
    wspan = Window.partitionBy("span_h", "span")
    dup = (wins.withColumn("is_dup", F.min("doc_id").over(wspan)
                           != F.max("doc_id").over(wspan))
           .filter("is_dup")
           .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn("g", F.col("pos") - F.row_number().over(w))
    runs = isl.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("run"))
    return (runs.groupBy("doc_id")
            .agg(F.sum("run").cast("long").alias("dup_windows"),
                 (F.max("run") + SUB_L - 1).cast("long")
                 .alias("max_run_tokens"))
            .orderBy("doc_id"))


_AUG_SQL_SUB = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {COPY_OFFSET},
       'boiler plate header tokens ' ||
       array_to_string(list_slice(string_split(text, ' '),
                                  {SUB_MID_OFF},
                                  {SUB_MID_OFF + SUB_MID_LEN - 1}), ' ') ||
       ' trailing footer tokens'
FROM documents WHERE doc_id % {COPY_MOD} = 0
"""

_SUB_ORACLE = f"""
WITH aug AS ({_AUG_SQL_SUB}),
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
wins AS (
  SELECT doc_id, i.i AS pos,
         array_to_string(list_slice(t, i.i, i.i + {SUB_L - 1}), ' ') AS span
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - {SUB_L - 1}))
                     AS i) i
  WHERE len(t) >= {SUB_L}),
spans AS (SELECT span FROM wins GROUP BY span
          HAVING count(DISTINCT doc_id) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN spans USING (span)),
isl AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS g
        FROM dup),
runs AS (SELECT doc_id, g, count(*) AS run FROM isl GROUP BY doc_id, g)
SELECT doc_id, CAST(sum(run) AS BIGINT) AS dup_windows,
       CAST(max(run) + {SUB_L - 1} AS BIGINT) AS max_run_tokens
FROM runs GROUP BY doc_id ORDER BY doc_id"""


def q_incremental_substring_dedup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Incremental exact-substring dedup against a HISTORICAL corpus:
    the documents table plays the already-ingested history; the incoming
    batch is synthetic — shifted-boilerplate re-embeddings of every
    COPY_MOD-th doc's middle span (should REJECT: they share a >= SUB_L
    token window with history at a different offset) plus token-reversed
    fresh docs (should ACCEPT: windows are order-sensitive). Each
    incoming doc gets its verdict plus how many of its windows already
    exist in history — the batch twin of a streaming ingest gate, and
    the substring complement of ``q_incremental_near_dedup``.

    Scale shape: ONE hash shuffle on the span text joins the incoming
    windows against the history's distinct-span relation; at production
    scale the history side is a PRECOMPUTED span store maintained by the
    ingest pipeline (append new accepted docs' windows per tick), so the
    per-batch cost is O(batch windows), never a history re-scan.

    fanout: the history-side window explode is the same per-token-position
    map CPU `_substring_aug` fans out (r11) and ran in the fixture's one
    scan task here too — r12 interleaved A/B at sf0.1/32: warm ~2.0 →
    ~1.5 s, first-run 7.1 → 2.3 s; scale-adaptive, no-op on real
    multi-split inputs."""
    docs = load_table(spark, sf_dir, "documents",
                      fanout=True).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mid = F.array_join(F.slice(toks, SUB_MID_OFF, SUB_MID_LEN), " ")
    shifted = docs.filter(F.col("doc_id") % COPY_MOD == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"),
        F.concat(F.lit("fresh intro words "), mid,
                 F.lit(" closing remark tokens")).alias("text"))
    fresh = docs.filter(F.col("doc_id") % COPY_MOD == 1).select(
        (F.col("doc_id") + 2 * COPY_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"))
    incoming = shifted.unionByName(fresh)
    # join keys lead with xxhash64(span): sort-merge comparisons are 8
    # bytes first, the span string only breaks hash ties (exactness
    # kept); the history side dedups map-side before its one shuffle
    hist_spans = (_token_windows(docs)
                  .select(F.xxhash64("span").alias("span_h"), "span")
                  .distinct())
    hits = (_token_windows(incoming)
            .withColumn("span_h", F.xxhash64("span"))
            .join(hist_spans, ["span_h", "span"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("shared_windows")))
    return (incoming.select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("shared_windows", F.lit(0)).cast("long")
                    .alias("shared_windows"))
            .withColumn("is_dup", F.col("shared_windows") > 0)
            .orderBy("doc_id"))


_INC_SUB_ORACLE = f"""
WITH incoming AS (
  SELECT doc_id + {COPY_OFFSET} AS doc_id,
         'fresh intro words ' ||
         array_to_string(list_slice(string_split(text, ' '),
                                    {SUB_MID_OFF},
                                    {SUB_MID_OFF + SUB_MID_LEN - 1}), ' ')
         || ' closing remark tokens' AS text
  FROM documents WHERE doc_id % {COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {2 * COPY_OFFSET},
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % {COPY_MOD} = 1),
htok AS (SELECT string_split(text, ' ') AS t FROM documents),
hspans AS (
  SELECT DISTINCT array_to_string(list_slice(t, i.i, i.i + {SUB_L - 1}),
                                  ' ') AS span
  FROM htok, LATERAL (SELECT unnest(generate_series(1, len(t)
                                                    - {SUB_L - 1})) AS i) i
  WHERE len(t) >= {SUB_L}),
itok AS (SELECT doc_id, string_split(text, ' ') AS t FROM incoming),
iwins AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i.i, i.i + {SUB_L - 1}), ' ') AS span
  FROM itok, LATERAL (SELECT unnest(generate_series(1, len(t)
                                                    - {SUB_L - 1})) AS i) i
  WHERE len(t) >= {SUB_L}),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_windows
  FROM iwins JOIN hspans USING (span) GROUP BY doc_id)
SELECT i.doc_id, CAST(coalesce(h.shared_windows, 0) AS BIGINT)
         AS shared_windows,
       coalesce(h.shared_windows, 0) > 0 AS is_dup
FROM incoming i LEFT JOIN hits h USING (doc_id) ORDER BY i.doc_id"""


QUERIES = {
    "q_exact_dedup": q_exact_dedup,
    "q_substring_dedup": q_substring_dedup,
    "q_incremental_substring_dedup": q_incremental_substring_dedup,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_edit_distance": q_edit_distance,
    "q_minhash_signature": q_minhash_signature,
    "q_near_dedup": q_near_dedup,
    "q_incremental_near_dedup": q_incremental_near_dedup,
    "q_simhash_dedup": q_simhash_dedup,
}


_MH_COLS = ",\n         ".join(f"{_minhash_sql(j)} AS mh{j}" for j in range(N_HASHES))
_BAND_COLS = ",\n       ".join(
    f"((mh{2 * b} * {BAND_C} % {MH_M}) + mh{2 * b + 1}) % {MH_M} AS band{b}"
    for b in range(N_BANDS))
_SIG_CTE = f"""
aug AS ({_AUG_SQL_NEAR}),
thq AS (SELECT doc_id, text, {_TH_SQL} AS th FROM aug),
ghq AS (SELECT doc_id, {_GH_SQL} AS gh FROM thq),
sig AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM ghq),
sigb AS (
  SELECT doc_id, {", ".join(f"mh{j}" for j in range(N_HASHES))},
       {_BAND_COLS}
  FROM sig)
"""

ORACLES = {
    "q_substring_dedup": _SUB_ORACLE,
    "q_incremental_substring_dedup": _INC_SUB_ORACLE,
    "q_exact_dedup": f"""
WITH aug AS ({_AUG_SQL_EXACT})
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
       count(*) AS n_copies, count(*) > 1 AS is_dup_group
FROM aug GROUP BY md5(text)""",

    "q_ngram_jaccard": f"""
WITH aug AS ({_AUG_SQL_NEAR}),
thq AS (SELECT doc_id, text, {_TH_SQL} AS th FROM aug),
sh AS (SELECT doc_id, {_GH_SQL} AS sh FROM thq),
pairs AS (
  -- two equi-joins unioned, NOT one OR-join: the OR has no extractable
  -- equi keys and DuckDB nested-loops it (quadratic at scale fixtures),
  -- exactly why the Spark side splits the joins (candidate_pairs).
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + {COPY_OFFSET}
  UNION ALL
  SELECT a.doc_id, b.doc_id,
         len(list_intersect(a.sh, b.sh)),
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id < {COPY_OFFSET} AND b.doc_id < {COPY_OFFSET})
SELECT doc_a, doc_b,
       {roundn_sql('i / u')} AS jaccard,
       {roundn_sql('i / u')} >= 0.8 AS is_near_dup
FROM pairs""",

    "q_edit_distance": f"""
WITH aug AS ({_AUG_SQL_NEAR}),
pref AS (SELECT doc_id, substr(text, 1, {EDIT_PREFIX}) AS pref FROM aug),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.pref, b.pref) AS d
  FROM pref a JOIN pref b ON b.doc_id = a.doc_id + {COPY_OFFSET}
  UNION ALL
  SELECT a.doc_id, b.doc_id, levenshtein(a.pref, b.pref)
  FROM pref a JOIN pref b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id < {COPY_OFFSET} AND b.doc_id < {COPY_OFFSET})
SELECT doc_a, doc_b, CAST(d AS BIGINT) AS edit_distance,
       d <= {EDIT_PREFIX // 8} AS is_near_dup
FROM pairs""",

    "q_minhash_signature": f"""
WITH {_SIG_CTE}
SELECT * FROM sigb""",

    "q_near_dedup": f"""
WITH {_SIG_CTE},
m AS (SELECT doc_id, [{", ".join(f"mh{j}" for j in range(N_HASHES))}] AS mh FROM sig),
bands AS (
  SELECT doc_id, b.band_idx, b.band_hash
  FROM sigb, LATERAL (
    {" UNION ALL ".join(f"SELECT {b} AS band_idx, band{b} AS band_hash" for b in range(N_BANDS))}
  ) b),
reps AS (
  SELECT doc_id, band_idx, band_hash FROM (
    SELECT doc_id, band_idx, band_hash,
           row_number() OVER (PARTITION BY band_idx, band_hash
                              ORDER BY doc_id) AS r,
           count(*) OVER (PARTITION BY band_idx, band_hash) AS occ
    FROM bands) WHERE occ <= {LSH_BUCKET_CAP} OR r = 1),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM reps x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
   AND x.doc_id < y.doc_id),
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_filter(range(1, {N_HASHES + 1}),
                              i -> ma.mh[i] = mb.mh[i])) AS BIGINT) AS n_shared_minhash
  FROM cand
  JOIN m ma ON cand.doc_a = ma.doc_id
  JOIN m mb ON cand.doc_b = mb.doc_id)
SELECT doc_a, doc_b, n_shared_minhash,
       {roundn_sql(f'n_shared_minhash / {float(N_HASHES)}')} AS est_jaccard
FROM scored""",

    "q_incremental_near_dedup": f"""
WITH hist AS (SELECT doc_id, text FROM documents),
inc AS (
  SELECT doc_id + {COPY_OFFSET} AS doc_id,
         array_to_string(
           string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) - {TRUNCATE}, 1)],
           ' ') AS text
  FROM documents WHERE doc_id % {COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {2 * COPY_OFFSET},
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % {COPY_MOD} = 1),
hth AS (SELECT doc_id, text, {_TH_SQL} AS th FROM hist),
ith AS (SELECT doc_id, text, {_TH_SQL} AS th FROM inc),
hgh AS (SELECT doc_id, {_GH_SQL} AS gh FROM hth),
igh AS (SELECT doc_id, {_GH_SQL} AS gh FROM ith),
hsig AS (SELECT doc_id, {_MH_COLS} FROM hgh),
isig AS (SELECT doc_id, {_MH_COLS} FROM igh),
hm AS (SELECT doc_id, [{", ".join(f"mh{j}" for j in range(N_HASHES))}] AS mh,
       {_BAND_COLS} FROM hsig),
im AS (SELECT doc_id, [{", ".join(f"mh{j}" for j in range(N_HASHES))}] AS mh,
       {_BAND_COLS} FROM isig),
hb AS (
  SELECT doc_id, mh, b.band_idx, b.band_hash FROM hm, LATERAL (
    {" UNION ALL ".join(f"SELECT {b} AS band_idx, band{b} AS band_hash" for b in range(N_BANDS))}
  ) b),
ib AS (
  SELECT doc_id, mh, b.band_idx, b.band_hash FROM im, LATERAL (
    {" UNION ALL ".join(f"SELECT {b} AS band_idx, band{b} AS band_hash" for b in range(N_BANDS))}
  ) b),
hbc AS (
  SELECT doc_id, mh, band_idx, band_hash FROM (
    SELECT doc_id, mh, band_idx, band_hash,
           row_number() OVER (PARTITION BY band_idx, band_hash
                              ORDER BY doc_id) AS r
    FROM hb) WHERE r <= {LSH_BUCKET_CAP}),
pairs AS (
  SELECT DISTINCT n.doc_id AS doc_id, h.doc_id AS hist_id,
                  n.mh AS mh_n, h.mh AS mh_h
  FROM ib n JOIN hbc h
    ON n.band_idx = h.band_idx AND n.band_hash = h.band_hash),
best AS (
  SELECT doc_id,
         max(CAST(len(list_filter(range(1, {N_HASHES + 1}),
                                  i -> mh_n[i] = mh_h[i])) AS BIGINT))
           AS n_shared_max
  FROM pairs GROUP BY doc_id)
SELECT i.doc_id,
       coalesce(best.n_shared_max, 0) AS n_shared_max,
       coalesce(best.n_shared_max, 0) >= {NEAR_DUP_MIN_SHARED} AS is_dup
FROM (SELECT DISTINCT doc_id FROM inc) i LEFT JOIN best USING (doc_id)""",

    "q_simhash_dedup": f"""
WITH aug AS ({_AUG_SQL_NEAR}),
shq AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM aug),
th AS (
  SELECT doc_id, list_transform(sh, s -> md5(s)) AS th
  FROM shq),
sh AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, 33), p ->
           CASE WHEN list_sum(list_transform(th, h ->
                  CASE WHEN substr(h, p, 1) IN ('8','9','a','b','c','d','e','f')
                       THEN 1 ELSE -1 END)) > 0
                THEN 1::BIGINT << (p - 1) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
  FROM th),
bands AS (
  SELECT doc_id, simhash, b AS band_idx,
         (simhash // (1::BIGINT << (8 * b))) % 256 AS band_val
  FROM sh, LATERAL (SELECT unnest(range(0, 4)) AS b)),
reps AS (
  SELECT doc_id, simhash, band_idx, band_val FROM (
    SELECT doc_id, simhash, band_idx, band_val,
           row_number() OVER (PARTITION BY band_idx, band_val
                              ORDER BY doc_id) AS r,
           count(*) OVER (PARTITION BY band_idx, band_val) AS occ
    FROM bands) WHERE occ <= {LSH_BUCKET_CAP} OR r = 1),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS sim_a,
                  y.doc_id AS doc_b, y.simhash AS sim_b
  FROM reps x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
   AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b, sim_a, sim_b,
       CAST(bit_count(xor(sim_a::BIGINT, sim_b::BIGINT)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a::BIGINT, sim_b::BIGINT)) <= 3""",
}
