"""Vector-similarity operators (SURVEY.md §2.3 E3 + BASELINE.json north
star: "similarity search ... designed for 100 TB scale").

- ``q_knn_cosine``      : brute-force top-k — query set broadcast against the
                          corpus, dot products via higher-order functions
                          (JVM-side, no Python), per-query window top-k.
- ``q_embedding_dedup`` : cosine near-duplicate pairs with LABEL BLOCKING
                          (the IVF idea applied to dedup): pairs form only
                          inside a partition bucket — never an all-pairs
                          cross join.
- ``q_ann_ivf``         : two-stage approximate NN: coarse quantization
                          (per-label centroids), probe the top-2 nearest
                          cells, exact rerank inside probed cells only.

Scale notes: queries/centroids are tiny → broadcast joins (verified in the
plan); the corpus side streams map-side. Float math is cast to double
element-wise before summation in BOTH engines, and every score is rounded
with the deterministic primitive before ranking so rank ties can't diverge.
Centroids are rounded to 4 decimals so the (order-sensitive) avg is stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col, roundn_sql
from elasticsearch_hbase_river_spark.sources.tables import load_table

N_QUERIES = 8      # query vectors: vec_id < 8
TOP_K = 10
DUP_MOD = 25       # q_embedding_dedup synthetic copies: every 25th vector
DUP_OFFSET = 1_000_000_000  # collision-free vs scale-fixture vec_id strides
#: Max VERIFIERS per (label, SRP-bucket) block: pairs form between the
#: block's EMB_BLOCK_CAP smallest-id members and everyone — the keep
#: rule prefers smaller ids, so every dup-cluster's keeper is inside the
#: capped set by construction, while pair volume stays LINEAR in block
#: occupancy (the uncapped self-join went quadratic on duplicate-rich
#: corpora: 5x superlinear wall at the 300x fixture). Same discipline as
#: the MinHash/SimHash bucket caps and the incremental history cap.
EMB_BLOCK_CAP = 64
N_PROBE = 2        # IVF cells probed
IVF_TOP_K = 5


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, left-to-right (portable fold order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _dot_sql(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))")


def _norm_sql(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"


def _norm_corpus(emb: DataFrame) -> DataFrame:
    """(vec_id, label, embedding, enorm): the corpus projection every ANN
    variant scans. Factored out (r11) so ``q_ann_recall`` can compute it
    ONCE behind a persist and share it across its three branches — the
    queries side derives from the same relation (its ``qnorm`` IS the
    row's ``enorm``, the identical fold), so no branch re-norms the
    corpus."""
    return emb.select("vec_id", "label", "embedding",
                      _norm(F.col("embedding")).alias("enorm"))


def _ann_queries(corpus: DataFrame) -> DataFrame:
    """The broadcast query set (vec_id < N_QUERIES) from a normed corpus."""
    return corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("enorm").alias("qnorm"))


def _knn_ranked(corpus: DataFrame) -> DataFrame:
    """Brute-force cosine top-k over a normed corpus (q_knn_cosine body)."""
    queries = _ann_queries(corpus)
    cos = roundn_col(_dot(F.col("qe"), F.col("embedding"))
                     / (F.col("qnorm") * F.col("enorm")))
    scored = (
        corpus.join(F.broadcast(queries))            # 8 × N, map-side
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cos.alias("cosine"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= TOP_K))


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, scan the corpus
    once, rank per query. The baseline every ANN variant is judged against."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _knn_ranked(_norm_corpus(emb))


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus plus synthetic exact copies (every DUP_MOD-th vector,
    offset ids) — the planted duplicates both dedup queries detect."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label")
    copies = emb.filter(F.col("vec_id") % DUP_MOD == 0).select(
        (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), "embedding", "label")
    return emb.unionByName(copies)


def q_embedding_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style survivor list: the corpus that remains after
    embedding near-dedup — every vector with a >=0.95-cosine neighbor of
    SMALLER id in its (label, SRP-bucket) block is dropped; survivors
    carry how many higher-id near-dups they absorbed. The keep/drop
    decision is an anti-join against the (output-bounded) pair relation —
    nothing corpus-quadratic is ever materialized.

    The pair relation is consumed ONCE: each pair emits two marks —
    vec_b is dropped, vec_a absorbs one duplicate — folded by a single
    vec_id shuffle. An earlier two-consumer shape (distinct drop set +
    absorb counts over an eager ``localCheckpoint``) measured BIMODAL
    in-bench (7.6 s vs 1.7 s isolated at sf0.1): the eager
    materialization ran under whatever block-manager pressure earlier
    queries left behind — the same session-state pathology as the
    bigram-LM checkpoint. One pass needs no checkpoint at all."""
    pairs = q_embedding_dedup(spark, sf_dir).select("vec_a", "vec_b")
    marks = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("vec_b").alias("vec_id"),
                     F.lit(1).alias("d"), F.lit(0).alias("a")),
            F.struct(F.col("vec_a").alias("vec_id"),
                     F.lit(0).alias("d"), F.lit(1).alias("a")))).alias("m"))
        .select("m.*")
        .groupBy("vec_id")
        .agg(F.max("d").alias("dropped"), F.sum("a").alias("n")))
    aug = _augmented_embeddings(spark, sf_dir).select("vec_id", "label")
    return (aug.join(marks, "vec_id", "left")
            .filter(F.coalesce(F.col("dropped"), F.lit(0)) == 0)
            .select("vec_id", "label",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                     .alias("n_dups")))


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on (label, SRP bucket):
    candidate pairs form only inside a block. Label alone is NOT a valid
    blocking key at scale — with a handful of labels the within-block pair
    join is O(B²) on corpus-proportional blocks; adding the 8-bit
    signed-random-projection bucket (identical vectors hash identically, so
    exact/near copies still collide) caps each block at ~1/256 of its
    label. Synthetic exact copies guarantee hits. Verifier side capped at
    the EMB_BLOCK_CAP smallest ids per block (see the constant) so a
    duplicate-rich block stays linear, never quadratic."""
    from pyspark.sql import Window

    aug = _augmented_embeddings(spark, sf_dir)
    sides = aug.select("vec_id", "label", "embedding",
                       _srp_bucket_col().alias("bucket"),
                       _norm(F.col("embedding")).alias("nrm"))
    wb = Window.partitionBy("label", "bucket").orderBy("vec_id")
    capped = (sides.withColumn("r", F.row_number().over(wb))
              .filter(F.col("r") <= EMB_BLOCK_CAP).drop("r"))
    a, b = capped.alias("a"), sides.alias("b")
    cos = roundn_col(_dot(F.col("a.embedding"), F.col("b.embedding"))
                     / (F.col("a.nrm") * F.col("b.nrm")))
    return (
        # corpus-sized embedding relation on both sides: pin sort-merge
        a.hint("merge").join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                F.col("a.label").alias("label"), cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.95)
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style two-stage ANN: (1) coarse cells = per-label centroids
    (posexplode -> per-dimension avg -> rebuilt, rounded for determinism);
    (2) each query probes its N_PROBE nearest cells and reranks exactly
    inside them. At scale: centroids broadcast; stage-2 join hits only
    ~N_PROBE/N_CELLS of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _ivf_ranked(_norm_corpus(emb))


def _ivf_ranked(corpus: DataFrame) -> DataFrame:
    """IVF probe + exact rerank over a normed corpus (q_ann_ivf body)."""
    from pyspark.sql import Window

    emb = corpus
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(roundn_col(F.avg(F.col("v").cast("double")), 4).alias("cv"))
        .groupBy("label")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                         lambda s: s.cv).alias("centroid"))
        .select("label", "centroid", _norm(F.col("centroid")).alias("cnorm"))
    )
    queries = _ann_queries(corpus)
    ccos = roundn_col(_dot(F.col("qe"), F.col("centroid"))
                      / (F.col("qnorm") * F.col("cnorm")))
    wq = Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("label"))
    probed = (
        queries.join(F.broadcast(cent))
        .select("qid", "qe", "qnorm", "label", ccos.alias("ccos"))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= N_PROBE)
        .select("qid", "qe", "qnorm", "label")
    )
    cos = roundn_col(_dot(F.col("qe"), F.col("embedding"))
                     / (F.col("qnorm") * F.col("enorm")))
    wr = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        corpus.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= IVF_TOP_K)
    )


N_PLANES = 8       # SRP-LSH hyperplanes -> 256 buckets
LSH_TOP_K = 5
EMB_DIM = 64


def _srp_weights() -> list[list[int]]:
    """±1 hyperplane weights, derived from md5 at PLAN time — both engines
    inline the same literals, so signatures agree bit-for-bit with zero
    runtime hashing."""
    import hashlib

    return [[1 if int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[0], 16) >= 8
             else -1
             for i in range(EMB_DIM)] for p in range(N_PLANES)]


_SRP_BUCKET_COL: Column | None = None


def _srp_bucket_col() -> Column:
    """8-bit signed-random-projection bucket of ``embedding``: bit p is the
    sign of a fixed ±1 projection. The fold is a zip_with/aggregate over a
    LITERAL weight array — the unrolled 512-term sum blows up codegen
    compile time (~8s of the query); the HOF form evaluates the identical
    left-to-right chain, so the oracle's literal sum still matches
    bit-for-bit.

    The built Column is memoized per process (r11): it is a pure function
    of the fixed hyperplane constants, and building it costs ~600 py4j
    round-trips (512 literals + 16 HOF lambdas) — measured ~1.2 s per
    call at bench time, with 2 calls per LSH query. Caches an unresolved
    expression tree only, never data."""
    import operator
    from functools import reduce

    global _SRP_BUCKET_COL
    if _SRP_BUCKET_COL is not None:
        return _SRP_BUCKET_COL

    w = _srp_weights()
    bits = []
    for p in range(N_PLANES):
        warr = F.array(*[F.lit(float(x)) for x in w[p]])
        proj = F.aggregate(
            F.zip_with(F.col("embedding"), warr,
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    _SRP_BUCKET_COL = reduce(operator.add, bits).cast("long")
    return _SRP_BUCKET_COL


def _srp_bucket_sql() -> str:
    w = _srp_weights()
    parts = []
    for p in range(N_PLANES):
        proj = " + ".join(f"embedding[{i + 1}]::DOUBLE * {float(w[p][i])}"
                          for i in range(EMB_DIM))
        parts.append(f"CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path named alongside IVF): corpus and
    queries bucket by the 8-bit SRP signature; exact cosine rerank happens
    only inside the query's bucket — an equi-join on the bucket key, ~1/256
    of the corpus per query, never a cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _lsh_ranked(_norm_corpus(emb))


def _lsh_ranked(ncorpus: DataFrame) -> DataFrame:
    """SRP-bucketed rerank over a normed corpus (q_ann_lsh body)."""
    from pyspark.sql import Window

    corpus = ncorpus.select("vec_id", "embedding",
                            _srp_bucket_col().alias("bucket"), "enorm")
    queries = ncorpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        _srp_bucket_col().alias("bucket"),
        F.col("enorm").alias("qnorm"))
    cos = roundn_col(_dot(F.col("qe"), F.col("embedding"))
                     / (F.col("qnorm") * F.col("enorm")))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "bucket", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= LSH_TOP_K)
    )


RECALL_K = 5


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of both ANN variants against the exact brute-force top-k —
    the measurement that justifies shipping an approximate index at scale
    (run it on a sample; if recall holds, the 100 TB corpus gets the
    candidate-bounded path). Tiny relation algebra on the already-ranked
    outputs; one row per (method, query).

    The three branches share ONE persisted corpus projection (r11, guide
    §2.4/§5.4 cache a reused intermediate): each previously re-scanned
    the embeddings table and re-folded the per-vector norm — three
    corpus passes of interpreted HOF arithmetic for one query.

    Persist lifetime (ADVICE r11): the query is ONE action, so the
    blocks cannot be dropped before the caller materializes it; every
    harness that runs multiple queries per session (bench.py,
    tools/iso_bench.py, the verify sweep via toPandas-per-query) clears
    the cache between queries (``spark.catalog.clearCache()`` + gc), so
    persisted blocks never accumulate across queries."""
    from pyspark import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings")
    shared = _norm_corpus(emb).persist(StorageLevel.MEMORY_AND_DISK)
    exact = (_knn_ranked(shared)
             .filter(F.col("rank") <= RECALL_K).select("qid", "vec_id"))
    approx = (
        _ivf_ranked(shared).select("qid", "vec_id")
        .withColumn("method", F.lit("ivf"))
        .unionByName(_lsh_ranked(shared).select("qid", "vec_id")
                     .withColumn("method", F.lit("lsh"))))
    hits = (approx.join(exact, ["qid", "vec_id"])
            .groupBy("method", "qid").agg(F.count(F.lit(1)).alias("n_hits")))
    base = (shared.filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("qid"))
            .crossJoin(F.broadcast(
                spark.createDataFrame([("ivf",), ("lsh",)], "method string"))))
    return (base.join(hits, ["method", "qid"], "left")
            .select("method", "qid",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                     .alias("n_hits"))
            .withColumn("recall",
                        roundn_col(F.col("n_hits") / F.lit(float(RECALL_K)))))


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): k-means-cluster the
# embedding space, then deduplicate WITHIN each cluster by pairwise
# cosine — catches paraphrase-level duplicates that shingle/MinHash
# methods (lexical) miss entirely.
#
# Scale shape: Lloyd iterations are K-row broadcast joins (assignment is
# map-side argmin over K centroids, re-estimation a per-(cluster, dim)
# partial agg); the pairwise stage never crosses clusters and is capped
# per cluster (same discipline as the MinHash/SimHash bucket caps), so
# total pair volume is LINEAR in corpus size. Determinism across
# engines: centroid components and distances round to 4 decimals before
# every argmin (ties break on cluster id), so Spark and DuckDB run the
# IDENTICAL unrolled iterations.

SEM_K = 8            # k-means clusters
SEM_ITERS = 2        # Lloyd iterations (unrolled in the oracle SQL)
SEM_TAU = 0.99       # within-cluster cosine duplicate threshold
SEM_EPS = 0.001      # synthetic near-dup perturbation (first component)


def _sem_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies of every DUP_MOD-th vector: +EPS on
    the first component — cosine ≈ 0.9999 to the source (semantic dup),
    byte-unequal (invisible to exact dedup)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                         "embedding")
    pert = F.transform(
        F.col("embedding"),
        lambda v, i: F.when(i == 0, v + F.lit(SEM_EPS)).otherwise(v))
    copies = emb.filter(F.col("vec_id") % DUP_MOD == 0).select(
        (F.col("vec_id") + DUP_OFFSET).alias("vec_id"),
        pert.cast("array<float>").alias("embedding"))
    return emb.unionByName(copies)


def _sem_sqdist(a: Column, b: Column) -> Column:
    return roundn_col(F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v), 4)


def _sem_cents_1row(assigned_k: DataFrame) -> DataFrame:
    """Lloyd re-estimation as a 1-ROW relation: from a (k, embedding)
    assignment, per-(k, pos) rounded component means (posexplode +
    partial agg — K·dim rows on the wire at any corpus size), assembled
    into ``cents: array<struct<k, centroid, cnorm>>`` sorted by k.
    Broadcast into the next assignment, this keeps the whole Lloyd tail
    INSIDE one Spark action — no driver collect between iterations.
    cnorm folds left-to-right over the pos-sorted components."""
    cv = roundn_col(F.avg(F.col("v").cast("double")), 4)
    comp = (assigned_k
            .select("k", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("k", "pos").agg(cv.alias("cv")))
    cent = (comp.groupBy("k")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"]).alias("centroid")))
    cn = F.sqrt(F.aggregate(F.col("centroid"), F.lit(0.0),
                            lambda a, v: a + v * v))
    return (cent.select(F.struct(F.col("k"), F.col("centroid"),
                                 cn.alias("cnorm")).alias("c"))
            .agg(F.array_sort(F.collect_list("c")).alias("cents")))


def _sem_chosen(cents: Column) -> Column:
    """Per-row nearest-centroid pick over the broadcast ``cents`` array:
    min of (rounded dist, k, centroid, cnorm) structs — struct ordering
    compares dist then k, exactly the smallest-k tie rule."""
    return F.array_min(F.transform(cents, lambda c: F.struct(
        _sem_sqdist(F.col("embedding"), c["centroid"]).alias("d"),
        c["k"].alias("k"),
        c["centroid"].alias("centroid"),
        c["cnorm"].alias("cnorm"))))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the (near-dup-augmented) embedding corpus: k-means
    blocks, within-cluster cosine >= {SEM_TAU} marks duplicates; the keep
    rule follows the paper — per duplicate group, the vector with the
    LOWEST cosine to its cluster centroid survives (preserves diversity),
    ties on vec_id. Output: one row per duplicated vector with its
    cluster, centroid cosine and keep flag."""
    from pyspark import StorageLevel

    # The augmented corpus is scanned by EVERY Lloyd stage (init
    # candidates, fused pass 1, each later assignment, final scoring) —
    # seven scans of the union-of-two-parquet-reads subtree inside one
    # action. Persist it once (r12, guide §5.4 cache a reused
    # intermediate; interleaved A/B at sf0.1: exec ~2.6 -> ~2.3 s,
    # first-run 6.9 -> 2.6 s); the per-pass HOF math is unchanged.
    emb = _sem_aug(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    # Lloyd iteration 1 FUSED with centroid init (one driver job, was
    # two): the K init centroids — the K smallest vec_ids' embeddings —
    # ride a TakeOrdered broadcast into the assignment join, labeled by
    # their OWN vec_id (the argmin struct's tie-break on the smaller
    # cand vec_id is exactly the smaller-k rule, since k is the vec_id
    # rank); the driver relabels k = rank after the K-row collect.
    # This one fused pass shuffles N rows twice (vec_id argmin, then
    # cluster re-estimation) — but it saves a whole sequential job + its
    # top-K scan.
    cand = (emb.orderBy("vec_id").limit(SEM_K)
            .select(F.col("vec_id").alias("ck"),
                    F.col("embedding").alias("cent")))
    d = _sem_sqdist(F.col("embedding"), F.col("cent"))
    best = (emb.crossJoin(F.broadcast(cand))
            .select("vec_id", "embedding", d.alias("d"), "ck")
            .groupBy("vec_id")
            .agg(F.min(F.struct("d", "ck")).alias("m"),
                 F.any_value("embedding").alias("embedding")))
    # EVERY Lloyd stage runs INSIDE the final action (r11: was one
    # driver collect + a literal-argmin rebuild — a full sequential job
    # + 8x64 literal nodes of py4j/analysis per build; now zero driver
    # round-trips, so the whole query is ONE action): the fused first
    # pass's re-estimation is a 1-row cents relation keyed by the init
    # candidates' OWN vec_ids, relabeled in-plan to k = rank (the
    # struct's position in the k-sorted cents array — exactly the
    # enumerate() the driver used to do), then broadcast into the next
    # per-row argmin.
    cents1 = (_sem_cents_1row(best.select(F.col("m.ck").alias("k"),
                                          "embedding"))
              .select(F.transform(
                  F.col("cents"), lambda c, i: F.struct(
                      i.cast("int").alias("k"),
                      c["centroid"].alias("centroid"),
                      c["cnorm"].alias("cnorm"))).alias("cents")))
    assigned_k = (emb.crossJoin(F.broadcast(cents1))
                  .select(_sem_chosen(F.col("cents"))["k"].alias("k"),
                          "embedding"))
    for _ in range(SEM_ITERS - 2):
        withc = emb.crossJoin(F.broadcast(_sem_cents_1row(assigned_k)))
        assigned_k = withc.select(
            _sem_chosen(F.col("cents"))["k"].alias("k"), "embedding")
    cents_rel = _sem_cents_1row(assigned_k)
    # final assignment + centroid cosine from the SAME broadcast pick;
    # the chosen struct binds ONCE inside a 1-element transform lambda
    # (the _let trick) so k and ccos don't each re-run the argmin
    nrm = _norm(F.col("embedding"))
    bound = F.element_at(
        F.transform(F.array(_sem_chosen(F.col("cents"))), lambda ch:
                    F.struct(
                        ch["k"].alias("k"),
                        roundn_col(
                            _dot(F.col("embedding"), ch["centroid"])
                            / (nrm * ch["cnorm"])).alias("ccos"))), 1)
    scored = (emb.crossJoin(F.broadcast(cents_rel))
              .select("vec_id", "embedding", nrm.alias("enorm"),
                      bound.alias("b"))
              .select("vec_id", "embedding", "enorm",
                      F.col("b.k").alias("k"), F.col("b.ccos")
                      .alias("ccos")))
    # paper keep rule: survivors are LOW-centroid-cosine first.
    # Both pair sides read `ranked`; serialized memory-first persist
    # (the §9a/§10 discipline) instead of the old eager localCheckpoint,
    # whose blocks shared eviction state with every earlier query's
    # leftovers and survived clearCache() — the accumulated-session
    # pressure class behind the 6 s in-bench vs ~2 s isolated gap.
    wk = Window.partitionBy("k").orderBy("ccos", "vec_id")
    ranked = (scored.withColumn("r", F.row_number().over(wk))
              .persist(StorageLevel.MEMORY_AND_DISK))
    keepers = (ranked.filter(F.col("r") <= EMB_BLOCK_CAP)
               .select("k", F.col("vec_id").alias("keep_id"),
                       F.col("embedding").alias("ke"),
                       F.col("enorm").alias("knorm"),
                       F.col("r").alias("kr")))
    pcos = roundn_col(_dot(F.col("embedding"), F.col("ke"))
                      / (F.col("enorm") * F.col("knorm")))
    dups = (ranked.join(keepers, "k")
            .filter(F.col("kr") < F.col("r"))
            .select("vec_id", "k", "ccos", pcos.alias("pcos"))
            .filter(F.col("pcos") >= SEM_TAU)
            .groupBy("vec_id", "k", "ccos")
            .agg(F.count(F.lit(1)).cast("long").alias("n_better_dups")))
    return dups.orderBy("vec_id")


_SEM_ASSIGN_SQL = """
  SELECT vec_id, embedding, k FROM (
    SELECT e.vec_id, e.embedding, c.k,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {dist}, c.k) AS r
    FROM {emb} e, {cent} c) WHERE r = 1"""


def _sem_oracle() -> str:
    dist = roundn_sql(
        "list_sum(list_transform(range(1, len(e.embedding) + 1), "
        "i -> (e.embedding[i]::DOUBLE - c.centroid[i]) "
        "* (e.embedding[i]::DOUBLE - c.centroid[i])))", 4)
    def cent_of(assign: str) -> str:
        cv = roundn_sql("avg(v::DOUBLE)", 4)
        return f"""
  SELECT k, list_transform(
           list_sort(list({{'pos': pos, 'cv': cv}})), s -> s.cv) AS centroid
  FROM (SELECT k, pos, {cv} AS cv
        FROM (SELECT a.k, u.pos - 1 AS pos, u.v
              FROM {assign} a,
                   LATERAL (SELECT unnest(a.embedding) AS v,
                                   generate_subscripts(a.embedding, 1)
                                     AS pos) u)
        GROUP BY k, pos) GROUP BY k"""
    parts = [f"""
aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {DUP_OFFSET},
         list_transform(list_transform(range(1, len(embedding) + 1),
             i -> CASE WHEN i = 1 THEN embedding[i] + {SEM_EPS}
                       ELSE embedding[i] END), x -> x::FLOAT)
  FROM embeddings WHERE vec_id % {DUP_MOD} = 0),
cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS k,
         list_transform(embedding, x -> x::DOUBLE) AS centroid
  FROM (SELECT vec_id, embedding FROM aug ORDER BY vec_id LIMIT {SEM_K}))"""]
    prev = "cent0"
    for it in range(SEM_ITERS):
        parts.append(f"""
assign{it} AS ({_SEM_ASSIGN_SQL.format(dist=dist, emb='aug',
                                       cent=prev)})""")
        parts.append(f"""
cent{it + 1} AS ({cent_of(f'assign{it}')})""")
        prev = f"cent{it + 1}"
    parts.append(f"""
fin AS ({_SEM_ASSIGN_SQL.format(dist=dist, emb='aug', cent=prev)}),
scored AS (
  SELECT f.vec_id, f.embedding, f.k,
         {_norm_sql('f.embedding')} AS enorm,
         {roundn_sql(_dot_sql('f.embedding', 'c.centroid')
                     + f" / ({_norm_sql('f.embedding')}"
                       " * sqrt(list_sum(list_transform(c.centroid,"
                       " x -> x * x))))")} AS ccos
  FROM fin f JOIN {prev} c USING (k)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY ccos, vec_id) AS r
  FROM scored),
dups AS (
  SELECT b.vec_id, b.k, b.ccos,
         CAST(count(*) AS BIGINT) AS n_better_dups
  FROM ranked b JOIN ranked a ON a.k = b.k AND a.r < b.r
                             AND a.r <= {EMB_BLOCK_CAP}
  WHERE {roundn_sql(_dot_sql('a.embedding', 'b.embedding')
                    + ' / (a.enorm * b.enorm)')} >= {SEM_TAU}
  GROUP BY b.vec_id, b.k, b.ccos)
SELECT vec_id, k, ccos, n_better_dups FROM dups ORDER BY vec_id""")
    return "WITH " + ",".join(parts)


QUERIES = {
    "q_knn_cosine": q_knn_cosine,
    "q_embedding_dedup": q_embedding_dedup,
    "q_embedding_dedup_keep": q_embedding_dedup_keep,
    "q_ann_ivf": q_ann_ivf,
    "q_ann_lsh": q_ann_lsh,
    "q_ann_recall": q_ann_recall,
    "q_semdedup": q_semdedup,
}

_COS = roundn_sql(f"{_dot_sql('qe', 'embedding')} / (qnorm * enorm)")

ORACLES = {
    "q_semdedup": _sem_oracle(),
    "q_knn_cosine": f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe, {_norm_sql('embedding')} AS qnorm
  FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS enorm FROM embeddings),
scored AS (
  SELECT qid, vec_id, {_COS} AS cosine
  FROM q, c WHERE vec_id <> qid),
ranked AS (
  SELECT qid, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {TOP_K}""",

    "q_embedding_dedup": f"""
WITH aug AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + {DUP_OFFSET}, embedding, label
  FROM embeddings WHERE vec_id % {DUP_MOD} = 0),
s AS (SELECT vec_id, label, embedding, {_srp_bucket_sql()} AS bucket,
             {_norm_sql('embedding')} AS nrm FROM aug),
sc AS (
  SELECT vec_id, label, embedding, bucket, nrm FROM (
    SELECT s.*, row_number() OVER (PARTITION BY label, bucket
                                   ORDER BY vec_id) AS r FROM s)
  WHERE r <= {EMB_BLOCK_CAP}),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         {roundn_sql(_dot_sql('a.embedding', 'b.embedding') + ' / (a.nrm * b.nrm)')} AS cosine
  FROM sc a JOIN s b ON a.label = b.label AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id)
SELECT * FROM p WHERE cosine >= 0.95""",

    "q_ann_lsh": f"""
WITH c AS (
  SELECT vec_id, embedding, {_srp_bucket_sql()} AS bucket,
         {_norm_sql('embedding')} AS enorm
  FROM embeddings),
q AS (
  SELECT vec_id AS qid, embedding AS qe, {_srp_bucket_sql()} AS bucket,
         {_norm_sql('embedding')} AS qnorm
  FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT qid, vec_id, c.bucket AS bucket, {_COS} AS cosine
  FROM c JOIN q USING (bucket) WHERE vec_id <> qid),
ranked AS (
  SELECT qid, vec_id, bucket, cosine,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {LSH_TOP_K}""",

    "q_ann_ivf": f"""
WITH dims AS (
  SELECT label, i AS pos, {roundn_sql('avg(embedding[i]::DOUBLE)', 4)} AS cv
  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
  GROUP BY label, i),
cent AS (
  SELECT label, list(cv ORDER BY pos) AS centroid FROM dims GROUP BY label),
centn AS (
  SELECT label, centroid, {_norm_sql('centroid')} AS cnorm FROM cent),
q AS (
  SELECT vec_id AS qid, embedding AS qe, {_norm_sql('embedding')} AS qnorm
  FROM embeddings WHERE vec_id < {N_QUERIES}),
probe AS (
  SELECT qid, qe, qnorm, label,
         row_number() OVER (PARTITION BY qid ORDER BY
           {roundn_sql(_dot_sql('qe', 'centroid') + ' / (qnorm * cnorm)')} DESC,
           label) AS crank
  FROM q, centn),
probed AS (SELECT qid, qe, qnorm, label FROM probe WHERE crank <= {N_PROBE}),
c AS (
  SELECT vec_id, label, embedding, {_norm_sql('embedding')} AS enorm
  FROM embeddings),
scored AS (
  SELECT qid, vec_id, c.label AS label, {_COS} AS cosine
  FROM c JOIN probed USING (label)
  WHERE vec_id <> qid),
ranked AS (
  SELECT qid, vec_id, label, cosine,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {IVF_TOP_K}""",
}


def _ann_recall_oracle() -> str:
    """Compose the three ranked twins; recall@k per (method, query)."""
    return f"""
WITH ex AS (SELECT qid, vec_id FROM ({ORACLES["q_knn_cosine"]}) e
            WHERE e.rank <= {RECALL_K}),
ap AS (
  SELECT 'ivf' AS method, qid, vec_id FROM ({ORACLES["q_ann_ivf"]}) i
  UNION ALL
  SELECT 'lsh', qid, vec_id FROM ({ORACLES["q_ann_lsh"]}) l),
hits AS (
  SELECT ap.method, ap.qid, count(*) AS n_hits
  FROM ap JOIN ex ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
  GROUP BY ap.method, ap.qid),
base AS (
  SELECT m.method, e.vec_id AS qid
  FROM (SELECT 'ivf' AS method UNION ALL SELECT 'lsh') m
  CROSS JOIN (SELECT vec_id FROM embeddings WHERE vec_id < {N_QUERIES}) e)
SELECT base.method, base.qid,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       {roundn_sql(f'coalesce(hits.n_hits, 0) / {float(RECALL_K)}')} AS recall
FROM base LEFT JOIN hits ON base.method = hits.method AND base.qid = hits.qid"""


ORACLES["q_ann_recall"] = _ann_recall_oracle()

ORACLES["q_embedding_dedup_keep"] = f"""
WITH p AS ({ORACLES["q_embedding_dedup"]}),
aug AS (
  SELECT vec_id, label FROM embeddings
  UNION ALL
  SELECT vec_id + {DUP_OFFSET}, label
  FROM embeddings WHERE vec_id % {DUP_MOD} = 0),
ab AS (SELECT vec_a AS vec_id, count(*) AS n FROM p GROUP BY vec_a)
SELECT aug.vec_id, aug.label, CAST(coalesce(ab.n, 0) AS BIGINT) AS n_dups
FROM aug LEFT JOIN ab USING (vec_id)
WHERE aug.vec_id NOT IN (SELECT vec_b FROM p)"""
