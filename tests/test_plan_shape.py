"""Plan-shape assertions: the physical-plan properties that make the
operators survive 100 TB (SURVEY.md §4). Correctness is the oracle's job;
these tests pin HOW each query executes — pushdown reaching the scan,
small sides broadcast, no accidental cartesian products — so a regression
shows up as a failed test, not a 10x bench slowdown.
"""

from __future__ import annotations

import pytest

from elasticsearch_hbase_river_spark.operators.scan import q_incremental_scan
from elasticsearch_hbase_river_spark.operators.rollup import q_enrich_join
from elasticsearch_hbase_river_spark.operators.similarity import (
    q_ann_ivf, q_knn_cosine,
)
from elasticsearch_hbase_river_spark.operators.tpch import q_top_orders
from elasticsearch_hbase_river_spark.operators.dedup import q_near_dedup


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_incremental_scan_pushes_ts_predicate(spark, sf_dir):
    plan = _plan(q_incremental_scan(spark, sf_dir))
    # the watermark predicate must reach the parquet reader on the RAW ts
    # column — not sit above the melt as a ts_ms filter
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts" in plan


def test_enrich_join_broadcasts_dimension(spark, sf_dir):
    plan = _plan(q_enrich_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_orders_broadcasts_customer_filter(spark, sf_dir):
    plan = _plan(q_top_orders(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_knn_broadcasts_query_side_only(spark, sf_dir):
    plan = _plan(q_knn_cosine(spark, sf_dir))
    # the 8-query side is broadcast against the corpus; a shuffled cartesian
    # product here would be catastrophic at scale
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_ivf_broadcasts_centroids_and_probes(spark, sf_dir):
    plan = _plan(q_ann_ivf(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize("name", [
    "q_ngram_jaccard", "q_near_dedup", "q_simhash_dedup",
    "q_winnow_overlap", "q_embedding_dedup", "q_incremental_near_dedup",
])
def test_corpus_self_joins_never_broadcast(spark, sf_dir, name):
    """The dedup-family candidate joins put the CORPUS on both sides;
    they must plan as sort-merge, never broadcast. Unpinned, Catalyst
    broadcasts whichever side its estimate says fits — which held at
    sf0.1, OOM'd a default-memory driver at 10x (round-4 scale stress),
    and would be the wrong plan at any real scale. Regression guard for
    the merge hints on every corpus x corpus equi-join."""
    from elasticsearch_hbase_river_spark.registry import all_queries

    plan = _plan(all_queries()[name](spark, sf_dir))
    assert plan.count("SortMergeJoin") >= 1, name
    assert "BroadcastHashJoin" not in plan, name


def test_near_dedup_joins_on_band_keys(spark, sf_dir):
    """LSH candidate generation must join on (band_idx, band_hash) — an
    equi-join — never an all-pairs comparison."""
    plan = _plan(q_near_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_candidate_pairs_stay_equi_joins(spark, sf_dir):
    """Regression guard for the OR'd-join-condition trap: the near-dup
    candidate pairs must plan as TWO equi-joins (hash/sort-merge) unioned,
    never a nested-loop join — the OR form had no extractable keys and went
    quadratic (hung at sf0.1)."""
    from elasticsearch_hbase_river_spark.operators.dedup import q_ngram_jaccard

    plan = _plan(q_ngram_jaccard(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_cluster_edges_stay_equi_joins(spark, sf_dir):
    from elasticsearch_hbase_river_spark.operators.graph import _near_dup_edges

    plan = _plan(_near_dup_edges(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_order_priority_plans_semi_join(spark, sf_dir):
    """EXISTS must decorrelate to a semi join, not materialize the
    subquery per row."""
    from elasticsearch_hbase_river_spark.operators.tpch import q_order_priority

    plan = _plan(q_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_idle_rich_customers_plans_anti_join(spark, sf_dir):
    from elasticsearch_hbase_river_spark.operators.tpch import q_idle_rich_customers

    plan = _plan(q_idle_rich_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_promo_revenue_broadcasts_part(spark, sf_dir):
    from elasticsearch_hbase_river_spark.operators.tpch import q_promo_revenue

    plan = _plan(q_promo_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan


def test_cooccurrence_broadcasts_vocab(spark, sf_dir):
    """The vocabulary must broadcast into the pair self-join so the
    quadratic term is bounded by V, not corpus size."""
    from elasticsearch_hbase_river_spark.operators.analytics import q_cooccurrence

    plan = _plan(q_cooccurrence(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_flagship_pipeline_single_shuffle(spark, sf_dir):
    """The whole river tick (melt -> assemble -> upsert) must shuffle the
    corpus exactly ONCE: document assembly groups by row_key. Without
    ``id_field`` the doc id is that row key, already unique, so the plan
    holds no upsert window at all; with ``id_field`` the window ranks per
    id. A second Exchange here would double the dominant cost at 100 TB."""
    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.plans.pipeline import (
        flagship, river_tick_plan,
    )
    from elasticsearch_hbase_river_spark.sources.cells import (
        cells_from_events,
    )

    plan = _plan(flagship(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan

    cfg = RiverConfig(table="events", index="river", type_name="doc",
                      column_separator="::", id_field="meta::user_id")
    ranked = _plan(river_tick_plan(cells_from_events(spark, sf_dir), cfg, 0))
    assert "Window" in ranked


def test_topk_queries_avoid_corpus_sized_global_windows(spark, sf_dir):
    """Two-phase top-k invariant: every top-k query must plan the big
    relation through TakeOrderedAndProject (parallel partial top-k), with
    the only single-partition exchange feeding the rank window on the <=k
    survivor rows — i.e. AFTER the TakeOrderedAndProject, never below it."""
    from elasticsearch_hbase_river_spark.operators.text import q_vocab
    from elasticsearch_hbase_river_spark.operators.tpch import (
        q_returned_item_customers,
    )

    for q in (q_top_orders, q_returned_item_customers, q_vocab):
        plan = _plan(q(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, q.__name__
        # the survivor-rank window's SinglePartition exchange must sit above
        # the TakeOrderedAndProject in the plan text (printed top-down)
        if "Exchange SinglePartition" in plan:
            assert (plan.index("Exchange SinglePartition")
                    < plan.index("TakeOrderedAndProject")), q.__name__


def test_top_supplier_has_no_global_window(spark, sf_dir):
    """The rank()==1 scalar-max query must plan as a broadcast max join —
    no single-partition exchange anywhere (its aggregate is 1 row)."""
    from elasticsearch_hbase_river_spark.operators.tpch import q_top_supplier

    plan = _plan(q_top_supplier(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_batch_assign_ranks_per_partition(spark, sf_dir):
    """The bulk batch-id assignment must never row_number the whole corpus
    on one partition: the only SinglePartition exchange allowed is the one
    under the tiny per-partition-counts window."""
    from elasticsearch_hbase_river_spark.operators.sink import q_batch_assign

    plan = _plan(q_batch_assign(spark, sf_dir))
    # the big side ranks within deterministic key blocks, not globally
    assert "row_number" in plan
    assert "windowspecdefinition(blk" in plan


def test_sequence_pack_prefix_sum_is_blocked(spark, sf_dir):
    """The packing prefix sum must never sort the corpus on one partition:
    the big side's window partitions by block; the only global orderBy
    window runs over the tiny per-block totals."""
    from elasticsearch_hbase_river_spark.operators.pretrain import q_sequence_pack

    plan = _plan(q_sequence_pack(spark, sf_dir))
    assert "windowspecdefinition(blk" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_domain_sample_is_broadcast_map_side(spark, sf_dir):
    """The Bernoulli sampler joins the k-row rate relation by broadcast and
    must not shuffle the corpus (no window, no sort over documents)."""
    from elasticsearch_hbase_river_spark.operators.pretrain import q_domain_sample

    plan = _plan(q_domain_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


#: Queries where an Exchange SinglePartition is structurally benign — it
#: funnels a scalar / k-row relation (final 1-row aggregates, per-block
#: count windows), never the corpus. Adding a query here requires the same
#: justification.
_ALLOWED_SINGLE_PARTITION = {
    "q_watermark",            # 1-row global max
    "q_revenue_forecast",     # 1-row forecast aggregate
    "q_top_supplier",         # 1-row broadcast max
    "q_promo_revenue",        # 1-row ratio aggregate
    "q_disjunctive_revenue",  # 1-row sum
    "q_small_quantity_revenue",  # 1-row avg-threshold aggregate
    "q_part_value_concentration",  # 1-row total-value aggregate
    "q_idle_rich_customers",  # 1-row avg-balance aggregate
    "q_unigram_logprob",      # 1-row corpus-token-total
    "q_unigram_logprob_indexed",  # same 1-row totals, from the vocab sidecar
    "q_tfidf",                # 1-row corpus doc-count (replaces driver count())
    "q_bigram_logprob",       # 1-row vocab-size aggregate (same as unigram)
    "q_domain_mix",           # k-domain aggregate + 1-row totals
    "q_domain_sample",        # same rate relation as q_domain_mix
    "q_funnel",               # 3 scalar stage counts
    "q_batch_assign",         # per-block counts window (k rows)
    "q_sequence_pack",        # per-block token totals window (k rows)
    "q_date_histogram",       # 1-row bounds agg + calendar explode
    "q_curation_funnel",      # 1-row four-counter aggregate, unstacked
    "q_pipeline_aggs",        # bucket-series windows over the calendar-
                              # sized hourly relation (corpus pays ONE
                              # partial-agg shuffle below them)
    "q_index_stats",          # 1-row sidecar aggregates (vocab/stats)
    "q_matrix_stats",         # 1-row decimal moment sums (corpus pays one
                              # partial-agg scan; pair matrix expands
                              # map-side from that row)
    "q_t_test",               # 1-row two-population moment sums (same
                              # single-scan shape as q_matrix_stats)
    "q_rank_eval",            # 1-row corpus stats (n_docs/avgdl) broadcast
                              # into per-query scoring — the same funnel
                              # q_bm25 carries under its TakeOrdered
    "q_auto_date_histogram",  # 1-row min/max bounds broadcast into the
                              # bucket expression (same as q_date_histogram)
    "q_filters_agg",          # 1-row conditional aggregate (named buckets
                              # unpivot map-side from that single row)
    "q_global_agg",           # 1-row query+global conditional aggregate
    "q_rate_agg",             # 1-row time-span bounds broadcast into the
                              # per-type relation
    "q_serial_diff",          # window over the hourly BUCKET relation —
                              # bucket-count-sized (thousands of rows at
                              # 100 TB), the corpus only pays the keyed
                              # partial-agg shuffle below it
    "q_esql_geo_multipoly",   # same 1-row global STATS shape as
                              # q_esql_geo_polygon (count + extent over
                              # the map-side ray-cast filter)
    "q_semdedup",             # 1-row cents assembly over the K-row
                              # centroid relation (constant-bounded);
                              # the corpus pays only keyed partial-agg
                              # shuffles and the per-k ranking window
    "q_kmeans",               # same 1-row cents assembly (r12 in-plan
                              # Lloyd — replaces the driver collect the
                              # old form hid these aggregates behind);
                              # K·dim partial rows, constant-bounded
    "q_esql_geo_polygon",     # 1-row global STATS (count + centroid +
                              # extent) merging map-side partials; the
                              # polygon filter and per-user hashing run
                              # below it, partition-parallel
    "q_moving_fn",            # same bucket-relation window shape
    "q_frequent_item_sets",   # 1-row transaction-count aggregate broadcast
                              # into the (bounded) itemset relation
    "q_percolate",            # sid row_number over the stored-query slot
                              # dictionary — constant-bounded (≤ PERC_SLOTS
                              # = 8192 rows) regardless of corpus size
    "q_percolate_indexed",    # same slot-dictionary window
    "q_percolate_k3",         # same slot-dictionary window
    "q_cumulative_cardinality",  # cumulative window over the DAY relation
                              # (calendar-sized); the corpus pays one
                              # keyed first-appearance shuffle below it
    "q_msearch",              # 1-row corpus-count aggregate broadcast
                              # into the idf term (ranking windows
                              # partition by query term)
    "q_variable_width_histogram",  # 1-row exact-quantile boundary agg
                              # broadcast into map-side bucket assignment
    "q_missing_agg",          # 1-row corpus-total aggregate broadcast
                              # into the |fields|-sized exists relation
    "q_sibling_bucket_stats",  # 1-row sibling aggregate over the DAY
                              # bucket relation (corpus pays one keyed
                              # partial-agg shuffle below it)
    "q_normalize_agg",        # 1-row total over the |types| relation
    "q_percentiles_bucket",   # 1-row sibling percentile aggregate over
                              # the DAY bucket relation (corpus pays one
                              # keyed partial-agg shuffle below it)
    "q_moving_percentiles",   # window over the DAY bucket relation —
                              # calendar-sized, same shape as
                              # q_serial_diff / q_moving_fn
    "q_perplexity_filter",    # 1-row tercile-cut aggregate over the
                              # per-doc score relation, broadcast back
                              # for bucket assignment
    "q_bucket_ks_test",       # ECDF window + 1-row max over the BOUNDED
                              # bin relation (≤ KS_BINS rows at any
                              # corpus size)
    "q_bucket_correlation",   # 1-row moment aggregate over the DAY
                              # bucket relation
    "q_esql_sample",          # global STATS (no BY): map-side partial
                              # agg then a 1-row final — scalar funnel
    "q_esql_mv_numeric",      # same: corpus-wide scalar STATS
}


def test_no_query_plans_a_cartesian_or_corpus_global_exchange(spark, sf_dir):
    """Global plan invariant over EVERY registered query: no
    CartesianProduct anywhere, and Exchange SinglePartition only in the
    allow-listed queries whose funneled relation is scalar/k-row."""
    from elasticsearch_hbase_river_spark.registry import all_queries

    violations = []
    for name, fn in sorted(all_queries().items()):
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if ("Exchange SinglePartition" in plan
                and name not in _ALLOWED_SINGLE_PARTITION
                and "TakeOrderedAndProject" not in plan):
            violations.append(f"{name}: unexpected Exchange SinglePartition")
    assert not violations, violations


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q_incremental_scan projects 3 source columns; the parquet ReadSchema
    must not include the unreferenced ones (value/props stay pruned when
    untouched)."""
    df = q_incremental_scan(spark, sf_dir).select("row_key", "ts_ms")
    plan = _plan(df)
    start = plan.index("ReadSchema")
    read_schema = plan[start:start + 200]
    assert "event_id" in read_schema and "ts" in read_schema


def test_bm25_is_two_phase_topk_with_broadcast_stats(spark, sf_dir):
    """BM25 must (a) keep corpus stats/df on broadcast sides, (b) run the
    ranking as TakeOrderedAndProject with the survivor-rank window above
    it — a per-query corpus-wide global sort would be the scale-killer.

    r12 join-free shape: df/N/avgdl all ride ONE broadcast 1-row stats
    relation (per-doc tf is an in-row array count — no postings explode,
    no corpus-sized dl join), so the plan must show the stats broadcast
    and NO join against a corpus-sized side at all."""
    from elasticsearch_hbase_river_spark.operators.search import q_bm25

    plan = _plan(q_bm25(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan          # the 1-row stats side
    assert "SortMergeJoin" not in plan          # nothing corpus-sized joins
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only SinglePartition exchanges permitted are the 1-row corpus
    # stats aggregate and the survivor-rank window (<=k rows) — i.e. the
    # corpus-sized relations must all stay map-side or hash-partition
    assert plan.count("Exchange SinglePartition") <= 2


def test_phrase_match_is_positional_equi_join(spark, sf_dir):
    """Phrase adjacency must plan as an equi-join on (doc_id, pos) — a
    nested-loop over positions is quadratic in document length."""
    from elasticsearch_hbase_river_spark.operators.search import q_phrase_match

    plan = _plan(q_phrase_match(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_more_like_this_broadcasts_query_vector(spark, sf_dir):
    """The query doc's term vector is the tiny side; candidate generation
    must be a broadcast equi-join on token, touching only docs that share
    a term with the query."""
    from elasticsearch_hbase_river_spark.operators.search import q_more_like_this

    plan = _plan(q_more_like_this(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_search_fuses_two_topk_branches(spark, sf_dir):
    """Both retrieval branches must end in TakeOrderedAndProject (local
    top-k per task, driver merges k·P rows) and the semantic query vector
    must ride a broadcast — a corpus-wide global sort in either branch, or
    a shuffled 1-row query side, would not survive 100 TB."""
    from elasticsearch_hbase_river_spark.operators.retrieval import q_hybrid_search

    plan = _plan(q_hybrid_search(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_winnow_and_highlight_are_shuffle_free(spark, sf_dir):
    """Winnowing fingerprints and highlighting are pure projections: the
    plan must contain NO exchange at all — they pipeline behind the scan."""
    from elasticsearch_hbase_river_spark.operators.retrieval import (
        q_highlight,
        q_winnow_fingerprint,
    )

    for fn in (q_winnow_fingerprint, q_highlight):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{fn.__name__} plans a shuffle"


def test_search_facets_single_melt_pass(spark, sf_dir):
    """Facets must compute all facet fields in ONE pass: a single
    partial-aggregated exchange on (facet, bucket), never one corpus
    groupBy (and scan) per facet field."""
    from elasticsearch_hbase_river_spark.operators.retrieval import q_search_facets

    plan = _plan(q_search_facets(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_indexed_bm25_reads_index_not_corpus(spark, sf_dir):
    """The materialized-index BM25 must contain ZERO postings rebuild: no
    Generate (posexplode) anywhere in the plan — every input is an index
    table read, with the term filter pruning postings buckets at the
    partition level, and the ranking stays a two-phase top-k."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        q_bm25_indexed,
    )

    plan = _plan(q_bm25_indexed(spark, sf_dir))
    assert "Generate" not in plan, "indexed BM25 re-derived postings"
    assert "PartitionFilters" in plan and "tbucket" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_esql_indexed_bm25_composes_pruned_index_read(spark, sf_dir):
    """ES|QL over the index layer: the compiled plan must show the SAME
    pruned postings read as the hand-written indexed BM25 (partition
    filter on tbucket, no Generate rebuild), with the hit list — not the
    corpus — on the broadcast side of the snippet join."""
    from elasticsearch_hbase_river_spark.operators.esql_pack import (
        q_esql_indexed_bm25,
    )

    plan = _plan(q_esql_indexed_bm25(spark, sf_dir))
    assert "PartitionFilters" in plan and "tbucket" in plan
    assert "Generate" not in plan, "ES|QL indexed BM25 re-derived postings"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_indexed_suggest_is_vocab_only(spark, sf_dir):
    """The completion suggester over the materialized index must touch ONE
    relation: the vocab table (prefix filter + local top-k). No postings,
    no corpus, no rebuild."""
    from elasticsearch_hbase_river_spark.operators.indexed_search import (
        q_suggest_indexed,
    )

    plan = _plan(q_suggest_indexed(spark, sf_dir))
    assert "Generate" not in plan
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan


def test_wildcard_expansion_broadcasts_into_postings(spark, sf_dir):
    """Wildcard queries rewrite against the term dictionary: the matched
    vocab must BROADCAST into the postings equi-join — the corpus-sized
    relation is only ever hash-joined, never nested-looped or windowed."""
    from elasticsearch_hbase_river_spark.operators.esagg import q_wildcard_search

    plan = _plan(q_wildcard_search(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_dis_max_is_two_phase_topk(spark, sf_dir):
    """dis_max ranks via TakeOrderedAndProject with the rank window only
    over the <=k survivors; the per-term scoring joins broadcast their
    df/corpus-stats sides like q_bm25."""
    from elasticsearch_hbase_river_spark.operators.esagg import q_dis_max

    plan = _plan(q_dis_max(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # permitted SinglePartition exchanges: the 1-row corpus-stats aggregate
    # and the survivor-rank window (<=k rows) — same budget as q_bm25
    assert plan.count("Exchange SinglePartition") <= 2


def test_percentile_ranks_single_pass(spark, sf_dir):
    """All cuts aggregate in ONE partial-agg shuffle (the constant-array
    explode is map-side): exactly one exchange, keyed on the group, and
    partial_avg must appear below it."""
    from elasticsearch_hbase_river_spark.operators.esagg import q_percentile_ranks

    plan = _plan(q_percentile_ranks(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_avg" in plan or "partial_average" in plan


def test_ann_indexed_prunes_to_probed_cells(spark, sf_dir):
    """The materialized-vector-index query must read ONLY the probed cell
    partitions: the cells scan carries a PartitionFilters entry on the
    literal probe set, the probe relation broadcasts, and nothing plans a
    cartesian product."""
    from elasticsearch_hbase_river_spark.operators.vector_index import (
        q_ann_ivf_indexed,
    )

    plan = _plan(q_ann_ivf_indexed(spark, sf_dir))
    assert "PartitionFilters: [cell" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_indexed_reads_both_indexes_pruned(spark, sf_dir):
    """The fully-indexed hybrid must read the postings index pruned to the
    query terms' buckets AND the vector index pruned to the probed cells —
    no corpus scan, no postings rebuild (Generate), no cartesian."""
    from elasticsearch_hbase_river_spark.operators.vector_index import (
        q_hybrid_search_indexed,
    )

    plan = _plan(q_hybrid_search_indexed(spark, sf_dir))
    assert "PartitionFilters: [cell" in plan
    assert "PartitionFilters: [tbucket" in plan or "tbucket#" in plan
    assert "CartesianProduct" not in plan


def test_esql_ts_stats_is_two_partial_aggs_plus_series_window(spark, sf_dir):
    """TS STATS must plan as: one window (RATE deltas, partitioned by the
    SERIES key so no partition exceeds one series' bucket) below two
    partial-aggregable groupBys — never a join, never a cartesian."""
    from elasticsearch_hbase_river_spark.operators.esql_pack import QUERIES

    plan = _plan(QUERIES["q_esql_ts_gauge"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final
    assert "CartesianProduct" not in plan and "Join" not in plan

    plan_rate = _plan(QUERIES["q_esql_ts_rate"](spark, sf_dir))
    assert "Window" in plan_rate
    # the delta window is keyed by (series dims, bucket) — host must be
    # in the partition spec, so scale-out never widens a partition past
    # one series' bucket
    assert "windowspecdefinition(host" in plan_rate.lower()


def test_esql_fuse_ranks_within_branch_no_cartesian(spark, sf_dir):
    from elasticsearch_hbase_river_spark.operators.esql_pack import QUERIES

    plan = _plan(QUERIES["q_esql_fuse_hybrid"](spark, sf_dir))
    assert "windowspecdefinition(_fork" in plan.lower()
    assert "CartesianProduct" not in plan


def test_esql_enrich_range_broadcasts_interval_dimension(spark, sf_dir):
    """The range policy join must be a BROADCAST nested-loop over the
    4-row tier dimension — a plain NestedLoop/Cartesian over the fact
    side would be the 100 TB killer."""
    from elasticsearch_hbase_river_spark.operators.esql_pack import QUERIES

    plan = _plan(QUERIES["q_esql_enrich_range"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_dedup_no_global_sort_no_pairs(spark, sf_dir):
    """The exact-substring dedup must NEVER materialize a global suffix
    sort or an all-pairs comparison: windows shuffle hash-partitioned on
    the span, the island window partitions by doc_id, and the only
    single-partition stage permitted is the final presentation ORDER BY
    (rangepartitioning, not a SinglePartition exchange)."""
    from elasticsearch_hbase_river_spark.operators.dedup import (
        q_substring_dedup,
    )

    plan = _plan(q_substring_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    # the duplicated-span window partitions on (xxhash64(span), span):
    # 8-byte-first sort comparisons; the doc-side island window is
    # hash-partitioned too
    assert "hashpartitioning(span_h" in plan
    assert "hashpartitioning(doc_id" in plan
    # the O(M)-state doc-set window must never come back: the dup test
    # is min/max over the span window, not collect_set
    assert "collect_set" not in plan


def test_substring_dedup_finds_shifted_boilerplate(spark, sf_dir):
    """A >=SUB_L-token span embedded at a DIFFERENT offset inside fresh
    text must be detected (the case passage/line dedup misses), and the
    reconstructed maximal run must be exactly the embedded span."""
    from elasticsearch_hbase_river_spark.operators.dedup import (
        COPY_OFFSET,
        SUB_MID_LEN,
        q_substring_dedup,
    )

    rows = {r.doc_id: r for r in q_substring_dedup(spark, sf_dir).collect()}
    # doc 0 and its shifted copy both carry the 20-token embedded span
    assert 0 in rows and COPY_OFFSET in rows
    assert rows[0].max_run_tokens >= SUB_MID_LEN
    assert rows[COPY_OFFSET].max_run_tokens >= SUB_MID_LEN
    assert rows[COPY_OFFSET].dup_windows >= SUB_MID_LEN - 15 + 1


def test_semdedup_blocks_pairs_inside_clusters(spark, sf_dir):
    """SemDeDup's pairwise stage must never cross clusters: the only
    nested-loop join allowed is the K-row centroid broadcast (assignment
    is a map-side argmin); the pair join is an equi-join on the cluster
    id, capped per cluster."""
    from elasticsearch_hbase_river_spark.operators.similarity import (
        q_semdedup,
    )

    plan = _plan(q_semdedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the K-row centroid joins ARE BroadcastNestedLoopJoins by design;
    # the corpus-side pair join must be an equi-join (hash or sort-merge)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_incremental_substring_dedup_single_span_shuffle(spark, sf_dir):
    """The ingest-gate substring dedup joins incoming windows against the
    history's span set on ONE hash key — no pair explosion, no global
    sort, no single-partition stage before the presentation ORDER BY."""
    from elasticsearch_hbase_river_spark.operators.dedup import (
        q_incremental_substring_dedup,
    )

    plan = _plan(q_incremental_substring_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(span_h" in plan


def test_dedup_clusters_edge_free_docs_are_singletons(spark, sf_dir):
    """The CC loop propagates on the edge-induced subgraph only (r11);
    docs with no near-dup edge must still come out as their own singleton
    component — the labels the full-corpus loop converged to for them."""
    from elasticsearch_hbase_river_spark.operators.dedup import _augmented_docs
    from elasticsearch_hbase_river_spark.operators.graph import (
        _near_dup_edges,
        q_dedup_clusters,
    )

    res = q_dedup_clusters(spark, sf_dir).collect()
    edges = _near_dup_edges(spark, sf_dir).collect()
    touched = {r.src for r in edges} | {r.dst for r in edges}
    n_docs = _augmented_docs(spark, sf_dir, exact=False).count()
    assert len(res) == n_docs
    assert any(r.doc_id not in touched for r in res)  # fixture has singletons
    for r in res:
        if r.doc_id not in touched:
            assert r.cluster_id == r.doc_id
            assert r.cluster_size == 1
            assert r.is_keeper
