"""Physical-plan shape guards — the 100 TB story is only real if the
plans show pushdown, pruning, and broadcast where designed (SURVEY §4).
"""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from yandex_tracker_exporter_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark):
    df = entry_mod.queries()["point_lookup"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan_schema(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unused column not read


def test_watermark_predicate_pushdown(spark):
    df = entry_mod.queries()["incremental_watermark"](spark, SF_DIR)
    # event_type filter must reach the scan (ts is converted from ns so
    # its predicate stays post-scan, but the queue-style filter pushes)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:300]


def test_dim_joins_are_broadcast(spark):
    df = entry_mod.queries()["region_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_top_customers_uses_top_k_sort(spark):
    df = entry_mod.queries()["top_customers"](spark, SF_DIR)
    plan = _plan(df)
    # limit+orderBy must plan as TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_aggregates_are_partial(spark):
    df = entry_mod.queries()["pricing_summary"](spark, SF_DIR)
    plan = _plan(df)
    # map-side combine: two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_in_hot_path(spark):
    df = entry_mod.queries()["pricing_summary"](spark, SF_DIR)
    df.collect()  # AQE final plan (with codegen annotations) needs execution
    plan = _plan(df)
    # codegen spans appear as "*(n)" stage markers in the final plan;
    # both aggregate levels must sit inside codegen stages
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


def test_sessionize_single_shuffle(spark):
    # the window and the groupBy share the entity key → exactly one
    # shuffle (plus the AQE read); a second exchange would double-shuffle
    df = entry_mod.queries()["cycle_time_sessionize"](spark, SF_DIR)
    plan = _plan(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}"


def test_text_pipeline_queries_are_map_only(spark):
    """chunk_documents / pii_redact / display_timezone must stay
    shuffle-free: map-only transforms (the explode is not an Exchange)
    so at 100 TB they are pure scan-bound passes."""
    for name in ("chunk_documents", "pii_redact", "display_timezone"):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert "Exchange hashpartitioning" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_repetition_and_sampling_are_map_only(spark):
    """repetition_signals / hash_sample must stay pure map passes — no
    hash shuffle, no Python eval — so at 100 TB they are scan-bound."""
    for name in ("repetition_signals", "hash_sample", "stratified_sample"):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert "Exchange hashpartitioning" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_tfidf_join_is_broadcast(spark):
    """The document-frequency table is vocabulary-sized: it must
    broadcast back onto the doc×term side, never sort-merge the
    corpus. And because doc×term counts are run-length encoded
    map-side, the ONLY hash exchanges are over the aggregated doc×term
    relation (term DF agg + per-doc window) — a naive explode→groupBy
    would add a corpus-scale token-row shuffle as a third."""
    df = entry_mod.queries()["tfidf_top_terms"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_global_rank_avoids_single_partition_sort(spark):
    """Distributed row numbering: the corpus-side window partitions by
    the range bucket; the only single-partition exchange allowed is the
    prefix-sum over the TINY per-bucket counts table. The offsets come
    back via broadcast."""
    df = entry_mod.queries()["global_rank"](spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange hashpartitioning(_grn_bucket" in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "BroadcastHashJoin" in plan


def test_running_total_single_shuffle(spark):
    """The rows-frame window needs exactly one shuffle on the
    partition key."""
    df = entry_mod.queries()["running_total"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_histogram_quantiles_partial_agg_then_tiny_window(spark):
    """The sketch path: one partial-aggregable corpus shuffle on
    (group, bucket); everything after runs on the groups-by-buckets
    relation. Two hash exchanges total, map-side combine on the first."""
    df = entry_mod.queries()["histogram_quantiles"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") >= 2


def test_window_funnel_single_shuffle(spark):
    """The funnel folds each user's sorted chain with O(1) accumulator
    state after ONE groupBy shuffle — no per-step joins, no Python."""
    df = entry_mod.queries()["window_funnel"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cohort_retention_two_aggregation_shuffles(spark):
    """Retention: the per-user groupBy (min + collect_set, partially
    aggregable) is the only corpus-scale exchange; the cohort/offset
    count runs on the per-user relation. Two hash exchanges, no
    Python."""
    df = entry_mod.queries()["cohort_retention"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


#: Queries whose plans legitimately contain a BroadcastNestedLoopJoin —
#: each is a broadcast of a TINY build side, never a corpus expansion:
#: - cosine_topk: the labeled exact brute-force baseline (all-pairs by
#:   design; the scale paths are lsh_bucket_topk / ivf_topk)
#: - ivf_topk: attaches the broadcast single-row centroid-array relation
#:   to scan rows (the map-only cluster assignment — corpus never
#:   shuffles, asserted by tests/test_similarity.py)
#: - gap_fill_hourly: the generated dense grid (span-hours × type dim,
#:   both tiny) cross-joined before broadcasting onto aggregated facts
#: - knn_classify: scores against the broadcast 20-row query set (the
#:   labeled exact-kNN baseline, same shape as cosine_topk; the scale
#:   path for classification is the same LSH/IVF bucketing)
#: - bigram_lm / bm25_rank: attach a broadcast SINGLE-ROW corpus-stats
#:   relation (vocabulary size / N+avgdl+dfs) to every row — the scalar
#:   join, same shape as ivf_topk's centroid row
#: - term_pmi: the single-row corpus count attaches to the ≤ k² pair
#:   rollup (tiny side AND tiny stream), never to the corpus
#: - kmv_intersection: the |groups|² sketch-pair theta join — sketch
#:   rows only (k ints per group), never raw data
_NESTED_LOOP_ALLOWED = {
    "cosine_topk",
    "ivf_topk",
    "gap_fill_hourly",
    "knn_classify",
    "bigram_lm",
    "bm25_rank",
    "term_pmi",
    "kmv_intersection",
    "lm_doc_score",
    "hll_union",
    "knn_confusion",
    "weekly_churn",
    "negative_sampling",
    "skew_report",
    "contingency_chi2",
    "ab_test",
    "cluster_balance",
}


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_no_cartesian_or_nested_loop_anywhere(spark, name):
    """Blanket guard over the whole contract: no query may plan a
    CartesianProduct, and only the labeled brute-force baseline may
    plan a BroadcastNestedLoopJoin. Any new operator that accidentally
    degrades to an all-pairs join fails here before it ships."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, name
    if name not in _NESTED_LOOP_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, name


#: Queries whose plans legitimately funnel through one partition —
#: both over aggregated, driver-small relations:
#: - incremental_watermark: the final merge of a global max() (partials
#:   combine map-side; the single partition sees one row per task)
#: - global_rank: the prefix sum over per-bucket COUNTS (#buckets rows)
#: - moving_avg_daily: the sliding window runs over the DAILY aggregate,
#:   whose cardinality is calendar-bounded (one row per day) at any
#:   corpus scale — the corpus itself takes only the groupBy(day) shuffle
#: - mixture_apportion: the global remainder-rank windows run over the
#:   per-source aggregate (|sources| rows at any corpus scale); the
#:   corpus itself pays only the partial-aggregable groupBy(source)
#:   shuffle, and all the tiny-relation windows share ONE exchange
#: - bigram_lm / bm25_rank: the final merge of the single-row global
#:   stats aggregate (partials combine map-side), as incremental_watermark
#: - term_pmi: same single-row corpus-count merge
#: - source_gini: rank + fold over the |sources|-row aggregate (the
#:   mixture_apportion precedent)
#: - table_profile: the single-row final merge of the one-pass profile
#:   aggregate (the watermark shape); stack() unpivots the one row
#: - pruning_simulation: 4 = two orderings × (global_row_number's tiny
#:   prefix-sum + the single-row file-stats merge) — all driver-small
_SINGLE_PARTITION_ALLOWED = {
    "incremental_watermark": 1,
    "global_rank": 1,
    "moving_avg_daily": 1,
    "mixture_apportion": 1,
    "bigram_lm": 1,
    "bm25_rank": 1,
    # term_pmi: the top-20-terms limit AND the single-row corpus count
    # are both checkpoint-materialized (round-9 barrier — each used to
    # re-run the corpus aggregation per reference), one tiny funnel each
    "term_pmi": 2,
    "source_gini": 1,
    "table_profile": 1,
    "lm_doc_score": 1,
    "funnel_conversion": 1,
    "pruning_simulation": 4,
    "assortativity": 1,
    "conversion_latency": 1,
    "rolling_corr_7d": 1,
    "dataset_card": 1,
    "weekly_churn": 1,
    "negative_sampling": 1,
    "skew_report": 1,
    "contingency_chi2": 1,
    "cluster_balance": 1,
    # ab_test: ONE global conditional aggregate (round 9 — replaced the
    # two-filtered-branch self-join that scanned the corpus twice); the
    # final 4-long single row is the textbook global-agg funnel
    "ab_test": 1,
}


def test_salted_join_plan_replicates_small_side(spark):
    """salted_join's physical shape: the small side is exploded across
    the salt space and the join condition includes the salt column, so
    one hot key's rows spread over num_salts partitions instead of one
    monster task."""
    df = entry_mod.queries()["salted_join_agg"](spark, SF_DIR)
    plan = _plan(df)
    assert "explode" in plan.lower(), "small side not replicated"
    assert "_salt" in plan, "join does not include the salt column"


def test_t_wide_no_exchange_when_splits_suffice(spark, tmp_path):
    """VERDICT r3 #6: the contract's wide loader must be conditional —
    when the scan already yields >= defaultParallelism input splits
    (always true at scale), ensure_parallelism is a no-op and the plan
    carries NO Exchange. Only the single-row-group harness fixtures get
    the re-split."""
    from yandex_tracker_exporter_spark.operators.partitioning import (
        ensure_parallelism,
    )

    many = str(tmp_path / "many_files")
    load_table(spark, SF_DIR, "documents").repartition(8).write.parquet(many)
    wide_scan = spark.read.parquet(many)
    assert wide_scan.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert "Exchange" not in _plan(ensure_parallelism(wide_scan))

    # the harness single-file fixture DOES need the re-split
    narrow_scan = load_table(spark, SF_DIR, "documents")
    assert narrow_scan.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert "Exchange RoundRobinPartitioning" in _plan(ensure_parallelism(narrow_scan))


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_no_accidental_single_partition_funnel(spark, name):
    """Blanket guard: an un-partitioned window or global sort silently
    plans as Exchange SinglePartition — the classic scale killer. Only
    whitelisted tiny-relation funnels may appear."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = _plan(df)
    n = plan.count("Exchange SinglePartition")
    if name in _SINGLE_PARTITION_ALLOWED:
        assert n <= _SINGLE_PARTITION_ALLOWED[name], name
    else:
        assert n == 0, name


def test_shipping_priority_topk_and_broadcast_dim(spark):
    """Q3 shape: top-10 must plan as TakeOrderedAndProject (per-partition
    top-k + merge, never a global sort) and the filtered customer dim
    must broadcast; the whole pipeline stays JVM-side."""
    df = entry_mod.queries()["shipping_priority"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_regression_stats_single_aggregation_exchange(spark):
    """The five moments partial-aggregate map-side: one hash Exchange
    for the segment groupBy, customer broadcast onto orders, no
    Python."""
    df = entry_mod.queries()["regression_stats"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_simhash_hamming_pairs_join_side_pure_jvm(spark):
    """Everything downstream of the signature barrier — band explode,
    band equi-join, xor/bit_count verify, pair distinct — is pure JVM.
    (The 62-bit signature stage itself is the Arrow kernel, computed
    once behind the localCheckpoint that shows as the ExistingRDD
    scan; the tested-equal expression fold is the fallback.)"""
    df = entry_mod.queries()["simhash_hamming_pairs"](spark, SF_DIR)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan  # the signature barrier


def test_kmeans_assignment_plan_by_k(spark):
    """Lloyd assignment picks its physical shape by k: at the contract's
    driver-small k=8 the codegen'd expression fold wins (no Python eval
    at all — A/B-measured faster than the Arrow round-trip), while at
    SemDeDup-scale k the assignment is ONE Arrow kernel stage (the
    interpreted k×dim fold is the NOTES megamorphic-HOF class and its
    per-iteration centroid LITERALS recompile codegen every round).
    Either way: no join, no exchange in the returned plan (iteration
    sums run as separate driver-small jobs). At the test scale the
    contract query takes the round-8 counted-bound driver-local finish
    (plan is a local relation — no Python, no exchange at all), so the
    distributed shapes are probed with local_finish=False."""
    df = entry_mod.queries()["kmeans_clusters"](spark, SF_DIR)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan  # local finish: no shuffle whatsoever

    from yandex_tracker_exporter_spark.operators.clustering import (
        kmeans_quantized,
    )

    emb = entry_mod._t_wide(spark, SF_DIR, "embeddings")
    small_k = kmeans_quantized(emb, k=8, iters=1, local_finish=False)
    plan = _plan(small_k)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan

    big_k = kmeans_quantized(emb, k=32, iters=1, local_finish=False)
    plan = _plan(big_k)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_media_audio_energy_two_arrow_stages(spark):
    """Fixture synthesis + energy framing are exactly two Arrow
    mapInPandas stages — no extra Python round-trips, no shuffle."""
    df = entry_mod.queries()["media_audio_energy"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("MapInPandas") == 2
    assert "Exchange hashpartitioning" not in plan


def test_media_png_histogram_two_arrow_stages(spark):
    """PNG fixture synthesis + histogram extraction are exactly two
    Arrow mapInPandas stages (the audio-energy contract, compressed
    path); the only exchange is the final (channel, bucket) rollup."""
    df = entry_mod.queries()["media_png_histogram"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("MapInPandas") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_dedup_labels_consumers_read_materialized_relation(spark):
    """The materialization contract: dedup_labels' returned plan is a
    scan of the materialized relation (no LSH/CC recompute in the
    plan), and a consumer like component_sizes adds only its own
    bounded rollup exchanges on top of the same scan. At test scale the
    pair graph is driver-small, so the relation is the connected-
    components local finish's Arrow-built local relation: the whole
    returned plan is one LocalTableScan node."""
    labels_plan = _plan(entry_mod.queries()["dedup_labels"](spark, SF_DIR))
    assert labels_plan.startswith("LocalTableScan") and "+-" not in labels_plan
    consumer_plan = _plan(entry_mod.queries()["component_sizes"](spark, SF_DIR))
    assert "LocalTableScan" in consumer_plan
    assert "MapInPandas" not in consumer_plan and "SortMergeJoin" not in consumer_plan


def test_streaming_upsert_state_reads_back_batch_plan(spark):
    """The streaming query's RETURNED relation is the MATERIALIZED final
    state (eager checkpoint of the tiny per-event_type rollup): the
    stream + latest-wins window + rollup already ran inside the query,
    and the workdir was deleted — so the returned plan must be a pure
    local-relation scan with no Python stage, no exchange, and no file
    dependency a later invocation could wipe (driver ADVICE r5). The
    upsert pipeline's own plan/behavior is covered by
    test_micro_batch_upsert_availablenow and
    test_streaming_upsert_state_batch_order_independent."""
    df = entry_mod.queries()["streaming_upsert_state"](spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # no lazy file read survives
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 0


def test_dup_window_ratio_hash_keys_only(spark):
    """Sub-document dedup: windows must travel as md5 keys (explode →
    window-hash count → hash join back → doc aggregate — exactly three
    hash exchanges), pure JVM end to end."""
    df = entry_mod.queries()["dup_window_ratio"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 3
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cms_heavy_hitters_topk_never_global_sorts(spark):
    """The exact top-20 plans as TakeOrderedAndProject (per-partition
    top-k + merge) and the sketch probe joins stay broadcast — no
    global sort, no Python, no cartesian anywhere in the plan."""
    df = entry_mod.queries()["cms_heavy_hitters"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_single_sort_window_shapes(spark):
    """The window-over-one-sort family: each query's frames share one
    partitioning, so the whole pipeline pays exactly ONE hash
    exchange (pareto: two RANGE frames over one sort; ohlc: two
    row_number orders inside one hour partition; transitions: lead +
    rollup onto a bounded key space counts as two)."""
    for name, max_ex in (
        ("pareto_frontier", 1),
        ("ohlc_hourly", 1),
        ("event_transitions", 2),
        ("zscore_outliers", 1),
    ):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") <= max_ex, name
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_zscore_moments_broadcast_back(spark):
    """The per-segment moments (driver-small) broadcast onto the event
    stream — the corpus itself never shuffles for the join."""
    df = entry_mod.queries()["zscore_outliers"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_temporal_windows_share_one_exchange(spark):
    """scd2_intervals and reset_running_total each compose two window
    passes whose second partition key REFINES the first (entity →
    entity+session): the hash distribution already satisfies the
    clustered requirement, so exactly ONE exchange appears."""
    for name in ("scd2_intervals", "reset_running_total"):
        df = entry_mod.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
