"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY §2
(plus the scale-pipeline operators: dedup / similarity / text analysis);
``oracle_sql()`` holds the equivalent DuckDB SQL. Every query is designed
for *bit-identical* results across both engines:

- hashes are md5-derived (same hex in any engine),
- floating-point reductions are left-folds in identical order,
- aggregate sums go through exact DECIMAL and only then to double,
- timestamps are compared as epoch seconds (Spark truncates parquet ns
  to µs; DuckDB keeps ns — raw timestamp equality would be false).
"""

from __future__ import annotations

import itertools
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.functions.datetimes import to_human_time
from yandex_tracker_exporter_spark.functions.text import to_snake_case
from yandex_tracker_exporter_spark.operators.dedup import (
    duplicate_clusters,
    exact_dedup,
    minhash_lsh_duplicates,
    ngram_jaccard_pairs,
    simhash,
)
from yandex_tracker_exporter_spark.operators.funnel import MEASURABLE_MAX
from yandex_tracker_exporter_spark.operators.sessionize import sessionize_events
from yandex_tracker_exporter_spark.operators.similarity import cosine, lsh_bucket_topk
from yandex_tracker_exporter_spark.operators.text_analysis import (
    LANG_MARKERS,
    QUALITY_STOPWORDS,
    detect_language,
    fingerprint,
    quality_score,
    token_counts,
)
from yandex_tracker_exporter_spark.session import refresh, session_memo
from yandex_tracker_exporter_spark.sources.tables import load_table

WATERMARK_TS = "2024-03-01 00:00:00"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + spread across cores: the harness tables are single small
    parquet files (= one input partition), which serializes CPU-heavy
    per-row operators (hashing, shingling, dot products). Conditional —
    a no-op when the scan already yields ≥ defaultParallelism splits, so
    at real scale (file count provides the parallelism for free) these
    plans carry NO extra exchange."""
    df = load_table(spark, sf_dir, name)
    # the split-count probe (a plan→RDD conversion, ~0.1-0.5 s of driver
    # work per fresh DataFrame) is memoized per session: a static file's
    # split count never changes, and a restarted session with different
    # parallelism re-probes instead of reading a stale answer
    wide = session_memo(
        spark,
        ("wide_probe", os.path.abspath(sf_dir), name),
        lambda: df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism,
    )
    if wide:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _epoch(col) -> F.Column:
    """Timestamp → epoch seconds (ns/µs-precision-safe comparison)."""
    return F.unix_timestamp(F.col(col).cast("timestamp")).cast("long")


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------


def q_cycle_time(spark, sf_dir):
    """A1/ST6 flagship: per-(user, event_type) dwell-time sessionization."""
    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = sessionize_events(events, "user_id", "event_type", "ts")
    return out.select(
        F.col("entity").cast("long").alias("user_id"),
        F.col("state_name").alias("event_type"),
        F.col("status_transitions_count").cast("long").alias("transitions"),
        F.col("duration").cast("long").alias("duration_s"),
        F.unix_timestamp("last_seen").cast("long").alias("last_seen_epoch"),
    )


def q_latest_version(spark, sf_dir):
    """O1: latest-version-wins dedup (ReplacingMergeTree+FINAL replacement)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("long"),
            "event_type",
            F.col("event_id").cast("long").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


def q_watermark(spark, sf_dir):
    """F1+A2+F5: incremental predicate + order-independent watermark."""
    events = _t(spark, sf_dir, "events").where(
        (F.col("ts").cast("timestamp") >= F.lit(WATERMARK_TS).cast("timestamp"))
        & F.col("event_type").isin("purchase", "signup")
    )
    return events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(_epoch("ts")).alias("max_ts_epoch"),
    )


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style hash aggregation with exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3): a finite 1e308 price RAISES in the ANSI
    # decimal cast — one corrupted reading killed the flagship Q1 job.
    # Identical WHERE in the oracle; no-op on the clean corpus.
    for _m in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        li = li.where(
            F.col(_m).isNotNull() & ~F.isnan(_m) & (F.abs(_m) < F.lit(MEASURABLE_MAX))
        )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (F.lit(1).cast("decimal(3,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + tax)
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("_sq"),
        F.sum(price).alias("_sp"),
        F.sum(disc_price).alias("_sdp"),
        F.sum(charge).alias("_sc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("_sp").cast("double") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


def q_region_revenue(spark, sf_dir):
    """§2.5 dimension hydration as broadcast joins: orders→customer→nation→region."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("r_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_top_customers(spark, sf_dir):
    """O-S sorts/limits: top-10 customers by revenue, deterministic ties."""
    orders = _t(spark, sf_dir, "orders")
    # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    orders = orders.where(
        F.col("o_totalprice").isNotNull()
        & ~F.isnan("o_totalprice")
        & (F.abs("o_totalprice") < F.lit(MEASURABLE_MAX))
    )
    customer = _t(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey").cast("long"), "c_name", "revenue")
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(10)


def q_point_lookup(spark, sf_dir):
    """S3: single-key pruned read."""
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") == 42)
        .select(
            F.col("o_orderkey").cast("long"),
            F.col("o_custkey").cast("long"),
            "o_orderstatus",
            "o_totalprice",
        )
    )


def q_snake_case(spark, sf_dir):
    """P2 normalization applied table-wide."""
    return (
        _t(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").cast("long"),
            to_snake_case("p_type").alias("p_type_snake"),
            to_snake_case("p_brand").alias("p_brand_snake"),
        )
    )


def q_human_time(spark, sf_dir):
    """P7: human-readable durations from aggregated seconds."""
    events = _t(spark, sf_dir, "events")
    # _measurable guard (junk_check, round 10): a NaN value would
    # poison its type's decimal sum (and DuckDB raises where Spark
    # null-saturates); a NULL value row is a duration-less event.
    # Identical WHERE in the oracle.
    events = events.where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < F.lit(MEASURABLE_MAX))  # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    )
    agg = events.groupBy("event_type").agg(
        F.floor(F.sum(F.col("value").cast("decimal(18,2)"))).cast("long").alias(
            "total_s"
        )
    )
    return agg.select(
        "event_type", "total_s", to_human_time("total_s", 2).alias("human_duration")
    )


def q_business_hours(spark, sf_dir):
    """P6: business-hours clipping of event sessions (pure expression)."""
    from yandex_tracker_exporter_spark.functions.business import business_seconds

    events = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") < 5)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_type").asc())
    sessions = events.select(
        "user_id",
        "event_type",
        F.col("ts").alias("session_start"),
        F.lead("ts").over(w).alias("session_end"),
    ).where(F.col("session_end").isNotNull())
    per_session = sessions.withColumn(
        "bus_s", business_seconds("session_start", "session_end")
    )
    return per_session.groupBy("user_id", "event_type").agg(
        F.sum("bus_s").alias("busdays_duration"),
        F.sum(
            F.unix_timestamp("session_end") - F.unix_timestamp("session_start")
        ).alias("duration"),
    ).select(
        F.col("user_id").cast("long"),
        "event_type",
        F.col("duration").cast("long"),
        F.col("busdays_duration").cast("long"),
    )


def q_json_extract(spark, sf_dir):
    """P9 changelog-value flattening shape: typed extract from JSON props."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_id").cast("long"),
            # try_cast, not cast (junk v2, round 10): a JSON integer
            # beyond int64 ('99999999999999999999') raised ANSI
            # CAST_INVALID_INPUT and killed the query — an unparseable
            # value is junk, not a crash; NULL then fails the filter.
            # The oracle mirrors with TRY_CAST.
            F.expr("try_cast(get_json_object(props, '$.k') AS LONG)").alias(
                "k_value"
            ),
        )
        .where(F.col("k_value") >= 90)
    )


def q_exact_dedup(spark, sf_dir):
    """Exact content dedup: md5 hash-groupBy on documents."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select(
        "content_md5",
        F.col("representative_id").cast("long"),
        F.col("dup_count").cast("long"),
    )


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate candidate pairs.

    REFRESHES the memoized pairs (the q_dedup_labels pattern): its
    measured cost is the honest one-time LSH materialization price
    (signatures + banded join + verify), and the consumers'
    (edit_distance_pairs, dedup_labels) measured costs are steady-state
    reads — together they model the real pipeline's cost split."""
    refresh(spark, ("lsh_pairs", os.path.abspath(sf_dir)))
    return _lsh_pairs(spark, sf_dir).select(
        F.col("a_id").cast("long"), F.col("b_id").cast("long"), "est_jaccard"
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs (shingle-blocked, no cross join)."""
    docs = _t_wide(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.6).select(
        F.col("a_id").cast("long"), F.col("b_id").cast("long"), "jaccard"
    )


def q_simhash(spark, sf_dir):
    """Per-document 32-bit SimHash. NULL-text docs are quarantined
    (junk_check, round 10): the engine's signature of NULL is NULL
    while a SQL empty fold gives 0 — neither is a signature, so the
    row is dropped in both engines (the filtered-before-banding
    posture, applied at the signatures surface too)."""
    docs = _t_wide(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return simhash(docs, "text", "doc_id").select(
        F.col("doc_id").cast("long"), F.col("simhash").cast("long")
    )


def q_lang_id(spark, sf_dir):
    """Heuristic language-ID over marker stopwords."""
    docs = _t_wide(spark, sf_dir, "documents")
    return detect_language(docs, "text", "doc_id").select(
        F.col("doc_id").cast("long"), "detected_lang", F.col("marker_hits").cast("long")
    )


def q_quality(spark, sf_dir):
    """Quality-score features (per-row arithmetic, no float aggs)."""
    docs = _t_wide(spark, sf_dir, "documents")
    return quality_score(docs, "text", "doc_id").select(
        F.col("doc_id").cast("long"),
        F.col("n_chars").cast("long"),
        F.col("n_tokens").cast("long"),
        "avg_token_len",
        "stopword_ratio",
        "quality",
    )


def q_token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counting."""
    docs = _t_wide(spark, sf_dir, "documents")
    return token_counts(docs, "text", "doc_id").select(
        F.col("doc_id").cast("long"),
        F.col("ws_tokens").cast("long"),
        F.col("subword_chunks").cast("long"),
    )


def q_fingerprint(spark, sf_dir):
    """Rolling polynomial document fingerprint. NULL-text docs are
    quarantined (junk_check, round 10; same rationale as
    simhash_signatures — a NULL has no fingerprint)."""
    docs = _t_wide(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return fingerprint(docs, "text", "doc_id").select(
        F.col("doc_id").cast("long"), F.col("fingerprint").cast("long")
    )


def q_cosine_topk(spark, sf_dir):
    """Brute-force exact ANN baseline: top-10 cosine for query ids < 5.

    The dot products are left-fold double reductions so the oracle can
    reproduce them bit-for-bit.
    """
    from yandex_tracker_exporter_spark.operators.similarity import (
        _finite_score,
        _usable_norm,
        dot,
        norm,
    )

    # Junk-proof AND faster than the naive cosine(qv, cv) per pair
    # (junk-smoke, round 9): norms are folded ONCE PER ROW and
    # quarantined by _usable_norm there — a zero/empty vector's 0/0
    # used to raise ANSI DIVIDE_BY_ZERO and kill the whole query, and a
    # non-finite vector's NaN score would outrank every real neighbor.
    # The per-pair score is then one dot fold + a scalar division
    # (was three folds/pair); values are bit-identical — a norm is the
    # same double wherever it is folded.
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_qvec"),
    ).withColumn("_qn", norm("_qvec")).where(_usable_norm(F.col("_qn")))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_cvec"),
    ).withColumn("_cn", norm("_cvec")).where(_usable_norm(F.col("_cn")))
    scored = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        (dot("_qvec", "_cvec") / (F.col("_qn") * F.col("_cn"))).alias("cosine_sim"),
    )
    # The _finite_score belt goes AFTER the rank<=k filter (the
    # placement the library operators use): pre-rank, Catalyst infers a
    # filter on a projected expression into the JOIN CONDITION,
    # duplicating the whole dot fold per pair (seen in the executed
    # plan; the NOTES "deterministic expressions duplicate into
    # inferred filters" lesson). Post-rank it is O(k) rows and catches
    # the one junk shape _usable_norm cannot: a ragged-but-finite-norm
    # vector whose zip_with dot null-pads to a NULL cosine — with fewer
    # than k usable neighbors that NULL row would otherwise enter the
    # top-k. No-op on a clean corpus (zero manifest movers).
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .where(_finite_score(F.col("cosine_sim")))
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


#: Multi-band LSH family for the near-dup query (8 planes × 4 bands:
#: 98.7% recall at cosine ≥ 0.95 on this corpus, candidate volume ~6%
#: of all-pairs; measured 2× faster than 10×8 for ~1% recall loss) and
#: the id offset of the planted perturbed copies.
# 12 planes × 8 bands: vs the round-2 8×4 family, random-pair band
# collisions drop 8× (0.5^12·8 ≈ 0.2% vs 0.5^8·4 ≈ 1.6%) while planted
# near-dups (cos ≥ 0.98, p_plane ≈ 0.936) keep ≥99% recall
# (1-(1-0.936^12)^8). The DuckDB oracle is generated from these same
# constants, so recall changes identically on both engines.
NEARDUP_PLANES = 12
NEARDUP_BANDS = 8
NEARDUP_ID_OFFSET = 100000


def q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs via multi-band sign-LSH (the SemDeDup
    use case: re-encoded/near-identical vectors, cosine ≥ 0.9).

    The synthetic corpus has no natural near-dups (max natural cosine
    ≈ 0.51), so the query plants them deterministically: every vector
    gets a perturbed copy (dim 1 halved — exact in FP, cosine ≥ 0.98
    against its source) at ``vec_id + 100000``, modeling a corpus that
    was partially re-encoded. The operator then finds the pairs with a
    banded bucket equi-join — NO all-pairs/nested-loop join; candidate
    volume is ~5% of all-pairs here and stays sublinear at scale because
    sub-0.7-cosine pairs essentially never share a 10-plane bucket.
    Both the banding and the perturbation are reproduced exactly by the
    DuckDB oracle (deterministic plane family, left-fold dot products).
    """
    from yandex_tracker_exporter_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = _t_wide(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # size guard: element_at(embedding, 1) on an EMPTY junk vector
    # raises INVALID_ARRAY_INDEX under bare-session ANSI and killed the
    # query (junk-smoke, round 9) — a perturbed copy of an unusable
    # vector is meaningless anyway (the operator quarantines the
    # original); size(NULL) is NULL, so one predicate drops both shapes
    perturbed = emb.where(F.size("embedding") >= 1).select(
        (F.col("vec_id") + F.lit(NEARDUP_ID_OFFSET)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") * F.lit(0.5)),
            F.transform(
                F.slice("embedding", 2, 63), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    out = cosine_neardup_pairs(
        base.unionAll(perturbed),
        threshold=0.9,
        num_planes=NEARDUP_PLANES,
        num_bands=NEARDUP_BANDS,
    )
    return out.select(
        F.col("a_id").cast("long"), F.col("b_id").cast("long"), "cosine_sim"
    )


def q_lsh_topk(spark, sf_dir):
    """Approximate ANN: sign-LSH bucketed top-k (the scale path where
    the exact broadcast-cross of cosine_topk stops being viable).

    Deterministic plane family → the oracle reproduces buckets exactly.
    """
    emb = _t_wide(spark, sf_dir, "embeddings")
    # query side from the PLAIN scan (r12): deriving it from the _t_wide
    # relation made the 5-row broadcast branch pay the full round-robin
    # exchange first (plan: Exchange(RoundRobin) under BroadcastExchange)
    queries = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5)
    out = lsh_bucket_topk(emb, queries, k=10, num_planes=8, dim=64)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine_sim",
    )


def q_lsh_multiband_topk(spark, sf_dir):
    """Multi-band approximate ANN (the recall-bearing LSH configuration,
    see tests/test_ann_recall.py): candidates share ANY of 4 independent
    8-plane band buckets; corpus stays shuffle-free (band keys join the
    broadcast query bands, candidate ids broadcast back for scoring)."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    # plain-scan query side — same rationale as q_lsh_topk (r12)
    queries = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5)
    out = lsh_bucket_topk(emb, queries, k=10, num_planes=8, dim=64, num_bands=4)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine_sim",
    )


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id (generalizes rollup/cube):
    detail, per-status subtotal, and grand total in one pass — Spark
    expands grouping sets inside a single hash aggregate, no union of
    scans."""
    orders = _t(spark, sf_dir, "orders")
    return (
        _rollup_guard(orders).groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "gid",
            F.col("n_orders").cast("long"),
            "revenue",
        )
    )


def q_ntile_quartiles(spark, sf_dir):
    """ntile window: per-event-type value quartiles (deterministic full
    ordering via the event_id tie-break), re-aggregated to quartile
    boundary stats."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    q = ev.select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
    return (
        q.groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "event_type",
            F.col("quartile").cast("long"),
            F.col("n").cast("long"),
            "min_value",
            "max_value",
        )
    )


def _rollup_guard(orders):
    """Shared junk guard for the rollup/cube/grouping-sets family
    (junk_check, round 10): a NULL grouping key is INDISTINGUISHABLE
    from the subtotal marker in the output rows (only grouping_id
    separates them, and the contract schema doesn't carry it for
    rollup/cube), so one junk NULL-status order silently reads as a
    corrupted subtotal; a NaN price poisons the decimal revenue sum.
    Identical WHERE in the oracles; no-op on the clean corpus."""
    return orders.where(
        F.col("o_orderstatus").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & ~F.isnan("o_totalprice")
        & (F.abs("o_totalprice") < F.lit(MEASURABLE_MAX))  # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    )


#: the oracle-side twin of _rollup_guard
_DD_ROLLUP_GUARD = (
    "o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL "
    "AND o_totalprice IS NOT NULL AND NOT isnan(o_totalprice) "
    "AND abs(o_totalprice) < 1e15"
)


def q_rollup_orders(spark, sf_dir):
    """Rollup aggregation (SURVEY §2.4 capability extension): order counts
    and revenue by (status, priority) with subtotals and grand total."""
    orders = _t(spark, sf_dir, "orders")
    return (
        _rollup_guard(orders).rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_cube_orders(spark, sf_dir):
    """Cube aggregation: all grouping-set combinations of
    (status, priority) in one pass."""
    orders = _t(spark, sf_dir, "orders")
    return _rollup_guard(orders).cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


def q_distinct_agg(spark, sf_dir):
    """Distinct aggregation: customers with orders, per nation."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_supplier_balance(spark, sf_dir):
    """Supplier dimension join + exact decimal aggregation."""
    supplier = _t(spark, sf_dir, "supplier")
    # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    supplier = supplier.where(
        F.col("s_acctbal").isNotNull()
        & ~F.isnan("s_acctbal")
        & (F.abs("s_acctbal") < F.lit(MEASURABLE_MAX))
    )
    nation = _t(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


def q_range_join(spark, sf_dir):
    """Bucketized interval join (no equi key): events falling inside
    synthetic 100-minute maintenance windows that start every 7 hours —
    deliberately unaligned so the bucket trick is actually exercised."""
    from yandex_tracker_exporter_spark.operators.rangejoin import interval_join

    events = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    windows = spark.range(0, 200).select(
        F.col("id").alias("window_idx"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.col("id") * F.expr("interval 7 hours")).alias("win_start"),
    ).withColumn("win_end", F.col("win_start") + F.expr("interval 100 minutes"))

    joined = interval_join(
        events, windows, "ts", "win_start", "win_end", bucket_width_s=3600
    )
    return joined.select(
        F.col("event_id").cast("long"),
        F.col("window_idx").cast("long"),
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
    )


def q_corpus_clean(spark, sf_dir):
    """Composite training-data cleaning pipeline in one plan: quality
    gate → exact dedup (keep lowest id per md5) → normalized output.
    Map-only except the single dedup shuffle."""
    docs = _t_wide(spark, sf_dir, "documents")
    scored = quality_score(docs, "text", "doc_id").join(
        docs.select("doc_id", "text", "lang"), "doc_id"
    )
    gated = scored.where(
        (F.col("n_tokens") >= 16) & (F.col("stopword_ratio") <= 0.5)
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    return (
        gated.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("doc_id").cast("long"),
            "lang",
            F.col("n_tokens").cast("long"),
            "quality",
        )
    )


def q_asof_join(spark, sf_dir):
    """As-of join (union+ordered-window, one shuffle): each event sees
    the user's latest order at or before the event time."""
    from yandex_tracker_exporter_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # right side must be unique per (key, ts): collapse same-day orders
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate"))
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            F.max("o_totalprice").alias("last_totalprice"),
        )
    )
    joined = asof_join(
        events,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["last_orderkey", "last_totalprice"],
    )
    return joined.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("long").alias("ts_epoch"),
        F.col("last_orderkey").cast("long"),
        "last_totalprice",
    )


def q_sql_interface(spark, sf_dir):
    """S7: arbitrary SQL text against the engine catalog (registered
    views) — the reference's ClickHouse ``execute`` surface, served by
    Spark SQL instead of an external warehouse."""
    from yandex_tracker_exporter_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n_name,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders_v
        JOIN customer_v ON o_custkey = c_custkey
        JOIN nation_v ON c_nationkey = n_nationkey
        GROUP BY n_name
        HAVING count(*) >= 10
        """
    )


def q_session_window_native(spark, sf_dir):
    """ST6 via Spark's native session_window (30-minute gap): per-user
    session count + event total. Mathematically identical to the
    gaps-and-islands formulation (q_session_gaps) — the oracle IS the
    gaps-and-islands SQL, proving the two operators agree."""
    events = _t(spark, sf_dir, "events")
    per_session = events.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count(F.lit(1)).alias("n"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
    ).select(F.col("user_id").cast("long"), "n_sessions", "n_events")


def q_top_docs_per_lang(spark, sf_dir):
    """Top-k per group: 3 longest documents per language (window rank)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("lang", F.col("doc_id").cast("long"), F.col("n_chars").cast("long"), "rank")
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate ANN: deterministic coarse quantizer (16 lowest-id
    vectors as centroids), nprobe=4 — candidates shrink ~4× vs brute."""
    from yandex_tracker_exporter_spark.operators.similarity import ivf_topk

    emb = _t_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=10, num_centroids=16, nprobe=4)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine_sim",
    )


def q_median_gap(spark, sf_dir):
    """Exact per-user median inter-event gap, pure-JVM plan: lag window
    + built-in exact median aggregate (one shuffle, no Python/Arrow).
    The applyInPandas variant (operators/grouped.exact_median_gap) is
    the documented custom-agg surface and is tested row-equal."""
    from yandex_tracker_exporter_spark.operators.grouped import median_gap_native

    events = _t(spark, sf_dir, "events")
    return median_gap_native(events, "user_id", "ts").select(
        F.col("entity").cast("long").alias("user_id"),
        F.col("n_gaps").cast("long"),
        F.col("median_gap_s").cast("double"),
    )


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (§2.4 capability
    extension): p50/p90/p99 of event value by event_type. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` both implement exact
    linear interpolation — bit-comparable as doubles."""
    events = _t(spark, sf_dir, "events")
    pct = F.percentile(F.col("value").cast("double"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    agg = events.groupBy("event_type").agg(pct.alias("_p"))
    return agg.select(
        "event_type",
        F.element_at("_p", 1).alias("p50"),
        F.element_at("_p", 2).alias("p90"),
        F.element_at("_p", 3).alias("p99"),
    )


def q_anti_join(spark, sf_dir):
    """Anti-join coverage: customers that never placed an order
    (left_anti — map-side filter against a broadcast-able key set)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(
            orders.select("o_custkey"), customer.c_custkey == F.col("o_custkey"), "left_anti"
        )
        .select(F.col("c_custkey").cast("long"), "c_name", F.col("c_nationkey").cast("long"))
    )


def q_bigram_counts(spark, sf_dir):
    """Text n-gram statistics at corpus scale: top whitespace-token
    bigrams (explode + hash agg; the shape of n-gram LM count jobs)."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    exploded = docs.where(F.size(toks) >= 2).select(
        F.explode(bigrams).alias("bigram")
    )
    counts = exploded.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.where(F.col("n") >= 5)
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(50)
    )


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: overlapping 32-token chunks (8-token
    overlap) per document — map-only explode, no shuffle."""
    from yandex_tracker_exporter_spark.operators.text_analysis import chunk_tokens

    docs = _t_wide(spark, sf_dir, "documents")
    out = chunk_tokens(docs, "text", "doc_id", chunk_size=32, overlap=8)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("chunk_idx").cast("long"),
        F.col("n_chunk_tokens").cast("long"),
        "chunk_text",
    )


def q_pii_redact(spark, sf_dir):
    """PII scrub: the corpus has no natural PII, so deterministic
    contact lines (seeded by doc_id) are appended first, then redacted —
    the oracle reproduces both steps and the match counts."""
    from yandex_tracker_exporter_spark.operators.text_analysis import redact_pii

    docs = _t_wide(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-000-"),
            F.col("doc_id").cast("string"),
            F.lit("0000"),
        ).alias("text"),
    )
    out = redact_pii(docs, "text", "doc_id")
    return out.select(
        F.col("doc_id").cast("long"),
        "n_emails",
        "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination: every 20th document plays the held-out
    benchmark; corpus documents sharing ANY 20-gram shingle hash with it
    are dropped (the word-soup corpus shares most 9-grams, so k=20 keeps
    the check discriminating: ~44% contaminated at sf0.01). The
    benchmark hash set is built on the driver; the corpus side is one
    map-only Arrow pass + a broadcast anti join — the corpus never
    shuffles."""
    from yandex_tracker_exporter_spark.operators.decontaminate import decontaminate

    docs = _t_wide(spark, sf_dir, "documents")
    benchmark = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    out = decontaminate(corpus, benchmark, "text", "doc_id", shingle_k=20)
    return out.select(F.col("doc_id").cast("long")).orderBy("doc_id")


def q_pack_token_budget(spark, sf_dir):
    """Sequence packing: documents into 512-token training bins, 8
    deterministic shards (doc_id % 8), streaming first-fit per shard —
    exactly one shuffle (the per-shard window)."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        pack_token_budget,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    out = pack_token_budget(docs, "text", "doc_id", budget=512, num_shards=8)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("shard").cast("long"),
        "bin_idx",
        "n_tokens",
    )


def q_bytes_human(spark, sf_dir):
    """P14 bytes_to_human (reference helpers.py:301-320): greedy binary
    prefix decomposition of synthetic byte sizes derived from order
    totals. Map-only."""
    from yandex_tracker_exporter_spark.functions.datetimes import bytes_to_human

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    size_bytes = F.floor(F.col("o_totalprice") * 17).cast("long")
    return orders.select(
        F.col("o_orderkey").cast("long"),
        size_bytes.alias("size_bytes"),
        bytes_to_human(size_bytes, granularity=2).alias("human_size"),
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher-style within-document repetition metrics (duplicate-token
    and top-unigram/bigram mass) — the boilerplate filter of a training
    pipeline. Map-only array arithmetic, no shuffle."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        repetition_signals,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    return repetition_signals(docs, "text", "doc_id").select(
        F.col("doc_id").cast("long"),
        "n_tokens",
        "n_distinct_tokens",
        "top_token_count",
        "top_bigram_count",
        "dup_token_ratio",
        "top_bigram_ratio",
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic reproducible ~10% sample: portable polynomial hash
    of 'sample:'||doc_id into 100 buckets, keep buckets < 10. The
    100 TB sampling primitive: pure map-side predicate, no RNG state,
    same rows on every engine and rerun."""
    from yandex_tracker_exporter_spark.operators.text_analysis import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", buckets=100, keep=10).select(
        F.col("doc_id").cast("long"), "lang", "sample_bucket"
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Most-distinctive terms per document (integer-ranked TF-IDF core):
    doc×term counts → vocabulary-sized document-frequency table →
    broadcast join back → top-3 window per document. Two
    partial-aggregable shuffles; the corpus side never reshuffles for
    the join."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    # materialize_doc_term: bench-scale opt-in (r13) — the operator's
    # default is the 100 TB streaming shape; here the doc×term barrier
    # measured faster (r12 batch 3: 1.02 vs 1.74 s best).
    return tfidf_top_terms(
        docs, "text", "doc_id", top_k=3, materialize_doc_term=True
    ).select(F.col("doc_id").cast("long"), "term", "tf", "df", "rank")


def q_global_rank(spark, sf_dir):
    """Global row numbering (ORDER BY n_chars, doc_id) without a
    single-partition sort: bucket by floor(n_chars/64), per-bucket
    counts → prefix-sum offsets (tiny table) broadcast back, rank =
    offset + within-bucket row_number. The zipWithIndex equivalent that
    survives 100 TB."""
    from yandex_tracker_exporter_spark.operators.partitioning import (
        global_row_number,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long"), F.col("n_chars").cast("long")
    )
    out = global_row_number(
        docs,
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        F.floor(F.col("n_chars") / F.lit(64)),
    )
    return out.select("doc_id", "n_chars", "global_rank")


#: Mixture rates for the stratified_sample driver query: downsample en,
#: two epochs of de, quarter of zh, everything else untouched.
MIXTURE_RATES = {"en": 0.5, "de": 2.0, "zh": 0.25}
MIXTURE_BUCKETS = 1000


def q_stratified_sample(spark, sf_dir):
    """Deterministic mixture resampling (language rebalancing): rate<1
    drops a salted-hash-selected fraction, rate>1 emits extra epochs.
    Map-only — hash + rate lookup + explode, no shuffle, no RNG."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "lang", MIXTURE_RATES, default_rate=1.0, key_col="doc_id",
        buckets=MIXTURE_BUCKETS,
    )
    return out.select(F.col("doc_id").cast("long"), "lang", "copy_idx")


#: Funnel steps + completion window for the window_funnel driver query.
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_S = 86400


def q_window_funnel(spark, sf_dir):
    """ClickHouse windowFunnel parity: deepest prefix of
    view→click→purchase completed per user with strictly increasing
    timestamps within one day of the first view. One shuffle; the
    per-user chain folds with O(1) accumulator state."""
    from yandex_tracker_exporter_spark.operators.funnel import window_funnel

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = window_funnel(
        events, list(FUNNEL_STEPS), FUNNEL_WINDOW_S, "user_id", "ts", "event_type"
    )
    return out.select(F.col("user_id").cast("long"), "funnel_level")


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle: one corpus shuffle (per-user
    min + collect_set of active weeks in a single partial-aggregable
    groupBy), then explode + count on the per-user relation."""
    from yandex_tracker_exporter_spark.operators.funnel import cohort_retention

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = cohort_retention(events, "user_id", "ts")
    return out.select(
        "cohort_week", "week_offset", F.col("n_users").cast("long")
    )


def q_canonicalize_text(spark, sf_dir):
    """Dedup-grade canonicalization (lowercase + explicit accent fold +
    whitespace collapse) with before/after md5 — map-only. The corpus
    is plain ASCII, so the query plants case/spacing/accent variants
    deterministically (every 3rd doc uppercased, every 5th
    double-spaced, every 7th é-substituted) to exercise each rule."""
    from yandex_tracker_exporter_spark.functions.text import canonicalize_text

    docs = _t(spark, sf_dir, "documents")
    variant = (
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text")))
        .when(
            F.col("doc_id") % 5 == 0,
            F.regexp_replace(F.col("text"), " ", "  "),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.regexp_replace(F.col("text"), "e", "é"),
        )
        .otherwise(F.col("text"))
    )
    base = docs.select(F.col("doc_id").cast("long"), variant.alias("_v"))
    return base.select(
        "doc_id",
        F.md5(F.col("_v")).alias("raw_md5"),
        F.md5(canonicalize_text(F.col("_v"))).alias("canon_md5"),
    )


def q_quantize_embeddings(spark, sf_dir):
    """Int8 embedding quantization (4x storage for a 100 TB vector
    corpus), exploded to (vec_id, dim, q) scalars for the oracle
    compare. Map-only; floor(x*scale+0.5) so rounding is
    engine-universal."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        quantize_embeddings,
    )

    # _t_wide: 64 transform+floor ops per row is enough per-row CPU for
    # the single-file harness scan to serialize (measured 1.6 -> 1.1 s)
    emb = _t_wide(spark, sf_dir, "embeddings")
    # use_kernel=True HERE ONLY (r12): the codes are this query's
    # terminal output, where the Arrow kernel won its paired A/B
    # (0.72 s vs 2.01 s); operator consumers (kmeans/knn/ivf/semdedup)
    # keep the expression twin, which won everywhere downstream.
    out = quantize_embeddings(emb, "embedding", "vec_id", use_kernel=True)
    return out.select(
        F.col("vec_id").cast("long"),
        "scale",
        F.posexplode("qvec").alias("dim", "q"),
    ).select(
        "vec_id", "scale", F.col("dim").cast("long"), F.col("q").cast("long")
    )


def q_gap_fill(spark, sf_dir):
    """Dense hourly (hour, type) counts with zero-filled gaps: the
    grid is GENERATED (sequence over a two-scalar span agg × distinct
    types) and broadcast; the aggregated fact side never reshuffles."""
    from yandex_tracker_exporter_spark.operators.funnel import gap_fill_hourly

    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return gap_fill_hourly(events, "ts", "event_type")


HISTOGRAM_BUCKETS = 1000


def q_histogram_quantiles(spark, sf_dir):
    """Sketch-path percentiles: fixed-state equal-width histogram
    quantiles per event type (vs value_percentiles' exact per-group
    sort, which doesn't survive unbounded groups at 100 TB). The
    [lo, hi] domain comes from a cheap global min/max agg; both engines
    then run identical double arithmetic, so estimates are
    bit-reproducible."""
    from yandex_tracker_exporter_spark.operators.grouped import (
        histogram_quantiles,
    )

    events = _t(spark, sf_dir, "events")
    # NaN is GREATEST in Spark's double ordering: an unguarded max()
    # over a corpus with one NaN measurement returns hi=NaN, and the
    # operator's lo < hi domain check raises — one junk row killed the
    # query. min/max already skip nulls; NaN must be skipped explicitly
    # (the operator itself NaN-filters its counting pass).
    _v = F.col("value").cast("double")
    # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3) on the DOMAIN: one 1e308 reading made hi=1e308
    # and collapsed every real value into bucket 0 — a garbage (but
    # non-crashing) histogram
    lo, hi = (
        events.where(~F.isnan(_v) & (F.abs(_v) < F.lit(MEASURABLE_MAX)))
        .agg(F.min(_v), F.max(_v))
        .collect()[0]
    )
    out = histogram_quantiles(
        events, "value", "event_type", lo=lo, hi=hi,
        quantiles=(0.5, 0.95, 0.99), num_buckets=HISTOGRAM_BUCKETS,
    )
    return out.select("event_type", "n", "p50", "p95", "p99")


def q_running_total(spark, sf_dir):
    """Window-frame coverage: per-customer running order total in date
    order (rows between unbounded preceding and current row), with a
    deterministic tiebreak on o_orderkey."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").cast("long"),
        F.col("o_orderkey").cast("long"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


def q_pivot_orders(spark, sf_dir):
    """Pivot coverage: order counts by priority pivoted on status (fixed
    value list so the output schema is deterministic)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).cast("long").alias("n_f"),
            F.coalesce("O", F.lit(0)).cast("long").alias("n_o"),
            F.coalesce("P", F.lit(0)).cast("long").alias("n_p"),
        )
    )


def q_set_ops(spark, sf_dir):
    """Set-operation coverage: customers that bought in BOTH halves of
    1995 (INTERSECT of projected key sets)."""
    orders = _t(spark, sf_dir, "orders")
    h1 = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    ).select(F.col("o_custkey").cast("long"))
    h2 = orders.where(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").cast("long"))
    return h1.intersect(h2)


def q_display_timezone(spark, sf_dir):
    """P4 second half: UTC storage → configured display timezone at the
    export edge (EngineConfig.timezone, default Europe/Moscow). Wall
    times come from the real tz database on BOTH engines (JVM tzdata in
    Spark, ICU in DuckDB) — not a hardcoded offset. Date rendering is
    ISO (the reference's %Y-%d-%m day/month swap is a recorded bug we
    do not reproduce)."""
    from yandex_tracker_exporter_spark.config import DEFAULT_CONFIG
    from yandex_tracker_exporter_spark.functions.datetimes import (
        format_display_datetime,
    )

    events = _t(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return events.select(
        F.col("event_id").cast("long"),
        format_display_datetime(ts, DEFAULT_CONFIG.timezone).alias("local_dt"),
        format_display_datetime(ts, DEFAULT_CONFIG.timezone, date_only=True).alias(
            "local_date"
        ),
    )


def q_windowed_counts(spark, sf_dir):
    """ST6 windowed aggregation (batch path of the streaming pipeline)."""
    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # rail as when-NULL, not a row filter: the row still COUNTS
            # (n_events is all timed rows) but an unmeasurable value
            # contributes NULL to the sum instead of raising in the
            # ANSI decimal cast. Oracle mirrors with the same CASE.
            F.sum(
                F.when(
                    ~F.isnan("value") & (F.abs("value") < F.lit(MEASURABLE_MAX)),
                    F.col("value"),
                ).cast("decimal(18,2)")
            ).cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).cast("long").alias("window_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def q_session_gaps(spark, sf_dir):
    """Gap-based session counting (30 min inactivity ends a session)."""
    events = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = events.select(
        "user_id",
        "ts",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        (F.sum("new_session") + 1).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(F.col("user_id").cast("long"), "n_sessions", "n_events")


def q_edit_distance_pairs(spark, sf_dir):
    """Candidate verification by exact edit distance: MinHash+LSH
    near-dup candidates scored with builtin Levenshtein (JVM-side DP;
    never run it all-pairs — the LSH stage bounds the candidate set).
    Both engines' builtins agree on ASCII (this corpus; DuckDB's is
    byte-level, Spark's codepoint-level — they diverge on multibyte).
    Scale shape: the tiny pair set broadcasts onto the corpus twice
    (two map-only joins), so the corpus never shuffles."""
    docs = _t_wide(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    ta = docs.select(F.col("doc_id").alias("a_id"), F.col("text").alias("_ta"))
    tb = docs.select(F.col("doc_id").alias("b_id"), F.col("text").alias("_tb"))
    with_a = ta.join(F.broadcast(pairs), "a_id")
    out = tb.join(F.broadcast(with_a), "b_id")
    return out.select(
        F.col("a_id").cast("long"),
        F.col("b_id").cast("long"),
        F.levenshtein("_ta", "_tb").cast("long").alias("edit_distance"),
    )


def q_winnow_span_pairs(spark, sf_dir):
    """Span-level near-dup pairs via winnowing fingerprints (Schleimer
    et al. 2003; operators/dedup.winnow_duplicate_pairs): any shared
    substring of length ≥ k+w-1 = 12 chars is guaranteed to yield a
    shared fingerprint; stop-fingerprints (doc frequency > 10) are
    dropped, which also bounds the self-join fan-out."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        winnow_duplicate_pairs,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    out = winnow_duplicate_pairs(
        docs, "text", "doc_id", shingle_k=9, window=4, max_df=10, min_shared=3
    )
    return out.select(
        F.col("a_id").cast("long"),
        F.col("b_id").cast("long"),
        F.col("shared_fps").cast("long"),
    )


def q_vocab_oov(spark, sf_dir):
    """Vocabulary pruning + OOV scoring (training-data pipeline): build
    the corpus vocabulary as the top-20 words by frequency (count desc,
    word asc — deterministic tie-break), then score every document's
    out-of-vocabulary token count against it. Scale shape: the vocab is
    an aggregated, tiny relation → broadcast back onto the exploded
    corpus; the only corpus shuffle is the per-doc re-aggregation."""
    docs = _t_wide(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(20)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    flagged = words.join(F.broadcast(vocab), "w", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias(
                "oov_tokens"
            ),
        )
        .select(
            F.col("doc_id").cast("long"),
            F.col("n_tokens").cast("long"),
            F.col("oov_tokens").cast("long"),
        )
    )


def q_salted_join_agg(spark, sf_dir):
    """Skew-mitigated dimension join (operators/skew.py): the events fact
    joins a per-type dimension through salted_join — large side salted
    by a deterministic row hash, small side replicated across the salt
    space — then aggregates. Salting is semantics-preserving, so the
    oracle is the plain join + aggregate."""
    from yandex_tracker_exporter_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("long"))
    )
    joined = salted_join(ev, dim, "event_type", num_salts=8)
    return (
        joined.groupBy("event_type", "type_weight")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("event_type", F.col("n_events").cast("long"), "type_weight")
    )


def q_media_decode_features(spark, sf_dir):
    """Multimodal real-decode path, oracle-checked: documents →
    deterministic WAV/PPM payloads (multimodal.media_fixture_from_documents)
    → pure-Python decode (multimodal.decode_media) → header fields +
    content checksums. Encode→decode round-trips the parameters, so the
    DuckDB oracle computes the same features straight from text."""
    from yandex_tracker_exporter_spark.multimodal import (
        decode_media,
        media_fixture_from_documents,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    feats = decode_media(media_fixture_from_documents(docs))
    return feats.select(
        "media_id",
        "format",
        "width",
        "sample_rate",
        "n_elements",
        "duration_ms",
        "content_checksum",
    )


def q_media_metadata_stats(spark, sf_dir):
    """Multimodal metadata-only aggregate (payload column never read):
    media metadata derived deterministically from events, grouped by
    kind with an exact sum-then-divide mean."""
    from yandex_tracker_exporter_spark.multimodal import metadata_stats

    ev = _t(spark, sf_dir, "events")
    # Junk guard (junk_check, round 10): a NULL event_id has no media
    # identity OR kind — and, notably, Spark rewrites element_at over a
    # LITERAL array into a CASE chain whose ELSE branch swallows a NULL
    # index (observed: NULL event_id → kind 'video', not NULL), so the
    # junk row would silently inflate the video group. Identical WHERE
    # in the oracle.
    ev = ev.where(F.col("event_id").isNotNull())
    media = ev.select(
        F.col("event_id").cast("long").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            # pmod, not % (junk v2, round 10): Python fixtures use
            # floor-mod parity, SQL % is trunc — a negative event_id's
            # trunc remainder (-1) indexed element_at at 0 (which the
            # literal-array CASE rewrite silently maps to the LAST
            # element). pmod makes kind/width/duration total and
            # engine-consistent; floor-mod mirrored in the oracle.
            (F.pmod(F.col("event_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        (F.pmod(F.col("user_id"), F.lit(1920)) + 1).cast("int").alias("width"),
        F.pmod(F.col("event_id") * 37, F.lit(600000)).cast("long").alias(
            "duration_ms"
        ),
    )
    return metadata_stats(media).select(
        "kind",
        F.col("n_media").cast("long"),
        "avg_duration_ms",
        F.col("max_width").cast("long"),
    )


def _lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (a_id, b_id, est_jaccard),
    computed once per (session, sf_dir) and eagerly localCheckpointed.
    Three contract queries consume them (q_minhash_pairs,
    q_edit_distance_pairs, _dedup_labels); a real pipeline materializes
    the candidate pairs once and fans out. The refresh/pricing query is
    q_minhash_pairs (the LSH stage's honest one-time cost); the others
    are steady-state reads. A bare session running any single consumer
    still works — a memo miss computes."""
    return session_memo(
        spark,
        ("lsh_pairs", os.path.abspath(sf_dir)),
        lambda: minhash_lsh_duplicates(
            _t_wide(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
        ).localCheckpoint(eager=True),
    )


def _dedup_labels(spark, sf_dir):
    """MinHash+LSH pairs → connected-component labels (id, cluster_id),
    computed once per (session, sf_dir) and materialized (eagerly
    checkpointed, or the driver-side finish's local relation). A real
    curation pipeline computes the duplicate-cluster labels ONCE and
    every downstream consumer (collapse, keep-best, size histogram,
    accounting report) reads the materialized relation; each consumer's
    oracle stays independent. CC's rounds read the memoized pairs'
    resident blocks instead of re-deriving the LSH plan.
    The label is the cluster's minimum doc_id — deterministic regardless
    of join/iteration order, which is what lets a recursive DuckDB CTE
    reproduce the iterative min-label propagation bit-for-bit
    (operators/dedup.py:duplicate_clusters)."""
    return session_memo(
        spark,
        ("dedup_labels", os.path.abspath(sf_dir)),
        lambda: duplicate_clusters(_lsh_pairs(spark, sf_dir), "a_id", "b_id"),
    )


def q_dedup_labels(spark, sf_dir):
    """The shared dedup-labels relation as its own contract query: the
    materialization step every dedup consumer reads. (doc_id,
    cluster_id) for every doc that belongs to a near-dup cluster.

    This query REFRESHES the session memo instead of reading it, so
    its measured cost is the honest one-time materialization price
    (LSH signatures + banded join + CC iteration) and the consumers'
    measured costs are the steady-state reads — together they model
    the real pipeline's cost split."""
    refresh(spark, ("dedup_labels", os.path.abspath(sf_dir)))
    return _dedup_labels(spark, sf_dir).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pipeline closure (SemDeDup collapse step): MinHash+LSH
    pairs → connected-component cluster labels → representative flag.
    Labels come from the shared materialized relation
    (``_dedup_labels``); this query adds the representative flag.
    """
    labels = _dedup_labels(spark, sf_dir)
    return labels.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("id") == F.col("cluster_id")).alias("is_representative"),
    )


def q_simhash_hamming(spark, sf_dir):
    """Near-dup pairs at Hamming <= 3 on the 62-bit (2 x 31-bit salted)
    SimHash — the dedup family's SimHash *pair* step (signatures alone
    don't dedup). 4-band pigeonhole banding: candidates from equi-joins
    only, recall 100% by construction at this radius."""
    from yandex_tracker_exporter_spark.operators.dedup import simhash_hamming_pairs

    docs = _t_wide(spark, sf_dir, "documents")
    return simhash_hamming_pairs(docs, "text", "doc_id", max_hamming=3).select(
        F.col("a_id").cast("long"),
        F.col("b_id").cast("long"),
        F.col("hamming").cast("long"),
    )


def q_knn_classify(spark, sf_dir):
    """kNN label vote: predict each query vector's label from the
    majority label of its 10 nearest cosine neighbors (the labeling /
    weak-supervision use of similarity search). Ties break to the
    smaller label; integer outputs only, so parity is exact.

    _t_wide on the corpus: the broadcast-panel scorer is linear in the
    corpus but every cosine is a 64-element HOF fold — on the harness
    single-file scan that serialized the whole probe on one core
    (measured 1.2 -> 0.5 s; the same finding made the 10x scale check's
    knn run FASTER than sf0.1)."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        _finite_score,
        _usable_norm,
        dot,
        norm,
    )

    # per-row norm + _usable_norm quarantine, per-pair dot + scalar
    # division — the junk-proof-and-no-slower shape q_cosine_topk
    # documents (junk-smoke, round 9)
    emb = _t_wide(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_qvec"),
    ).withColumn("_qn", norm("_qvec")).where(_usable_norm(F.col("_qn")))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_cvec"),
    ).withColumn("_cn", norm("_cvec")).where(_usable_norm(F.col("_cn")))
    scored = corpus.join(
        F.broadcast(queries_df), F.col("query_id") != F.col("neighbor_id")
    ).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("n_label").cast("long"),
        (dot("_qvec", "_cvec") / (F.col("_qn") * F.col("_cn"))).alias("cosine_sim"),
    )
    # _finite_score goes AFTER the rank<=k filter (library placement;
    # see q_cosine_topk): pre-rank it duplicates the dot fold into the
    # inferred join condition, post-rank it is O(k) rows and drops the
    # NULL cosine a ragged-but-finite-norm junk vector produces via
    # zip_with null-padding — without it that row votes with a NULL
    # label when a query has fewer than k usable neighbors. No-op on a
    # clean corpus.
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .where(_finite_score(F.col("cosine_sim")))
    )
    votes = top.groupBy("query_id", "n_label").agg(F.count(F.lit(1)).alias("votes"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("n_label").asc()
    )
    return (
        votes.withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") == 1)
        .select(
            "query_id",
            F.col("n_label").alias("predicted_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


def q_regression_stats(spark, sf_dir):
    """Exact least-squares + Pearson r per market segment (order value
    vs. account balance): all five moments are EXACT int64 sums over
    whole-currency-unit values (int64 → double conversion is correctly
    rounded in every engine — decimal sums are exact too, but DuckDB's
    decimal → double cast double-rounds and drifts a ulp); the
    slope/intercept/corr arithmetic then runs in doubles with an
    operand order written identically in both engines, so the floats
    are bit-identical. The statistics-aggregate shape (corr/regr_*)
    without the engine-specific streaming-moment algorithms that would
    break cross-engine parity."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select(
        "c_mktsegment",
        F.round(F.col("c_acctbal")).cast("long").alias("_x"),
        F.round(F.col("o_totalprice")).cast("long").alias("_y"),
    )
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_orders").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return agg.select(
        "c_mktsegment",
        F.col("n_orders").cast("long").alias("n_orders"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (cov_n / F.sqrt(var_x * var_y)).alias("pearson_r"),
    )


def q_moving_avg_daily(spark, sf_dir):
    """7-day moving average of daily order revenue. The window runs
    over the DAILY aggregate — a relation whose cardinality is bounded
    by the calendar (one row per day, ~2.4k rows per 7 years) at ANY
    corpus scale, so its single-partition global sort is the correct
    plan (same justification as global_rank's prefix-sum funnel); the
    corpus itself only ever takes the one groupBy(day) shuffle."""
    orders = _t(spark, sf_dir, "orders")
    # junk guard (junk_check, round 10): a dateless order cannot land
    # on a day, and a NaN price would poison (or, in the oracle's
    # engine, crash) the daily decimal sum. Identical WHERE in the
    # oracle; no-op on the clean corpus.
    orders = orders.where(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & ~F.isnan("o_totalprice")
        & (F.abs("o_totalprice") < F.lit(MEASURABLE_MAX))  # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    )
    daily = orders.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("day_num")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("day_num").rowsBetween(-6, 0)
    return daily.select(
        F.col("day_num").cast("long"),
        F.col("_rev").cast("double").alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
        (
            F.sum("_rev").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("moving_avg_7d"),
    )


def q_percent_rank(spark, sf_dir):
    """Relative standing of every customer inside their market segment:
    percent_rank + cume_dist on account balance (both are integer-ratio
    doubles — exact cross-engine)."""
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").asc())
    return customer.select(
        F.col("c_custkey").cast("long"),
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: three-way join (broadcast dim, shuffled facts)
    with pre-join filter pushdown on both fact sides; top-10 unshipped
    orders by revenue."""
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    customer = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (
            F.lit(1).cast("decimal(3,2)")
            - F.col("l_discount").cast("decimal(4,2)")
        )
    )
    j = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(rev).cast("double").alias("revenue")
    )
    return (
        agg.select(
            F.col("l_orderkey").cast("long"),
            _epoch("o_orderdate").alias("orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_kmeans_clusters(spark, sf_dir):
    """SemDeDup-style corpus clustering: 3 Lloyd iterations of k=8
    k-means over int8-quantized embeddings. Fully integer arithmetic
    (int L2², floor-division centroids) so the iterative algorithm is
    oracle-checkable bit-for-bit; each iteration is a map-only
    assignment against literal centroids + one k×dim running-sum
    shuffle."""
    from yandex_tracker_exporter_spark.operators.clustering import (
        kmeans_quantized,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, k=8, iters=3).select(
        F.col("vec_id").cast("long"), "cluster", "dist2"
    )


def q_semdedup_prune(spark, sf_dir):
    """Full SemDeDup pass over the planted corpus (every vector plus a
    perturbed copy at id+100000, same planting as embedding_neardup):
    k-means clustering, then within-cluster cosine pruning at 0.9 —
    each planted copy must lose to its smaller-id source. Pairwise work
    is cluster-confined (k grows with the corpus at scale)."""
    from yandex_tracker_exporter_spark.operators.clustering import semdedup_prune

    emb = _t_wide(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # size guard: element_at(embedding, 1) on an EMPTY junk vector
    # raises INVALID_ARRAY_INDEX under bare-session ANSI and killed the
    # query (junk-smoke, round 9) — a perturbed copy of an unusable
    # vector is meaningless anyway (the operator quarantines the
    # original); size(NULL) is NULL, so one predicate drops both shapes
    perturbed = emb.where(F.size("embedding") >= 1).select(
        (F.col("vec_id") + F.lit(NEARDUP_ID_OFFSET)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") * F.lit(0.5)),
            F.transform(
                F.slice("embedding", 2, 63), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    out = semdedup_prune(
        base.unionAll(perturbed), k=8, iters=2, threshold=0.9
    )
    return out.select(F.col("vec_id").cast("long"), "cluster", "is_kept")


def q_top_sources_agg(spark, sf_dir):
    """Ordered array/string aggregation: per language, the top-5
    sources by document count joined into one comma-separated string
    (count desc, source asc). Ordered collect is the one agg whose
    result depends on row order — made deterministic by ranking first,
    then collecting over an ordered window (Spark) / string_agg ORDER
    BY (DuckDB)."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_docs").desc(), F.col("source").asc()
    )
    ranked = counts.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= 5
    )
    wagg = (
        Window.partitionBy("lang")
        .orderBy(F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ranked.withColumn(
            "top_sources", F.concat_ws(",", F.collect_list("source").over(wagg))
        )
        .groupBy("lang", "top_sources")
        .agg(
            F.sum("n_docs").cast("long").alias("top5_docs"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
        )
    )


def q_media_audio_energy(spark, sf_dir):
    """Audio signal processing over real-decoded WAV payloads: 256-
    sample framing + exact integer per-frame energy (Σ sample²). The
    fixture's encode→decode round-trip lets the oracle compute the
    same frames straight from the text codepoints."""
    from yandex_tracker_exporter_spark.multimodal import (
        audio_frame_energy,
        media_fixture_from_documents,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    media = media_fixture_from_documents(docs).where(F.col("kind") == "audio")
    return audio_frame_energy(media, frame_size=256)


def q_dedup_keep_best(spark, sf_dir):
    """Keep-best dedup policy: near-dup clusters (MinHash+LSH →
    connected components) collapse to their highest-quality member
    (ties → smaller doc_id) instead of the smallest id — the dedup
    rule real training-data pipelines use. One cluster_id shuffle
    serves both the ranking and the member count; labels come from the
    shared materialized relation (``_dedup_labels``)."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        quality_score as _qscore,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    labels = _dedup_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    qual = _qscore(docs, "text", "doc_id").select("doc_id", "quality")
    membr = labels.join(qual, "doc_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("cluster_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = membr.select(
        F.col("cluster_id").cast("long"),
        F.col("doc_id").cast("long"),
        "quality",
        F.row_number().over(w_rank).alias("_r"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_members"),
    )
    return ranked.where(F.col("_r") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("best_doc_id"),
        "n_members",
        F.col("quality").alias("best_quality"),
    )


def q_dup_window_ratio(spark, sf_dir):
    """Sub-document dedup signal: per doc, the fraction of its 16-token
    windows that also occur in another document (windows travel as md5
    keys, never text)."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        duplicated_window_ratio,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    # materialize_windows: bench-scale opt-in (r13) — the operator's
    # default is the 100 TB streaming shape (re-tokenize over persist).
    out = duplicated_window_ratio(
        docs, "text", "doc_id", window_tokens=16, materialize_windows=True
    )
    return out.select(
        F.col("doc_id").cast("long"), "n_windows", "n_dup_windows", "dup_ratio"
    )


def q_hll_distinct(spark, sf_dir):
    """Fixed-state distinct-count sketch: 64-register HyperLogLog over
    the portable polynomial hash, pure-integer register math so DuckDB
    reproduces the estimate bit-for-bit. The distinct-count path that
    partial-aggregates map-side and survives unbounded cardinality at
    100 TB (exact distinct shuffles every distinct value; this shuffles
    ≤ 64 rows per group). Exact count joined in for the error column."""
    from yandex_tracker_exporter_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    # r12 optimization (guide §2.4): both the sketch and the exact
    # audit are duplicate-invariant, so they share ONE checkpointed
    # distinct (type, user) relation instead of two corpus scans. HLL
    # registers are max-merges (identical rows can't change a max);
    # count(user_id) over the distinct pairs IS count_distinct over the
    # raw events. Estimates and exact counts bit-identical.
    du = (
        ev.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    )
    est = hll_distinct(du, "user_id", ["event_type"], out_col="est_users")
    exact = du.groupBy("event_type").agg(
        F.count("user_id").alias("exact_users")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "est_users",
        "exact_users",
        F.abs(F.col("est_users") - F.col("exact_users")).alias("abs_err"),
    )


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split by stable key hash (portable
    polynomial, 90/5/5): membership is a pure function of doc_id — no
    RNG state, no drift on incremental refresh, same rows on every
    engine. Map-only assignment + a 3-key partial-aggregable summary."""
    from yandex_tracker_exporter_spark.operators.text_analysis import split_assign

    docs = _t(spark, sf_dir, "documents")
    return (
        split_assign(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


def q_length_buckets(spark, sf_dir):
    """Power-of-two sequence-length bucketing with exact integer
    padding-waste accounting — the batching-efficiency signal for a
    training pipeline. One shuffle on ~10 bucket keys, map-side
    combine collapses each split to one row per bucket first."""
    from yandex_tracker_exporter_spark.operators.text_analysis import length_buckets

    docs = _t(spark, sf_dir, "documents")
    return length_buckets(docs)


def q_label_centroids(spark, sf_dir):
    """Per-label element-wise centroid over int8-quantized codes:
    exact int64 running sums + one integer floor division per
    (label, dim) — bit-identical in any engine, quarter the shuffle
    bytes of float vectors. Class prototypes for drift monitoring /
    nearest-class-mean classification."""
    from yandex_tracker_exporter_spark.operators.clustering import label_centroids

    # _t, not _t_wide: per-row work here is light (one multiply per
    # element), so the fixture repartition costs more than it buys —
    # at real scale the scan's natural splits provide the parallelism
    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb)


def q_triangle_count(spark, sf_dir):
    """Triangle counting on the 1995 part co-purchase graph with the
    degree-ordered orientation (Suri & Vassilvitskii): each triangle is
    counted once at its lowest-(degree, id) vertex, which bounds the
    wedge self-join by the oriented out-degree (~sqrt|E|) instead of
    raw degree — the formulation that survives hub nodes at 100 TB.
    The shipdate filter pushes to the parquet scan."""
    from yandex_tracker_exporter_spark.operators.graph import triangle_count

    out = triangle_count(_copurchase_edges(spark, sf_dir))
    return out.select(F.col("apex").cast("long"), "n_triangles")


def q_pagerank_nations(spark, sf_dir):
    """PageRank over the customer-nation → supplier-nation trade graph,
    8 synchronous iterations in exact fixed-point integer arithmetic
    (scale 10^9, floor division) so the ITERATIVE result is verified
    bit-for-bit by an unrolled-CTE oracle. Dimensions broadcast onto
    the fact join; each iteration moves only the rank vector."""
    from yandex_tracker_exporter_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out = pagerank(edges, weight="w", iterations=8)
    return out.select(F.col("node").cast("long"), "rank_e9")


def q_bloom_join_filter(spark, sf_dir):
    """Explicit Bloom-filter join pruning (the runtime-filter pattern):
    the dimension's k=3 salted hash positions form a tiny broadcast
    set; lineitem survives only if ALL its positions are set — three
    broadcast semi-joins, the corpus never shuffles. True hits vs
    Bloom false positives counted per returnflag against ground truth."""
    from yandex_tracker_exporter_spark.operators.bloom import bloom_semi_join

    part = _t(spark, sf_dir, "part")
    small = part.where(F.col("p_size") == 1).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    passed = bloom_semi_join(li, "l_partkey", small, "p_partkey")
    truth = small.select(F.col("p_partkey").alias("l_partkey")).withColumn(
        "_hit", F.lit(1)
    )
    joined = passed.join(F.broadcast(truth), "l_partkey", "left")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_pass"),
        F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )


def q_minhash_calibration(spark, sf_dir):
    """Sketch-quality audit: MinHash Jaccard estimate vs exact
    shingle-set Jaccard on every LSH candidate pair, in integer
    milli-units (exact `div`, bit-identical on any engine). The
    measurement that justifies trusting the sketch where only the
    candidate set is affordable to verify exactly."""
    from yandex_tracker_exporter_spark.operators.dedup import minhash_calibration

    docs = _t_wide(spark, sf_dir, "documents")
    return minhash_calibration(docs, "text", "doc_id").select(
        F.col("a_id").cast("long"),
        F.col("b_id").cast("long"),
        "est_milli",
        "exact_milli",
        "err_milli",
    )


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters: exact top-20 terms (per-partition
    top-k via TakeOrderedAndProject, never a global sort) probed against
    a 4×512 CMS counter table built over the portable polynomial hash.
    The counter shuffle is CONSTANT-size (≤ 2048 rows per split,
    partial-aggregated map-side) however large the vocabulary — the
    frequency path that survives 100 TB where an exact term table
    shuffles the whole vocabulary. est ≥ exact is structural (collisions
    only add); the overcount column audits the sketch against truth."""
    from yandex_tracker_exporter_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    # ONE corpus shuffle: the exact count relation feeds both the top-k
    # and the sketch build (counters from counts, never per-occurrence —
    # the salted hash fold must run once per distinct term)
    # barrier (r12, guide §2.4): the exact count relation feeds the
    # sketch build AND (via topk) two more consumers — without it the
    # corpus explode+aggregate executed three times (3 FileScans in the
    # before-plan). exact is vocabulary-sized (already the shuffle
    # output). topk itself stays UN-checkpointed: re-deriving 20 rows
    # from the checkpointed vocab relation is cheap, and the visible
    # TakeOrderedAndProject keeps the no-global-sort plan guard honest.
    exact = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    ).localCheckpoint(eager=False)
    topk = exact.orderBy(F.col("exact_cnt").desc(), F.col("term").asc()).limit(20)
    counters = cms_counters(exact, count_col="exact_cnt")
    est = cms_estimate(topk.select("term"), counters)
    return topk.join(F.broadcast(est), "term").select(
        "term",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    )


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    lead() inside the (ts, id)-ordered user window, then a
    partial-aggregable rollup onto ≤ |types|² keys. One user-key
    shuffle — scales with users, not with the matrix. Gap seconds are
    floored epochs summed in int64, bit-exact on any engine."""
    from yandex_tracker_exporter_spark.operators.funnel import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)


def q_ohlc_hourly(spark, sf_dir):
    """Hourly OHLC bars: open/close resolved by two row_number frames
    over ONE hour-partitioned sort (single Exchange), high/low/count by
    plain aggregates. Values pass through with no float arithmetic, and
    the hour key is a floored epoch — the NOTES timestamp rule."""
    from yandex_tracker_exporter_spark.operators.grouped import ohlc_hourly

    ev = _t(spark, sf_dir, "events")
    return ohlc_hourly(ev)


def q_pareto_frontier(spark, sf_dir):
    """Per-language Pareto frontier (skyline) on (n_chars ↓, tokens ↑):
    the densest documents at every length point — what a budgeted
    curation pass keeps. Two RANGE frames over one (lang, cost)-sorted
    window replace the naive O(n²) dominance anti-join: one Exchange,
    one Sort, any group size. Oracle states the NOT-EXISTS dominance
    definition directly, so the window reformulation is proven, not
    assumed."""
    from yandex_tracker_exporter_spark.operators.text_analysis import pareto_frontier

    docs = _t_wide(spark, sf_dir, "documents")
    out = pareto_frontier(docs)
    return out.select("lang", F.col("doc_id").cast("long"), "cost", "gain")


def q_zscore_outliers(spark, sf_dir):
    """Per-segment 2σ outliers with the z-test done entirely in exact
    int64 algebra — (n·x − S)² > 4·(n·Q − S²) — so the boundary
    decision is bit-identical on any engine (the regression_stats
    int64-moments lesson applied to a predicate). One moments shuffle,
    broadcast back onto the stream, map-side filter."""
    from yandex_tracker_exporter_spark.operators.grouped import zscore_outliers

    ev = _t(spark, sf_dir, "events")
    return zscore_outliers(ev)


def q_mixture_apportion(spark, sf_dir):
    """Largest-remainder apportionment of a 1M-token training budget
    across sources: floor quotas + remainder-ranked extras, pure int64
    (`div`, never a rounding float share), Σ alloc = budget exactly.
    The corpus pays one partial-aggregable shuffle down to |sources|
    rows; the global windows after it share a single whitelisted
    SinglePartition exchange over that tiny relation."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        mixture_apportion,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    return mixture_apportion(docs)


def q_cheapest_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part): one window rank over
    the part key — min_by with a declared total tie order (cents,
    suppkey, orderkey, linenumber) — then the part dimension broadcasts
    back. Prices are compared as floored cents, so the winner is decided
    in exact integers, never by a float ulp."""
    # junk guard (junk_check, round 10): Spark's saturating floor()
    # would turn a junk NaN price into 0 cents — and 0 cents WINS the
    # per-part minimum, silently crowning a fabricated supplier. A
    # NULL partkey can never join the dimension. Same WHERE in the
    # oracle; no-op on the clean corpus.
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & ~F.isnan("l_extendedprice")
        & (F.abs("l_extendedprice") < F.lit(MEASURABLE_MAX))
    ).select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("cents").asc(),
        F.col("l_suppkey").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    best = li.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return best.join(
        F.broadcast(part), best.l_partkey == part.p_partkey
    ).select(
        F.col("p_partkey").cast("long"),
        "p_brand",
        F.col("l_suppkey").cast("long").alias("best_suppkey"),
        F.col("cents").alias("best_cents"),
    )


def q_sorted_neighborhood(spark, sf_dir):
    """Blocked sorted-neighborhood dedup — the third candidate family
    next to MinHash-LSH and SimHash: sort inside text-prefix blocks,
    compare ±2 neighbors, verify with exact shingle-STRING Jaccard (a
    hash collision can never corrupt the verdict). One block-window
    shuffle; comparisons are O(n·w) with no banding tables."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        sorted_neighborhood_pairs,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    out = sorted_neighborhood_pairs(docs)
    return out.select(
        F.col("a_id").cast("long"), F.col("b_id").cast("long"), "jac_milli"
    )


def q_bigram_lm(spark, sf_dir):
    """Add-one-smoothed bigram LM in exact milli units — the statistic
    behind perplexity-style quality filters, integerized so both engines
    agree bit-for-bit. Bigram/prefix tables are vocabulary²-bounded;
    the corpus pays map-only explode + partial-aggregable rollups."""
    from yandex_tracker_exporter_spark.operators.text_analysis import bigram_lm

    docs = _t_wide(spark, sf_dir, "documents")
    return bigram_lm(docs)


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (Rabin/FastCDC family): cut where the
    rolling 8-gram hash ≡ 0 mod 64 — boundaries depend only on local
    content, so an early insertion shifts ONE chunk and every later
    chunk still dedups by its hash (why LBFS/restic/borg chunk this
    way). Arrow-kernel rolling/prefix hash (r13, guide §4.2); map-only,
    no shuffle."""
    from yandex_tracker_exporter_spark.operators.dedup import cdc_chunks

    docs = _t_wide(spark, sf_dir, "documents")
    return cdc_chunks(docs).select(
        F.col("doc_id").cast("long"), "chunk_idx", "start", "chunk_len", "chunk_hash"
    )


def q_bm25_rank(spark, sf_dir):
    """BM25 top-10 for a fixed query with the log swapped for its
    rational argument (monotone ⇒ same per-term ordering; ln is the one
    op two libms may disagree on). Corpus stats collapse to one
    broadcast row; top-k is TakeOrderedAndProject, never a global
    sort."""
    from yandex_tracker_exporter_spark.operators.text_analysis import bm25_rank

    docs = _t_wide(spark, sf_dir, "documents")
    return bm25_rank(docs).select(F.col("doc_id").cast("long"), "dl", "score")


def q_prefix_jaccard_join(spark, sf_dir):
    """EXACT thresholded set-similarity self-join via AllPairs prefix
    filtering — every pair with shingle-set Jaccard ≥ 0.7 is found,
    provably (MinHash-LSH is the probabilistic sibling). Rarest-first
    prefixes bound the candidate join to low-frequency keys; all joins
    are equi-joins on shingle/id keys."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        prefix_filter_jaccard_join,
    )

    # one blocking partition (a language), the unit a linkage pass runs
    # per at scale: candidate volume grows ~quadratically with corpus
    # size inside a block, so production runs block first — the filter
    # also pushes to the parquet scan
    docs = _t_wide(spark, sf_dir, "documents").where(F.col("lang") == "de")
    out = prefix_filter_jaccard_join(docs)
    return out.select(
        F.col("a_id").cast("long"), F.col("b_id").cast("long"), "jac_milli"
    )


def q_split_leakage(spark, sf_dir):
    """Cross-split contamination audit at 16-token-window granularity:
    the eval-integrity check a hash-based split cannot provide by
    itself. Windows travel as md5 keys; the split-pair matrix is a
    bounded rollup."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        split_leakage_audit,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    # materialize_per_split: bench-scale opt-in (r13) — the operator's
    # default is the 100 TB streaming shape.
    return split_leakage_audit(docs, materialize_per_split=True)


def q_term_pmi(spark, sf_dir):
    """Document-level co-occurrence PMI for the top-20 terms in exact
    milli-rational units (the log of which IS PMI; log is monotone so
    the ranking is identical and no libm call enters the comparison).
    Pair explode bounded by k(k−1)/2 per doc — never a corpus
    self-join."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        term_cooccurrence_pmi,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    return term_cooccurrence_pmi(docs)


def q_source_gini(spark, sf_dir):
    """Gini coefficient of token supply across sources, exact int64 —
    the one-number mixture-balance check. One corpus shuffle down to
    |sources| rows; rank + fold on the tiny relation."""
    from yandex_tracker_exporter_spark.operators.text_analysis import source_gini

    docs = _t_wide(spark, sf_dir, "documents")
    return source_gini(docs)


def _copurchase_edges(spark, sf_dir):
    """The 1995 part co-purchase graph (shared with triangle_count).

    r12 batch 6: same self-join → collect_list + map-side pair explode
    rewrite as ``_copurchase_pairs`` (one corpus shuffle instead of
    two join branches). Edge MULTISET identical to the old
    ``p1 < p2`` join — per basket the explode emits every ordered
    element pair with y > x by VALUE, reproducing duplicate-part
    multiplicities exactly (graph consumers dedup defensively anyway;
    pinned in tests/test_skew_rails.py::test_copurchase_edges_explode_matches_self_join)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select("l_orderkey", "l_partkey")
    )
    baskets = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.collect_list("l_partkey").alias("_ps")
    )
    pair_sql = (
        "flatten(transform(_ps, x -> "
        "transform(filter(_ps, y -> y > x), "
        "y -> named_struct('src', x, 'dst', y))))"
    )
    return (
        baskets.select(F.explode(F.expr(pair_sql)).alias("_pp"))
        .select(F.col("_pp.src").alias("src"), F.col("_pp.dst").alias("dst"))
    )


def q_kcore(spark, sf_dir):
    """3-core of the part co-purchase graph by synchronous peeling —
    the cohesion filter between raw degree and community detection.

    The CONTRACT is the operator's default TRUE FIXPOINT (cap 64 with
    early exit — promoted in round 7 from the old 8-round unroll, which
    returned a documented superset on the sf0.01/sf0.1 graphs whose
    peeling runs deeper than 8 rounds). The DuckDB oracle replays the
    identical recurrence as a RECURSIVE CTE that peels until a round
    removes no nodes — peeling is monotone shrinking, so count
    stability ⟺ set stability, and the final one-more-peel projection
    handles the empty-core case. Differential-tested against a
    pure-Python brute-force peeler on the co-purchase graph at all
    three scales (test_kcore_contract_is_true_fixpoint). Per round only
    node-sized relations move — the edge list is checkpointed once."""
    from yandex_tracker_exporter_spark.operators.graph import kcore

    out = kcore(_copurchase_edges(spark, sf_dir), k=3)
    return out.select(F.col("node").cast("long"), "core_deg")


def q_scd2_intervals(spark, sf_dir):
    """Kimball SCD2 history built from the raw change stream: one row
    per (entity, value) run with [valid_from, valid_to) validity and an
    is_current flag — lag-compare keeps change points, lead closes the
    intervals, both windows ride ONE entity shuffle."""
    from yandex_tracker_exporter_spark.operators.temporal import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    out = scd2_intervals(ev)
    return out.select(
        F.col("entity").cast("long"),
        "value",
        "valid_from",
        "valid_to",
        "is_current",
    )


def q_table_profile(spark, sf_dir):
    """Per-column null/distinct profile of orders in ONE aggregation
    pass (3 measures × 6 columns, partial-aggregable; stack() unpivots
    the single row) — the data-quality gate before trusting a drop.
    Never one job per column."""
    from yandex_tracker_exporter_spark.operators.profile import profile_table

    orders = _t(spark, sf_dir, "orders")
    return profile_table(
        orders,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    )


def q_reset_running_total(spark, sf_dir):
    """Gaps-and-islands cumulative: per-user running cents that RESET
    after a >1h quiet gap. Both windows (session labeling, cumulative
    sum) ride one entity shuffle — the (entity, session) partition is a
    refinement the hash distribution already satisfies, so the plan
    carries a sort, not a second exchange (plan-asserted)."""
    from yandex_tracker_exporter_spark.operators.temporal import (
        reset_running_total,
    )

    ev = _t(spark, sf_dir, "events")
    return reset_running_total(ev)


def q_trade_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between customer and
    supplier nations by ship year — four broadcast dimension hops onto
    the fact scan, revenue in floored cents so the rollup is exact
    int64, one partial-aggregable shuffle on (nation, nation, year)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("_ck"),
                                      F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("_ck"),
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("_sk"),
                                      F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("_sk"),
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(F.sum(rev_cents).alias("revenue_cents"))


def q_ewma_daily(spark, sf_dir):
    """Per-type EWMA over the daily mean value: the smoothing recursion
    as a LEFT FOLD over the calendar-bounded daily relation, so the
    floats are bit-identical on any engine (the NOTES left-fold rule).
    One corpus shuffle; the fold runs on one row per (type, day)."""
    from yandex_tracker_exporter_spark.operators.funnel import ewma_daily

    return ewma_daily(_t(spark, sf_dir, "events"))


def q_event_pattern(spark, sf_dir):
    """Contiguous view→click→purchase occurrences per user (stricter
    than window_funnel's skip-tolerant semantics): streams compress to
    initial-letter strings via the deterministic sort-inside-aggregate,
    matches count by the replace-length trick — integer end to end,
    one shuffle."""
    from yandex_tracker_exporter_spark.operators.funnel import event_pattern_count

    return event_pattern_count(_t(spark, sf_dir, "events"))


def q_value_histogram(spark, sf_dir):
    """Equi-width value histogram per event type (bin = clamped
    floor(v/5), 20 bins) — the distribution profile for drift
    monitors. One partial-aggregable shuffle on |types|×bins keys."""
    from yandex_tracker_exporter_spark.operators.funnel import value_histogram

    return value_histogram(_t(spark, sf_dir, "events"))


def q_kmv_intersection(spark, sf_dir):
    """KMV (bottom-k / theta) sketch intersections: per-type bottom-64
    user hashes, pairwise distinct-intersection estimates in pure
    integer arithmetic, audited against the exact intersection counts.
    The sketch that gives SET OPERATIONS (HLL cannot), completing the
    sketch family: HLL distinct, CMS frequency, histogram quantiles,
    Bloom membership, KMV intersection."""
    from yandex_tracker_exporter_spark.operators.sketches import (
        kmv_bottom_k,
        kmv_intersection_estimates,
    )

    ev = _t(spark, sf_dir, "events")
    # barriers: the sketch table (types x 64 hashes) feeds BOTH pair
    # sides, and the distinct (type, user) relation feeds both sides
    # of the exact-intersection self-join — each reference used to
    # re-scan and re-aggregate the corpus (4 FileScans)
    du = (
        ev.select(F.col("event_type").alias("grp"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r12 optimization (guide §2.4): the KMV sketch is
    # duplicate-invariant (it hashes then takes DISTINCT bottom-k), so
    # it builds from the same checkpointed distinct relation the exact
    # side already pays for — one corpus scan instead of two. Sketches
    # are bit-identical (oracle-pinned).
    sk = kmv_bottom_k(du, "user_id", "grp").localCheckpoint(eager=False)
    est = kmv_intersection_estimates(sk)
    a = du.select(F.col("grp").alias("grp_a"), "user_id")
    b = du.select(F.col("grp").alias("grp_b"), "user_id")
    exact = (
        a.join(b, "user_id")
        .where(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return est.join(F.broadcast(exact), ["grp_a", "grp_b"]).select(
        "grp_a", "grp_b", "est_union", "est_inter", "exact_inter"
    )


def q_lm_doc_score(spark, sf_dir):
    """Perplexity-style LM quality filter, integerized (CCNet shape):
    the corpus-trained bigram LM broadcasts back onto each document's
    bigrams; the mean smoothed milli-probability is the quality signal
    (the log/perplexity transform is monotone in it). Corpus pays the
    map-only explode + one id-keyed rollup."""
    from yandex_tracker_exporter_spark.operators.text_analysis import lm_doc_score

    docs = _t_wide(spark, sf_dir, "documents")
    # materialize_doc_bigrams: bench-scale opt-in (r13) — the
    # operator's default is the 100 TB streaming shape (re-tokenize
    # over a corpus-sized doc×bigram executor persist).
    return lm_doc_score(docs, materialize_doc_bigrams=True).select(
        F.col("doc_id").cast("long"), "n_bigrams", "mean_p_milli"
    )


def q_top_paths(spark, sf_dir):
    """Path mining: the 10 most frequent 3-step consecutive event
    paths (the Sankey aggregate). One user-keyed window composes the
    path; the rollup is |types|³-bounded; top-k is per-partition
    TakeOrderedAndProject."""
    from yandex_tracker_exporter_spark.operators.funnel import top_paths

    return top_paths(_t(spark, sf_dir, "events"))


def q_funnel_conversion(spark, sf_dir):
    """Step-to-step funnel conversion rates (exact milli) on top of
    window_funnel's per-user levels — cumulative-from-the-top counts
    over the ≤|steps|-row level relation, integer div throughout."""
    from yandex_tracker_exporter_spark.operators.funnel import funnel_conversion

    ev = _t(spark, sf_dir, "events")
    return funnel_conversion(ev, list(FUNNEL_STEPS), FUNNEL_WINDOW_S)


def q_mom_revenue(spark, sf_dir):
    """Month-over-month revenue change per customer nation in exact
    milli (integer div on cents): broadcast dimension hops, one
    partial-aggregable (nation, month) shuffle, then a lag window over
    the calendar-bounded monthly relation."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate"))))
        .cast("long")
        .alias("month_epoch"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "month_epoch")
        .agg(F.sum("_cents").alias("revenue_cents"))
    )
    w = Window.partitionBy("n_name").orderBy("month_epoch")
    return (
        monthly.select(
            "n_name",
            "month_epoch",
            "revenue_cents",
            F.lag("revenue_cents").over(w).alias("_prev"),
        )
        .where(F.col("_prev").isNotNull())
        .selectExpr(
            "n_name",
            "month_epoch",
            "revenue_cents",
            "((revenue_cents - _prev) * 1000) div _prev AS change_milli",
        )
    )


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout keys for the lineitem fact — the
    multi-dimension clustering key behind OPTIMIZE ZORDER BY: rows
    sorted by the interleaved key cluster on part AND supplier at
    once, so file min/max stats prune either predicate. The audit
    aggregates per top-byte bucket: count plus the partkey/suppkey
    RANGES inside the bucket (tight ranges = the pruning actually
    works). Map-only bit expression + one bounded rollup."""
    from yandex_tracker_exporter_spark.operators.partitioning import zorder_key

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    keyed = li.select(
        zorder_key("l_partkey", "l_suppkey").alias("zkey"),
        "l_partkey",
        "l_suppkey",
    )
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 24).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zkey").alias("zkey_min"),
        F.max("zkey").alias("zkey_max"),
        F.min("l_partkey").cast("long").alias("part_min"),
        F.max("l_partkey").cast("long").alias("part_max"),
        F.min("l_suppkey").cast("long").alias("supp_min"),
        F.max("l_suppkey").cast("long").alias("supp_max"),
    )


def q_dedup_pipeline_report(spark, sf_dir):
    """End-to-end dedup accounting — the numbers a curation run reports:
    raw docs, exact-unique texts, near-dup cluster members, clusters.
    (Survivors of a collapse = raw − members + clusters.) All four
    stages land as ONE union-tagged rollup on 4 keys — no chain of
    single-row global aggregates, no SinglePartition funnel. Labels
    come from the shared materialized relation (``_dedup_labels``)."""
    docs = _t_wide(spark, sf_dir, "documents")
    labels = _dedup_labels(spark, sf_dir)
    tagged = (
        docs.select(F.lit("1_raw").alias("stage"), F.col("doc_id").cast("string").alias("_k"))
        .unionByName(
            docs.select(
                F.lit("2_exact_unique").alias("stage"), F.md5("text").alias("_k")
            ).distinct()
        )
        .unionByName(
            labels.select(
                F.lit("3_cluster_members").alias("stage"),
                F.col("id").cast("string").alias("_k"),
            )
        )
        .unionByName(
            labels.select(
                F.lit("4_clusters").alias("stage"),
                F.col("cluster_id").cast("string").alias("_k"),
            ).distinct()
        )
    )
    return tagged.groupBy("stage").agg(F.count(F.lit(1)).alias("n"))


def q_pruning_simulation(spark, sf_dir):
    """File-skipping simulation — the measurement that justifies
    Z-ordering: assign lineitem rows to 4096-row "files" under two
    layouts (natural orderkey order vs Morton key order), keep per-file
    min/max part-key stats, and count how many files a part-key range
    predicate must scan. Global row numbers come from
    ``global_row_number`` (bucket + prefix sum — NEVER an
    un-partitioned window); everything else is bounded rollups.
    Output: ordering, n_files, n_files_scanned, n_rows_matched."""
    from yandex_tracker_exporter_spark.operators.partitioning import (
        global_row_number,
        zorder_key,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    keyed = li.withColumn(
        "zkey", zorder_key("l_partkey", "l_suppkey")
    )
    lo, hi = 100, 120
    rows_per_file = 4096

    def stats(df, order_cols, bucket, ordering):
        ranked = global_row_number(df, order_cols, bucket, out_col="_gr")
        files = ranked.groupBy(
            F.expr(f"(_gr - 1) div {rows_per_file}").alias("_file")
        ).agg(
            F.min("l_partkey").alias("_pmin"),
            F.max("l_partkey").alias("_pmax"),
            F.sum(
                F.when(F.col("l_partkey").between(lo, hi), 1).otherwise(0)
            ).alias("_hits"),
        )
        return files.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(
                F.when(
                    (F.col("_pmin") <= hi) & (F.col("_pmax") >= lo), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_files_scanned"),
            F.sum("_hits").cast("long").alias("n_rows_matched"),
        ).select(F.lit(ordering).alias("ordering"), "*")

    # (orderkey, linenumber) ties are real in the harness data; the
    # part/supp keys complete a total order over every column the file
    # stats read, keeping min/max invariant under residual ties
    natural = stats(
        keyed,
        [
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("l_partkey"),
            F.col("l_suppkey"),
        ],
        F.expr("l_orderkey div 64"),
        "natural",
    )
    zordered = stats(
        keyed,
        [F.col("zkey"), F.col("l_orderkey"), F.col("l_linenumber")],
        F.expr("zkey div 4194304"),
        "zorder",
    )
    return natural.unionByName(zordered)


def q_trigram_search(spark, sf_dir):
    """Substring search through a trigram index (the pg_trgm pattern):
    candidate docs must contain ALL trigrams of the literal pattern
    (explode → semi-join against the tiny pattern-trigram set → count
    filter), then one contains() verify. The ORACLE states the pure
    semantics — ``text LIKE '%slow query%'`` — so the equality check
    proves the index path finds exactly the right documents."""
    pattern = "slow query"
    trigrams = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    docs = _t_wide(spark, sf_dir, "documents")
    tri_arr = F.array(*[F.lit(t) for t in trigrams])
    doc_tris = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("text") - 2, F.lit(1))
                    ),
                    lambda i: F.substring(F.col("text"), i, 3),
                )
            )
        ).alias("_tri"),
    ).where(F.array_contains(tri_arr, F.col("_tri")))
    cands = (
        doc_tris.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == len(trigrams))
    )
    verified = docs.join(cands.select("doc_id"), "doc_id", "leftsemi").where(
        F.contains(F.col("text"), F.lit(pattern))
    )
    return verified.select(F.col("doc_id").cast("long"))


def q_encoding_audit(spark, sf_dir):
    """Storage-encoding size audit: exact zigzag+varint byte counts for
    delta-encoded key columns (deltas within each order's lineitems —
    row-group-local, so the window partitions by the order key, never
    globally). Bit lengths come from length(bin(x)) — pure integer on
    both engines. The planning number behind choosing DELTA_BINARY_
    PACKED-style encodings for sorted keys. Output: column, n_values,
    raw_bytes, varint_bytes, ratio_milli."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    # (orderkey, linenumber) is NOT unique in the harness data — the
    # extra sort keys make the order total over every column the deltas
    # read, so the delta stream is invariant under remaining ties
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    staged = li.select(
        "l_orderkey",
        "l_linenumber",
        *[
            (
                F.abs(
                    F.col(c)
                    - F.coalesce(F.lag(c).over(w), F.lit(0).cast("long"))
                )
                * 2
                - F.when(
                    (
                        F.col(c)
                        - F.coalesce(F.lag(c).over(w), F.lit(0).cast("long"))
                    )
                    < 0,
                    1,
                ).otherwise(0)
            ).alias(f"_z_{c}")
            for c in ("l_orderkey", "l_partkey", "l_suppkey")
        ],
    )
    tagged = staged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.greatest(
                            F.lit(1),
                            F.expr(f"(length(bin(_z_{c})) + 6) div 7"),
                        )
                        .cast("long")
                        .alias("_vb"),
                    )
                    for c in ("l_orderkey", "l_partkey", "l_suppkey")
                ]
            )
        ).alias("t")
    ).select("t.column_name", "t._vb")
    return tagged.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_values"),
        (F.count(F.lit(1)) * 8).alias("raw_bytes"),
        F.sum("_vb").alias("varint_bytes"),
    ).selectExpr(
        "column_name",
        "n_values",
        "raw_bytes",
        "varint_bytes",
        "(varint_bytes * 1000) div raw_bytes AS ratio_milli",
    )


def q_component_sizes(spark, sf_dir):
    """Duplicate-cluster size distribution: how big do near-dup
    families get? Labels from the shared CC pipeline roll up twice
    (cluster → size, size → count) — both bounded aggregations; the
    histogram is the curation dashboard's dedup-health panel. Labels
    come from the shared materialized relation (``_dedup_labels``)."""
    labels = _dedup_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_size"))
    return sizes.groupBy(F.col("_size").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph (Newman's r):
    hub-to-hub or hub-to-leaf? Exact int64 moments, one final
    fixed-order double expression (sqrt is IEEE-exact, unlike ln) —
    the regression_stats discipline applied to graph science."""
    from yandex_tracker_exporter_spark.operators.graph import (
        degree_assortativity_moments,
    )

    return degree_assortativity_moments(_copurchase_edges(spark, sf_dir))


#: basket-width rail for the co-purchase self-join (VERDICT r8): the
#: order-key self-join is quadratic in basket size — TPC-H bounds
#: baskets at 7 lineitems but a real corpus doesn't (one 100k-item
#: "order" is 1e10 pairs and a dead executor regardless of cluster
#: size). Same rail class as the LSH ``max_bucket``: baskets wider
#: than the cap are dropped BEFORE the self-join via the shared
#: ``_cap_hub_buckets`` (so the cap rides the self-join's own
#: order-key partitioning — no extra exchange). The default never
#: binds on TPC-H-shaped data, keeping the DuckDB oracle exact.
COPURCHASE_MAX_BASKET = 1_000


def _copurchase_pairs(li, max_basket=COPURCHASE_MAX_BASKET):
    """(p1, p2, n_together) co-purchase pair counts from a
    (l_orderkey, l_partkey) relation, with the basket-width rail
    applied to ONE self-join side only — every pair of an order needs
    a row from BOTH sides on the same order key, so dropping an
    over-cap order's rows from the a-branch suppresses all of its
    pairs exactly like dropping both (measured: one-sided window rail
    costs +0.3 s at sf0.1 vs +0.7 s two-sided / +0.9 s for a
    driver-probe variant; at real scale the self-join is a sort-merge
    on the order key, whose sort the window REUSES — the rail rides
    free exactly when it matters). ``max_basket=None`` disables
    (tested capped-vs-uncapped in tests/test_skew_rails.py).

    r12 batch 7 also A/B'd the ``"agg"`` (broadcast-anti) rail shape
    here — the window's Exchange(4)+Sort(5) feed a BROADCAST join at
    bench scale, so the exchange looked like pure cost — and paired
    solo A/B REJECTED it too: best 3.45 s vs the window rail's 2.03 s
    at sf0.1. The anti shape re-scans the relation for the over-cap
    count build and pays a broadcast build job, which costs more than
    the one narrow 600k-row exchange it removes; the window rail stays.

    r12 batch 6 tried the ``collect_list`` + map-side pair-explode
    variant here (the one ``_copurchase_edges`` adopted) and paired
    solo A/B REJECTED it for this relation: best 4.10 s vs the join's
    2.53 s at sf0.1 — the full-corpus basket aggregation plus the
    interpreted HOF pair generation loses badly to the codegen'd
    broadcast join when every basket explodes (no shipdate filter
    narrows the input here, and the pair output is 10× the edges
    query's). The join-equality pin test
    (test_copurchase_pairs_explode_matches_self_join) keeps the
    explode twin's semantics proven should scale tip the balance."""
    from yandex_tracker_exporter_spark.operators.dedup import _cap_hub_buckets

    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    if max_basket is not None:
        a = _cap_hub_buckets(a, ("ok",), max_basket, "window")
    raw = a.join(b, "ok").where(F.col("p1") != F.col("p2"))
    # r13 (guide §2.4): hash the pair stream by p1 BEFORE the
    # aggregation — HashPartitioning(p1) satisfies the groupBy(p1, p2)
    # clustering requirement AND the downstream top-3 window's
    # partitionBy(p1), so the plan pays ONE exchange instead of two
    # (paired A/B at sf0.1: best 1.182 vs 1.539 s, results identical).
    # The raw pairs cross that exchange without map-side partial
    # aggregation, and the hash key is the part, not the order: hot-p1
    # skew (one part in many orders) lands every pair of that part in
    # one reducer task, which this shape does not bound — the basket
    # rail caps orders, not parts.
    return (
        raw.repartition(F.col("p1"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_together"))
    )


def q_copurchase_recs(spark, sf_dir):
    """Item-item co-purchase recommendations (the classic recsys
    aggregate): parts sharing an order pair up (bounded by order width
    AND the ``COPURCHASE_MAX_BASKET`` rail, never a corpus self-join),
    pair counts rank per part, top-3 kept — one window over the
    pair-count relation, riding the SAME p1 exchange as the pair
    aggregation (r13, guide §2.4: 3 exchanges → 2). _t (r12 optimization): the old _t_wide
    round-robin predates the broadcast self-join — today's plan put its
    Exchange DIRECTLY under the rail window's hash exchange on one
    branch and under the BroadcastExchange on the other (both sides
    re-shuffle/collect immediately, map work is a trivial projection),
    so the 600k-row round-robin was a pure extra shuffle (plans/r12)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _copurchase_pairs(li)
    w = Window.partitionBy("p1").orderBy(
        F.col("n_together").desc(), F.col("p2").asc()
    )
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .select(
            F.col("p1").cast("long").alias("part"),
            F.col("p2").cast("long").alias("rec_part"),
            "n_together",
            F.col("_rk").cast("long").alias("rec_rank"),
        )
    )


def q_last_touch(spark, sf_dir):
    """Last-touch conversion attribution: each purchase credits the
    latest prior non-purchase event within 1 h — windowed as-of over
    the user stream (last(..., ignorenulls) up to the previous row),
    one shuffle, no join."""
    from yandex_tracker_exporter_spark.operators.funnel import (
        last_touch_attribution,
    )

    return last_touch_attribution(_t(spark, sf_dir, "events"))


def q_weekday_seasonality(spark, sf_dir):
    """Day-of-week seasonality index per event type in exact milli
    (ratio-of-means identity keeps it int64; >1000 = weekday runs
    hot). One (type, dow) shuffle; totals come from the same
    relation."""
    from yandex_tracker_exporter_spark.operators.funnel import weekday_seasonality

    return weekday_seasonality(_t(spark, sf_dir, "events"))


def q_conversion_latency(spark, sf_dir):
    """First-view-to-first-purchase latency percentiles ("time to
    convert"): conditional-min per user, exact percentiles over the
    per-user latencies (Spark percentile ≡ DuckDB quantile_cont
    bitwise — the value_percentiles precedent)."""
    from yandex_tracker_exporter_spark.operators.funnel import conversion_latency

    return conversion_latency(_t(spark, sf_dir, "events"))


def q_rolling_corr(spark, sf_dir):
    """7-day rolling Pearson r between view and click daily means:
    int64 rolling moments over a ROWS frame on the calendar-bounded
    daily relation, one fixed-order double expression per day (the
    regression_stats discipline, windowed)."""
    from yandex_tracker_exporter_spark.operators.funnel import rolling_corr_7d

    return rolling_corr_7d(_t(spark, sf_dir, "events"))


def q_hll_union(spark, sf_dir):
    """HLL mergeability in action: pairwise distinct-user UNION
    estimates by register max-merge — no data rescan, the same merge a
    1000-executor cluster does between partial sketches. Audited
    against the exact union (|A|+|B|−|A∩B|) in the same query.
    Complements kmv_intersection (KMV intersects, HLL unions)."""
    from yandex_tracker_exporter_spark.operators.sketches import hll_union_pairs

    ev = _t(spark, sf_dir, "events")
    # barrier: the distinct (type, user) relation feeds the per-group
    # counts AND both sides of the intersection self-join — three
    # corpus scans without it
    du = (
        ev.select(F.col("event_type").alias("grp"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # r12 optimization (guide §2.4): HLL register state is
    # duplicate-invariant — max over identical (reg, rho) rows — so the
    # sketch builds from the SAME checkpointed distinct relation the
    # exact side already pays for, instead of a second full corpus
    # scan + (grp, reg) aggregation over raw events. Registers, and
    # therefore every estimate, are bit-identical (oracle-pinned).
    est = hll_union_pairs(du, "user_id", "grp")
    counts = du.groupBy("grp").agg(F.count(F.lit(1)).alias("c"))
    inter = (
        du.select(F.col("grp").alias("grp_a"), "user_id")
        .join(du.select(F.col("grp").alias("grp_b"), "user_id"), "user_id")
        .where(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    exact = (
        inter.join(
            F.broadcast(counts.select(F.col("grp").alias("grp_a"), F.col("c").alias("_ca"))),
            "grp_a",
        )
        .join(
            F.broadcast(counts.select(F.col("grp").alias("grp_b"), F.col("c").alias("_cb"))),
            "grp_b",
        )
        .select(
            "grp_a",
            "grp_b",
            (F.col("_ca") + F.col("_cb") - F.col("_inter")).alias("exact_union"),
        )
    )
    return est.join(F.broadcast(exact), ["grp_a", "grp_b"]).select(
        "grp_a",
        "grp_b",
        "est_union",
        "exact_union",
        F.abs(F.col("est_union") - F.col("exact_union")).alias("abs_err"),
    )


def q_dataset_card(spark, sf_dir):
    """One-pass dataset card: every corpus-level metric (docs, tokens,
    chars, languages, sources, exact-dup count, min/max lengths) from
    a SINGLE global aggregation over one derived relation, then a
    stack() unpivot to (metric, value) rows — the table_profile shape
    applied to the corpus summary every dataset release ships."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    base = docs.select(
        toks.alias("_toks"),
        F.length("text").cast("long").alias("_chars"),
        F.col("lang"),
        F.col("source"),
        F.md5("text").alias("_md5"),
    )
    one = base.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("_toks").alias("_n_tokens"),
        F.sum("_chars").alias("_n_chars"),
        F.count_distinct("lang").alias("_n_langs"),
        F.count_distinct("source").alias("_n_sources"),
        (F.count(F.lit(1)) - F.count_distinct("_md5")).alias("_n_exact_dups"),
        F.min("_toks").alias("_min_tokens"),
        F.max("_toks").alias("_max_tokens"),
    )
    metrics = [
        ("n_docs", "_n_docs"),
        ("n_tokens", "_n_tokens"),
        ("n_chars", "_n_chars"),
        ("n_langs", "_n_langs"),
        ("n_sources", "_n_sources"),
        ("n_exact_dups", "_n_exact_dups"),
        ("min_tokens", "_min_tokens"),
        ("max_tokens", "_max_tokens"),
    ]
    stack_args = ", ".join(f"'{m}', {c}" for m, c in metrics)
    return one.selectExpr(
        f"stack({len(metrics)}, {stack_args}) AS (metric, value)"
    ).select("metric", F.col("value").cast("long"))


def q_knn_confusion(spark, sf_dir):
    """Confusion matrix for the kNN label vote over a 100-query panel:
    (true_label, predicted_label, n) — the evaluation rollup that turns
    the classifier query into a quality report. Same broadcast-probe
    shape as knn_classify, one extra bounded aggregation. _t_wide on
    the corpus for the same reason as knn_classify, at 5x the panel
    width (measured 3.7 -> 0.8 s at sf0.1)."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        _finite_score,
        _usable_norm,
        dot,
        norm,
    )

    # per-row norm + _usable_norm quarantine, per-pair dot + scalar
    # division — the junk-proof-and-no-slower shape q_cosine_topk
    # documents (junk-smoke, round 9)
    emb = _t_wide(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_qvec"),
    ).withColumn("_qn", norm("_qvec")).where(_usable_norm(F.col("_qn")))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_cvec"),
    ).withColumn("_cn", norm("_cvec")).where(_usable_norm(F.col("_cn")))
    scored = corpus.join(
        F.broadcast(queries_df), F.col("query_id") != F.col("neighbor_id")
    ).select(
        F.col("query_id").cast("long"),
        F.col("true_label").cast("long"),
        F.col("neighbor_id").cast("long"),
        F.col("n_label").cast("long"),
        (dot("_qvec", "_cvec") / (F.col("_qn") * F.col("_cn"))).alias("cosine_sim"),
    )
    # _finite_score goes AFTER the rank<=k filter (library placement;
    # see q_cosine_topk/q_knn_classify): post-rank it is O(k) rows and
    # drops the NULL cosine a ragged-but-finite-norm junk vector
    # produces via zip_with null-padding, which would otherwise vote
    # with a NULL label when a query has fewer than k usable
    # neighbors. No-op on a clean corpus.
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .where(_finite_score(F.col("cosine_sim")))
    )
    votes = top.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("n_label").asc()
    )
    pred = (
        votes.withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_weekly_churn(spark, sf_dir):
    """Weekly churn: users active in week W with no activity in W+1 —
    lead() over each user's distinct active weeks, rolled up to
    (week, n_active, n_churned, churn_milli). One per-user shuffle
    (distinct weeks), the rest calendar-bounded. The last observed
    week is excluded (churn there is undefined, not zero)."""
    ev = _t(spark, sf_dir, "events")
    # week INDEX (floored epoch div 604800): "+1 week" is plain
    # integer arithmetic on both engines
    m_idx = F.expr("floor(unix_timestamp(ts)) div 604800")
    um = ev.select(F.col("user_id").alias("_u"), m_idx.alias("m")).distinct()
    last_month = um.agg(F.max("m").alias("_last"))
    w = Window.partitionBy("_u").orderBy("m")
    flagged = um.select(
        "_u",
        "m",
        F.lead("m").over(w).alias("_next"),
    ).join(F.broadcast(last_month))
    counted = (
        flagged.where(F.col("m") < F.col("_last"))
        .select(
            "m",
            F.when(
                F.col("_next").isNull() | (F.col("_next") > F.col("m") + 1), 1
            )
            .otherwise(0)
            .alias("_churned"),
        )
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum("_churned").cast("long").alias("n_churned"),
        )
    )
    return counted.selectExpr(
        "m AS week_idx",
        "n_active",
        "n_churned",
        "(n_churned * 1000) div n_active AS churn_milli",
    )


def q_negative_sampling(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    document draws 4 pseudo-random negatives via the Knuth
    multiplicative hash over dense ids — a pure map-side projection
    (no RNG state, no join), reproducible on any engine. Self-draws
    re-roll by stepping once. Output: doc_id, neg_rank, neg_id."""
    docs = _t(spark, sf_dir, "documents")
    n_row = docs.agg(F.count(F.lit(1)).alias("_n"))
    with_n = docs.select("doc_id").join(F.broadcast(n_row))
    drawn = with_n.select(
        F.col("doc_id").cast("long"),
        F.explode(F.array(*[F.lit(j) for j in range(1, 5)])).alias("neg_rank"),
        F.col("_n"),
    ).selectExpr(
        "doc_id",
        "CAST(neg_rank AS BIGINT) AS neg_rank",
        "((doc_id * 2654435761 + neg_rank * 40503) % _n) AS _cand",
        "_n",
    )
    return drawn.selectExpr(
        "doc_id",
        "neg_rank",
        "CASE WHEN _cand = doc_id THEN (_cand + 1) % _n ELSE _cand END"
        " AS neg_id",
    )


def q_pit_enrich(spark, sf_dir):
    """Point-in-time enrichment — the warehouse pattern end to end:
    SCD2 state built from the signup stream, then each purchase joins
    the k-state VALID AT ITS TIMESTAMP (entity-keyed equi join +
    interval filter; intervals per entity are few by construction).
    Purchases before any signup land in the explicit -1 bucket.
    Output: k_value, n_purchases."""
    from yandex_tracker_exporter_spark.operators.temporal import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    state = scd2_intervals(ev.where(F.col("event_type") == "signup"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity"),
        F.floor(F.unix_timestamp(F.col("ts"))).cast("long").alias("_ep"),
    )
    joined = purchases.join(
        state,
        (purchases.entity == state.entity)
        & (F.col("_ep") >= F.col("valid_from"))
        & (F.col("_ep") < F.col("valid_to")),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("value"), F.lit(-1)).cast("long").alias("k_value")
    ).agg(F.count(F.lit(1)).alias("n_purchases"))


def q_bpe_first_merges(spark, sf_dir):
    """The first BPE training step: frequency-weighted adjacent
    character-pair counts over the corpus vocabulary, top-20 merge
    candidates (count desc, pair asc). Word frequencies aggregate
    first, so the pair explode runs once per DISTINCT word — the
    standard tokenizer-training optimization. Top-k plans as
    TakeOrderedAndProject."""
    docs = _t_wide(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("w") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, 2),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").alias("weight"))
    return counted.orderBy(F.col("weight").desc(), F.col("pair").asc()).limit(20)


def q_skew_report(spark, sf_dir):
    """Join-key skew diagnostic: the 10 heaviest part keys with their
    corpus share in exact milli — the number that decides between a
    plain shuffle join and salting. One partial-aggregable key count,
    per-partition top-k, single-row total broadcast onto 10 rows."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_tot"))
    top = counts.orderBy(F.col("n_rows").desc(), F.col("l_partkey").asc()).limit(10)
    return top.join(F.broadcast(total)).selectExpr(
        "CAST(l_partkey AS BIGINT) AS l_partkey",
        "n_rows",
        "(n_rows * 1000) div _tot AS share_milli",
    )


def q_media_image_histogram(spark, sf_dir):
    """Vision-side multimodal feature: per-channel intensity histograms
    over REAL-decoded P6 PPM payloads, rolled up to corpus totals
    (channel, bucket, n_pixels). The fixture's encode→decode round
    trip lets the oracle recompute every pixel from the text
    codepoints — the same contract as media_audio_energy, for
    images."""
    from yandex_tracker_exporter_spark.multimodal import (
        image_channel_histogram,
        media_fixture_from_documents,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    media = media_fixture_from_documents(docs).where(F.col("kind") == "image")
    hist = image_channel_histogram(media)
    return hist.groupBy("channel", "bucket").agg(
        F.sum("n_pixels").alias("n_pixels")
    )


def q_media_png_histogram(spark, sf_dir):
    """Same histogram contract as media_image_histogram but over REAL
    COMPRESSED payloads: every non-empty doc becomes an 8-bit RGB PNG
    (stdlib-zlib DEFLATE, scanline filter ``row % 5``), and the decode
    path must CRC-check the chunks, inflate, and invert all five PNG
    filters to recover the raster. The oracle recomputes each pixel
    from the text codepoints — equality proves the whole compressed
    codec round trip bit-exact (VERDICT r4 #4)."""
    from yandex_tracker_exporter_spark.multimodal import (
        image_channel_histogram,
        png_fixture_from_documents,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    media = png_fixture_from_documents(docs)
    hist = image_channel_histogram(media)
    return hist.groupBy("channel", "bucket").agg(
        F.sum("n_pixels").alias("n_pixels")
    )


def q_robust_stats(spark, sf_dir):
    """Robust per-segment statistics: median and MAD (median absolute
    deviation) over value cents — the outlier-resistant twin of
    mean/σ (zscore_outliers). Exact percentile parity both engines
    (the value_percentiles precedent); two segment-keyed shuffles, the
    deviations join back against the broadcast 5-row median table."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    # _measurable guard (junk_check, round 10): Spark's floor()
    # SILENTLY saturates — floor(NaN) = 0 — so an unguarded junk NaN
    # reading became a fake 0-cent measurement that moved its segment's
    # median; a NULL value row inflated n the same way the zscore
    # moments bug did. Identical WHERE in the oracle.
    base = ev.where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < F.lit(MEASURABLE_MAX))  # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    ).select(F.col("event_type").alias("segment"), cents.alias("_c"))
    med = base.groupBy("segment").agg(
        F.percentile(F.col("_c"), F.lit(0.5)).alias("median_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = base.join(F.broadcast(med), "segment").select(
        "segment",
        F.abs(F.col("_c").cast("double") - F.col("median_cents")).alias("_d"),
    )
    mad = dev.groupBy("segment").agg(
        F.percentile(F.col("_d"), F.lit(0.5)).alias("mad_cents")
    )
    return med.join(mad, "segment").select(
        "segment", "n", "median_cents", "mad_cents"
    )


def q_pareto_8020(spark, sf_dir):
    """Contribution (Pareto 80/20) analysis: per region, customers'
    nations ranked by revenue with exact running milli shares and the
    head-flag up to 80% cumulative — the concentration profile behind
    'which slices carry the corpus'. The window partitions by region
    (25 nations / 5 regions — never a global funnel)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("_c")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("_c").alias("revenue_cents"))
    )
    w = Window.partitionBy("r_name").orderBy(
        F.col("revenue_cents").desc(), F.col("n_name").asc()
    )
    w_tot = Window.partitionBy("r_name")
    ranked = rev.select(
        "r_name",
        "n_name",
        "revenue_cents",
        F.row_number().over(w).cast("long").alias("rank_in_region"),
        F.sum("revenue_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_cum"),
        F.sum("revenue_cents").over(w_tot).alias("_tot"),
    )
    return ranked.selectExpr(
        "r_name",
        "n_name",
        "revenue_cents",
        "rank_in_region",
        "(_cum * 1000) div _tot AS cum_share_milli",
        "CAST(CASE WHEN (_cum - revenue_cents) * 1000 < 800 * _tot"
        " THEN 1 ELSE 0 END AS BIGINT) AS in_top80",
    )


def q_state_dwell_time(spark, sf_dir):
    """Total dwell seconds per k-state across all users — the tracker
    cycle-time generalization: SCD2 intervals from the change stream,
    closed intervals sum their exact spans per state (the open tail is
    excluded — unbounded dwell is undefined, not huge). One rollup on
    ≤ |states| keys after the interval window."""
    from yandex_tracker_exporter_spark.operators.temporal import (
        SCD2_OPEN_END,
        scd2_intervals,
    )

    iv = scd2_intervals(_t(spark, sf_dir, "events"))
    return (
        iv.where(F.col("valid_to") != SCD2_OPEN_END)
        .groupBy(F.col("value").alias("k_value"))
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("valid_to") - F.col("valid_from")).alias("total_dwell_s"),
        )
    )


def q_contingency_chi2(spark, sf_dir):
    """Chi-square contingency analysis of market segment × order
    priority: per-cell observed counts, expected counts in exact milli
    (R·C·1000 div T), and the integer chi² contribution
    ((O·T − R·C)² div (R·C·T)) — association testing with no float
    until the analyst applies the threshold. Marginals come back onto
    the |segments|×|priorities| cell relation via broadcast."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # barrier (r12, guide §2.4): the |segments|×|priorities|-row cell
    # relation feeds FOUR consumers (row/col marginals, total, probe) —
    # without it the corpus join+aggregate executed four times (8
    # FileScans in the before-plan).
    cells = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("observed"))
        .localCheckpoint(eager=False)
    )
    rows_m = cells.groupBy("segment").agg(F.sum("observed").alias("_r"))
    cols_m = cells.groupBy("priority").agg(F.sum("observed").alias("_c"))
    total = cells.agg(F.sum("observed").alias("_t"))
    joined = (
        cells.join(F.broadcast(rows_m), "segment")
        .join(F.broadcast(cols_m), "priority")
        .join(F.broadcast(total))
    )
    return joined.selectExpr(
        "segment",
        "priority",
        "observed",
        "(_r * _c * 1000) div _t AS expected_milli",
        "((observed * _t - _r * _c) * (observed * _t - _r * _c))"
        " div (_r * _c * _t) AS chi2_contrib",
    )


def q_ab_test(spark, sf_dir):
    """A/B experimentation readout: users hash-split 50/50 (the
    split_assign machinery with an experiment salt), per-arm purchase
    conversion in exact milli, lift, and the two-proportion z statistic
    as ONE fixed-order double expression over integer counts (sqrt is
    IEEE-exact — the assortativity discipline). Per-user rollup is the
    only corpus shuffle; arms aggregate to two rows."""
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        _sample_bucket,
    )

    ev = _t(spark, sf_dir, "events")
    # NULL-user quarantine (junk_check, round 10): a NULL user_id is
    # not a valid experiment participant — and the two engines'
    # otherwise-identical salted hashes disagree on NULL (Spark's
    # concat/sequence propagate NULL → arm B; DuckDB's empty range
    # folds to h=0 → arm A), so one junk row would silently move a
    # phantom participant between arms. Filtered identically in the
    # oracle; no-op on a clean corpus.
    ev = ev.where(F.col("user_id").isNotNull())
    # conversion = "heavy purchaser" (> 26 purchase events): on this
    # corpus EVERY user purchases at least once, so an any-purchase
    # definition gives two 100% arms and a zero z-denominator (which
    # ANSI mode raises on even for doubles — found the hard way)
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("_np")
    ).select("user_id", F.when(F.col("_np") > 26, 1).otherwise(0).alias("_conv"))
    armed = per_user.select(
        F.when(
            _sample_bucket(F.col("user_id"), 2, "exp1:") == 0, F.lit("A")
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
        "_conv",
    )
    # ONE conditional global aggregate, not groupBy(arm) + two filtered
    # branches self-joined: the branch formulation planned FOUR
    # FileScans with ZERO exchange reuse — the corpus was scanned and
    # user-aggregated twice just to pivot two rows into one (measured
    # 1.34 s solo best -> see NOTES). Integer counts are identical, so
    # every downstream double is bit-identical.
    is_a = F.col("arm") == "A"
    j = armed.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(is_a, F.col("_conv")).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(~is_a, F.col("_conv")).otherwise(0)).cast("long").alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na").cast("double")
    pb = F.col("cb").cast("double") / F.col("nb").cast("double")
    pp = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    denom = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("na").cast("double")
            + F.lit(1.0) / F.col("nb").cast("double")
        )
    )
    # degenerate pooled rate (0 or 1) → z defined as 0, not a crash
    z = F.when(denom > 0.0, (pa - pb) / denom).otherwise(F.lit(0.0))
    # HAVING-style empty-arm guard: the old filtered-branch cross join
    # returned ZERO rows when an arm was empty (so does the oracle's
    # `a CROSS JOIN b`); the single global agg instead returns one row
    # with n=0, whose `div na` raises under ANSI. Filter it out so the
    # three formulations stay row-for-row equal on every corpus; no-op
    # when both arms are populated (the contract case).
    j = j.where((F.col("na") > 0) & (F.col("nb") > 0))
    return j.select(
        "na",
        "ca",
        "nb",
        "cb",
        F.expr("(ca * 1000) div na").alias("rate_a_milli"),
        F.expr("(cb * 1000) div nb").alias("rate_b_milli"),
        z.alias("z_stat"),
    )


def q_heatmap_hour_value(spark, sf_dir):
    """Hour-of-day × value-band heatmap: the 2-D distribution profile
    behind usage dashboards and drift monitors. Pure map + one
    partial-aggregable rollup on ≤ 24×10 keys."""
    ev = _t(spark, sf_dir, "events")
    # _measurable guard (junk_check, round 10): a NaN value has no
    # band — Spark's floor/greatest/least chain silently mapped it to
    # band 0 (floor(NaN) = 0) while plain SQL puts it at band 9 (NaN
    # sorts above 9 in least()) — and a NULL value likewise bands
    # nowhere. Identical WHERE in the oracle.
    ev = ev.where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < F.lit(MEASURABLE_MAX))  # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    )
    hour = F.hour("ts").cast("long")
    band = F.least(
        F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)), F.lit(9)
    ).cast("long")
    return ev.groupBy(hour.alias("hour"), band.alias("value_band")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def q_twap(spark, sf_dir):
    """Time-weighted average value per type (the TWAP/telemetry
    aggregate): each reading holds until the user's next event, so it
    weighs by its exact duration — Σ(cents·Δt) and Σ(Δt) accumulate in
    int64 (one lead window + one rollup) and the average divides once
    at the end in milli. Open tails carry no duration (excluded, not
    guessed)."""
    ev = _t(spark, sf_dir, "events")
    # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3): floor(1e308*100) silently saturates to
    # Long.MAX cents, whose duration-weighted products overflow int64
    ev = ev.where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < F.lit(MEASURABLE_MAX))
    )
    epoch = F.floor(F.unix_timestamp(F.col("ts"))).cast("long")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    held = ev.select(
        F.col("event_type"),
        cents.alias("_c"),
        (F.lead(epoch).over(w) - epoch).alias("_dt"),
    ).where(F.col("_dt").isNotNull())
    return (
        held.groupBy("event_type")
        .agg(
            F.sum(F.col("_c") * F.col("_dt")).alias("_wsum"),
            F.sum("_dt").alias("total_held_s"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .selectExpr(
            "event_type",
            "n_readings",
            "total_held_s",
            "(_wsum * 1000) div total_held_s AS twap_milli_cents",
        )
    )


def q_cluster_balance(spark, sf_dir):
    """ANN index health: size balance of the k-means partitions the
    IVF path probes — per-cluster share in exact milli plus the
    max/mean imbalance ratio every row carries (a lopsided index
    makes nprobe recall collapse on hot clusters). Composes the
    integer-exact kmeans assignment; rollups are k-bounded."""
    from yandex_tracker_exporter_spark.operators.clustering import (
        kmeans_quantized,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_quantized(emb, k=8, iters=2)
    # barrier (r12, guide §2.4/§5): the k-row sizes relation feeds BOTH
    # the broadcast total-aggregate build and the outer join probe —
    # without it the whole kmeans assignment pipeline re-executed once
    # per reference (measured: two identical job chains in the UI)
    sizes = assigned.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    ).localCheckpoint(eager=False)
    tot = sizes.agg(
        F.sum("n_vectors").alias("_t"), F.max("n_vectors").alias("_mx"),
        F.count(F.lit(1)).alias("_k"),
    )
    return sizes.join(F.broadcast(tot)).selectExpr(
        "cluster",
        "n_vectors",
        "(n_vectors * 1000) div _t AS share_milli",
        "(_mx * _k * 1000) div _t AS max_over_mean_milli",
    )


#: per-invocation workdir counter for q_streaming_upsert_state —
#: next() is atomic under the GIL, so same-process concurrent callers
#: (pytest threads) still get distinct dirs
_STREAM_UPSERT_SEQ = itertools.count()


def q_streaming_upsert_state(spark, sf_dir):
    """Batch-equivalence evidence for the streaming path (VERDICT r4
    #7): runs the REAL Structured Streaming micro-batch pipeline
    end-to-end inside the query — file-source stream over a staged
    event feed, ``foreachBatch`` append with checkpointed offsets,
    latest-wins dedup view on read — then aggregates the final table
    state. The feed contains a full snapshot plus a correction file
    (purchases re-priced at 2×, ``updated_seq`` 1), modeling the
    reference's ReplacingMergeTree upsert (`tracker_exporter` re-export
    + OPTIMIZE FINAL). The final state is deterministic regardless of
    how the file source slices micro-batches because latest-wins
    resolves on the DATA-level ``updated_seq``, never on batch id —
    which is exactly what lets a plain SQL oracle reproduce it.

    Output per event_type: n_events, value_cents (exact integer cents
    after the correction pass).
    """
    import hashlib
    import shutil
    import tempfile

    from yandex_tracker_exporter_spark.operators.dedup import latest_version_dedup
    from yandex_tracker_exporter_spark.streaming.pipeline import (
        read_event_stream,
        run_micro_batch_upsert,
    )

    ev = _t(spark, sf_dir, "events")
    # Junk guard (junk_check, round 10): a NULL event_id cannot be
    # upserted (it IS the merge key), and a NaN value would be
    # fabricated into 0 cents by Spark's saturating floor() at the
    # final aggregate. NULL values stay — sum() skips them, same as the
    # oracle's SQL. Identical WHERE in the oracle.
    ev = ev.where(
        F.col("event_id").isNotNull()
        & (
            F.col("value").isNull()
            | (~F.isnan("value") & (F.abs("value") < F.lit(MEASURABLE_MAX)))
        )  # MEASURABLE_MAX rail — see operators/funnel.py (junk wave 3)
    )
    # Ingest-side key dedup (junk v2, round 10): the pipeline's
    # determinism argument ("latest-wins resolves on updated_seq")
    # assumes UNIQUE source keys per seq — two seq-0 rows with the same
    # event_id fall through to the sink's file-order tiebreak, which
    # depends on micro-batch slicing. Enforce uniqueness at ingest with
    # an explicit total order (ts, type, value descending — arbitrary
    # but deterministic and mirrored in the oracle).
    _w_dup = Window.partitionBy("event_id").orderBy(
        F.col("ts").desc_nulls_last(),
        F.col("event_type").desc_nulls_last(),
        F.col("value").desc_nulls_last(),
    )
    ev = (
        ev.withColumn("_dup_rn", F.row_number().over(_w_dup))
        .where(F.col("_dup_rn") == 1)
        .drop("_dup_rn")
    )
    # Per-INVOCATION workdir (pid + monotonic counter): two concurrent
    # runs on the same sf_dir (bench + manifest sweep, pytest-xdist)
    # must never share staging/checkpoint dirs, and a later invocation
    # must not wipe files an earlier run's returned relation still
    # reads (driver ADVICE r5). The dir is deleted before returning —
    # the result is materialized first — so nothing leaks per call.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    seq = next(_STREAM_UPSERT_SEQ)
    workdir = os.path.join(
        tempfile.gettempdir(),
        f"yte_stream_upsert_{tag}_{os.getpid()}_{seq}",
    )
    shutil.rmtree(workdir, ignore_errors=True)
    in_dir, out_dir, ckpt = (
        f"{workdir}/in",
        f"{workdir}/out",
        f"{workdir}/ckpt",
    )
    cols = ["event_id", "ts", "user_id", "event_type"]
    base = ev.select(
        *cols, F.col("value"), F.lit(0).alias("updated_seq")
    )
    # coalesce, not repartition (r12 batch 7, guide §2.4): the relation
    # is already exchanged by event_id for the key-dedup window, and the
    # only reason for 4 here is the staged feed's file count (4 base
    # files + 1 correction ÷ maxFilesPerTrigger=2 → 3 micro-batches).
    # ADVICE r12: coalesce(4) makes 4 an UPPER bound on non-empty output
    # files — AQE's partition coalescing on the key-dedup window's
    # exchange can (and at sf0.1 DOES) leave fewer: measured r13, the
    # staged feed is 3 base files + 1 correction → 2 micro-batches, not
    # the 3 this comment used to claim. Results are slicing-independent
    # (latest-wins on updated_seq, tested) and ≥2 batches still
    # exercise the cross-batch upsert; only the bench's micro-batch
    # count rides AQE's size estimates. r13 floor profile (committed in
    # OPTIMIZATION_r13.md): ~0.2 s/batch of availableNow machinery
    # (offset+commit log, per-batch planning) + ~0.2 s/batch of real
    # append-write jobs; staging-codec A/B (snappy vs lz4 vs
    # uncompressed) was a wash and rejected.
    # coalesce merges the window's output partitions 32→4 with NO extra
    # exchange where repartition paid a full round-robin shuffle of the
    # snapshot; the final state is file-slicing-independent by design
    # (latest-wins on updated_seq — test_streaming_upsert_state_batch_
    # order_independent), so the written layout cannot change results.
    base.coalesce(4).write.mode("overwrite").parquet(in_dir)
    # r12 optimization (guide §2.4): derive the correction file from
    # the just-written snapshot instead of re-running the filter +
    # key-dedup window over the raw events a second time (the written
    # base IS the deduped relation, so the purchase rows and their
    # doubled values are bit-identical either way — and a real pipeline
    # re-prices from the snapshot table, not from the raw feed). The
    # snapshot read's file listing is pinned at read() time (4 base
    # files), so the appended correction never feeds itself; its schema
    # also replaces the extra listing+footer pass the old
    # `spark.read.parquet(in_dir).schema` probe paid.
    snap = spark.read.parquet(in_dir)
    updates = snap.where(F.col("event_type") == "purchase").select(
        *cols,
        (F.col("value") * F.lit(2.0)).alias("value"),
        F.lit(1).alias("updated_seq"),
    )
    updates.coalesce(1).write.mode("append").parquet(in_dir)
    schema = snap.schema
    stream = read_event_stream(spark, in_dir, schema, max_files_per_trigger=2)
    run_micro_batch_upsert(stream, out_dir, ckpt, keys=["event_id"])
    tbl = spark.read.parquet(out_dir)
    final = latest_version_dedup(
        tbl, ["event_id"], version_col="updated_seq", tiebreak_col="version"
    )
    agg = final.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    # materialize the (tiny: one row per event_type) result BEFORE
    # deleting the workdir, so the returned relation never lazily reads
    # files a later invocation could have wiped
    out = agg.localCheckpoint(eager=True)
    shutil.rmtree(workdir, ignore_errors=True)
    return out


def q_media_jpeg_histogram(spark, sf_dir):
    """Histogram over REAL baseline-JPEG decodes (VERDICT r5 #5): every
    non-empty doc becomes a 16x16 grayscale JPEG of four 8x8 constant
    blocks (values ``(cp_j*7)%256``), and the decode path must parse the
    markers, rebuild the canonical Huffman tables from DHT, walk the DC
    prediction chain, dequantize, and run the 8x8 IDCT to recover the
    pixels. Block-constant input makes the lossy pipeline exact (only
    DC survives and the DC quantizer divides it), so the oracle
    recomputes decoded pixels straight from the text codepoints — the
    PNG evidence pattern, extended to an entropy-coded DCT format. The
    AC path (runs/ZRL/EOB) is covered by pytest vectors against an
    independent naive IDCT."""
    from yandex_tracker_exporter_spark.multimodal import (
        jpeg_fixture_from_documents,
        jpeg_gray_histogram,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    hist = jpeg_gray_histogram(jpeg_fixture_from_documents(docs))
    return hist.groupBy("bucket").agg(F.sum("n_pixels").alias("n_pixels"))


def q_media_mp4_metadata(spark, sf_dir):
    """ISO-BMFF box-parse metadata scan (VERDICT r5 #5, second step):
    every non-empty doc becomes a minimal real MP4 (ftyp + moov(mvhd +
    trak(tkhd)) + mdat) whose duration/dims derive from the first three
    codepoints; the engine walks the box tree, reads mvhd
    timescale/duration and tkhd 16.16 dimensions, and rolls up per
    duration-minute bucket. The oracle recomputes the same laws from
    ``text`` — equality proves the box walk and fixed-point decode."""
    from yandex_tracker_exporter_spark.multimodal import (
        mp4_fixture_from_documents,
        mp4_metadata_scan,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    meta = mp4_metadata_scan(mp4_fixture_from_documents(docs))
    return meta.groupBy(
        F.expr("duration_ms div 60000").alias("dur_min")
    ).agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("width").alias("sum_width"),
        F.sum("height").alias("sum_height"),
        F.max("duration_ms").alias("max_duration_ms"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cycle_time_sessionize": q_cycle_time,
    "latest_version_dedup": q_latest_version,
    "incremental_watermark": q_watermark,
    "pricing_summary": q_pricing_summary,
    "region_revenue": q_region_revenue,
    "top_customers": q_top_customers,
    "point_lookup": q_point_lookup,
    "snake_case_normalize": q_snake_case,
    "human_time_format": q_human_time,
    "business_hours_duration": q_business_hours,
    "json_value_extract": q_json_extract,
    "exact_dedup": q_exact_dedup,
    "minhash_lsh_pairs": q_minhash_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "simhash_signatures": q_simhash,
    "language_id": q_lang_id,
    "quality_score": q_quality,
    "token_count": q_token_count,
    "doc_fingerprint": q_fingerprint,
    "cosine_topk": q_cosine_topk,
    "embedding_neardup": q_embedding_neardup,
    "lsh_bucket_topk": q_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "median_gap": q_median_gap,
    "rollup_orders": q_rollup_orders,
    "cube_orders": q_cube_orders,
    "distinct_agg": q_distinct_agg,
    "supplier_balance": q_supplier_balance,
    "top_docs_per_lang": q_top_docs_per_lang,
    "session_window_native": q_session_window_native,
    "corpus_clean": q_corpus_clean,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "sql_interface": q_sql_interface,
    "windowed_counts": q_windowed_counts,
    "session_gaps": q_session_gaps,
    "display_timezone": q_display_timezone,
    "value_percentiles": q_value_percentiles,
    "anti_join": q_anti_join,
    "bigram_counts": q_bigram_counts,
    "running_total": q_running_total,
    "pivot_orders": q_pivot_orders,
    "set_ops": q_set_ops,
    "chunk_documents": q_chunk_documents,
    "pii_redact": q_pii_redact,
    "decontaminate": q_decontaminate,
    "pack_token_budget": q_pack_token_budget,
    "bytes_human": q_bytes_human,
    "repetition_signals": q_repetition_signals,
    "hash_sample": q_hash_sample,
    "tfidf_top_terms": q_tfidf_top_terms,
    "global_rank": q_global_rank,
    "stratified_sample": q_stratified_sample,
    "histogram_quantiles": q_histogram_quantiles,
    "window_funnel": q_window_funnel,
    "cohort_retention": q_cohort_retention,
    "gap_fill_hourly": q_gap_fill,
    "quantize_embeddings": q_quantize_embeddings,
    "canonicalize_text": q_canonicalize_text,
    "dedup_labels": q_dedup_labels,
    "dedup_clusters": q_dedup_clusters,
    "media_decode_features": q_media_decode_features,
    "media_metadata_stats": q_media_metadata_stats,
    "salted_join_agg": q_salted_join_agg,
    "vocab_oov_stats": q_vocab_oov,
    "winnow_span_pairs": q_winnow_span_pairs,
    "edit_distance_pairs": q_edit_distance_pairs,
    "lsh_multiband_topk": q_lsh_multiband_topk,
    "grouping_sets_orders": q_grouping_sets,
    "ntile_quartiles": q_ntile_quartiles,
    "simhash_hamming_pairs": q_simhash_hamming,
    "knn_classify": q_knn_classify,
    "regression_stats": q_regression_stats,
    "moving_avg_daily": q_moving_avg_daily,
    "percent_rank_acctbal": q_percent_rank,
    "shipping_priority": q_shipping_priority,
    "kmeans_clusters": q_kmeans_clusters,
    "semdedup_prune": q_semdedup_prune,
    "top_sources_agg": q_top_sources_agg,
    "media_audio_energy": q_media_audio_energy,
    "dedup_keep_best": q_dedup_keep_best,
    "dup_window_ratio": q_dup_window_ratio,
    "hll_distinct": q_hll_distinct,
    "split_assign": q_split_assign,
    "length_buckets": q_length_buckets,
    "label_centroids": q_label_centroids,
    "triangle_count": q_triangle_count,
    "pagerank_nations": q_pagerank_nations,
    "bloom_join_filter": q_bloom_join_filter,
    "minhash_calibration": q_minhash_calibration,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "event_transitions": q_event_transitions,
    "ohlc_hourly": q_ohlc_hourly,
    "pareto_frontier": q_pareto_frontier,
    "zscore_outliers": q_zscore_outliers,
    "mixture_apportion": q_mixture_apportion,
    "cheapest_supplier": q_cheapest_supplier,
    "sorted_neighborhood": q_sorted_neighborhood,
    "bigram_lm": q_bigram_lm,
    "cdc_chunks": q_cdc_chunks,
    "bm25_rank": q_bm25_rank,
    "prefix_jaccard_join": q_prefix_jaccard_join,
    "split_leakage": q_split_leakage,
    "term_pmi": q_term_pmi,
    "source_gini": q_source_gini,
    "kcore_3": q_kcore,
    "scd2_intervals": q_scd2_intervals,
    "table_profile": q_table_profile,
    "reset_running_total": q_reset_running_total,
    "trade_volume_q7": q_trade_volume,
    "ewma_daily": q_ewma_daily,
    "event_pattern": q_event_pattern,
    "value_histogram": q_value_histogram,
    "kmv_intersection": q_kmv_intersection,
    "lm_doc_score": q_lm_doc_score,
    "top_paths": q_top_paths,
    "funnel_conversion": q_funnel_conversion,
    "mom_revenue": q_mom_revenue,
    "zorder_layout": q_zorder_layout,
    "dedup_pipeline_report": q_dedup_pipeline_report,
    "pruning_simulation": q_pruning_simulation,
    "trigram_search": q_trigram_search,
    "encoding_audit": q_encoding_audit,
    "component_sizes": q_component_sizes,
    "assortativity": q_assortativity,
    "copurchase_recs": q_copurchase_recs,
    "last_touch": q_last_touch,
    "weekday_seasonality": q_weekday_seasonality,
    "conversion_latency": q_conversion_latency,
    "rolling_corr_7d": q_rolling_corr,
    "hll_union": q_hll_union,
    "dataset_card": q_dataset_card,
    "knn_confusion": q_knn_confusion,
    "weekly_churn": q_weekly_churn,
    "negative_sampling": q_negative_sampling,
    "pit_enrich": q_pit_enrich,
    "bpe_first_merges": q_bpe_first_merges,
    "skew_report": q_skew_report,
    "media_image_histogram": q_media_image_histogram,
    "media_png_histogram": q_media_png_histogram,
    "robust_stats": q_robust_stats,
    "pareto_8020": q_pareto_8020,
    "state_dwell_time": q_state_dwell_time,
    "contingency_chi2": q_contingency_chi2,
    "ab_test": q_ab_test,
    "heatmap_hour_value": q_heatmap_hour_value,
    "twap_by_type": q_twap,
    "cluster_balance": q_cluster_balance,
    "streaming_upsert_state": q_streaming_upsert_state,
    "media_jpeg_histogram": q_media_jpeg_histogram,
    "media_mp4_metadata": q_media_mp4_metadata,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_cycle_time(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------

# polynomial codepoint hash, identical to operators.dedup._hash64:
# h = fold(chars, 0, (h*131 + codepoint) mod 2^31-1); '' hashes to 0
def _dd_hash(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, len({expr}) + 1), "
        f"i -> ascii(substr({expr}, i, 1))::BIGINT)), "
        f"(h, c) -> (h * 131 + c) % 2147483647)"
    )


def _dd_finite_vec(col: str = "embedding") -> str:
    """DuckDB twin of operators.similarity.finite_vector: the vector
    exists and every element is a finite number (empty lists pass).
    Mirrors the engine's quantization quarantine so the junk_check
    oracle replay adjudicates movement instead of dying on
    ``floor(NaN)::BIGINT`` (DuckDB raises where Spark's floor()
    silently saturates)."""
    return (
        f"({col} IS NOT NULL AND NOT coalesce(list_contains("
        f"list_transform({col}, x -> (x IS NULL OR isnan(x::DOUBLE) "
        f"OR isinf(x::DOUBLE))), true), false))"
    )


def _dd_norm2(col: str = "embedding") -> str:
    """DuckDB twin of operators.similarity.norm()'s sum-of-squares
    fold: strict left fold of ``x::DOUBLE * x::DOUBLE`` from 0.0, in
    list order, so overflow timing and NULL propagation match Spark's
    ``F.aggregate`` bit-for-bit (a NULL element nulls the whole sum,
    exactly like the engine's fold)."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({col}, x -> x::DOUBLE * x::DOUBLE)), "
        f"(a, b) -> a + b)"
    )


def _dd_usable_vec(col: str = "embedding", dim: int = 64) -> str:
    """DuckDB twin of the similarity quarantine's NET effect: the
    corpus width plus the engine's ``_usable_norm`` predicate applied
    to the SAME folded sum-of-squares the engine computes — finite and
    strictly positive (``norm = sqrt(s)`` is in ``(0, inf)`` iff ``s``
    is, sqrt being monotone and non-overflowing).

    Why the fold and not a per-element proxy (ADVICE r10, medium): a
    vector of FINITE elements can still fold to a non-usable norm —
    ``[1e200]*64`` overflows the sum of squares to Inf (engine
    quarantines: cosine would be x/inf) and ``[5e-324]*64`` underflows
    every square to exactly 0.0 (engine quarantines: zero norm, cosine
    undefined) — so an element-wise finite+any-nonzero check KEEPS rows
    the engine drops. On a corpus where a query has fewer than k usable
    neighbors, the old proxy admitted a 0.0/NULL-scored junk neighbor
    into the oracle's top-k that the engine never produced
    (tests/test_junk_movement_guards.py pins the divergence corpus).

    Ragged vectors (width != dim) pass the engine's pre-filter but
    every pair they enter nulls out via zip_with padding and is dropped
    post-rank — excluding them here reproduces the same output. Keeps
    the oracle a TOTAL spec on junk corpora."""
    s = _dd_norm2(col)
    return (
        f"({col} IS NOT NULL AND len({col}) = {dim} AND "
        f"coalesce(list_transform([{s}], v -> isfinite(v) AND v > 0)[1], "
        f"false))"
    )


def _dd_mixed(expr: str, salt: str) -> str:
    """Suffix-salted poly hash + square-mod avalanche, mirroring
    operators.text_analysis._sample_bucket: the raw fold is affine
    across salts (and in the key's low characters), so the mix step is
    what makes salted bucket families independent. The single-element
    list_transform binds the fold result once so the square does not
    re-evaluate the character loop."""
    h = _dd_hash(f"({expr} || '{salt}')")
    return f"(list_transform([{h}], x -> (x * x + x) % 2147483647)[1])"


# 31-bit simhash over a BIGINT token-hash list column (mirrors
# operators.dedup.simhash with bits=31): per-bit vote fold, then bit
# reassembly — both strict left folds so the integers agree exactly
def _dd_simhash31(token_hash_list: str) -> str:
    return (
        f"CAST(list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(0, 31), j -> "
        f"CASE WHEN list_reduce(list_prepend(0::BIGINT, "
        f"list_transform({token_hash_list}, h -> "
        f"CASE WHEN (h >> j) & 1 = 1 THEN 1::BIGINT ELSE (-1)::BIGINT END)), "
        f"(a, x) -> a + x) > 0 "
        f"THEN (1::BIGINT << j) ELSE 0::BIGINT END)), "
        f"(a, x) -> a + x) AS BIGINT)"
    )


# distinct character k-grams as a DuckDB list
def _dd_shingles(expr: str, k: int = 9) -> str:
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({expr}) - {k - 1}, 1) + 1), "
        f"i -> substr({expr}, i, {k})))"
    )


def _dd_human_time(seconds_expr: str, verbosity: int = 2) -> str:
    """DuckDB replica of to_human_time's greedy unit decomposition."""
    units = [("y", 31104000), ("mo", 2592000), ("w", 604800), ("d", 86400),
             ("h", 3600), ("m", 60), ("s", 1)]
    s = f"abs({seconds_expr})"
    parts = []
    for name, count in units:
        rem = s
        for _, bigger in units:
            if bigger > count:
                rem = f"({rem} % {bigger})"
        parts.append(f"{{'v': ({rem} // {count}), 'n': '{name}'}}")
    arr = "[" + ", ".join(parts) + "]"
    joined = (
        f"array_to_string(list_transform(list_slice("
        f"list_filter({arr}, x -> x.v > 0), 1, {verbosity}), "
        f"x -> x.v::VARCHAR || x.n), ' ')"
    )
    return (
        f"CASE WHEN {seconds_expr} = 0 THEN '0s' "
        f"WHEN {seconds_expr} < 0 THEN '-' || {joined} "
        f"ELSE {joined} END"
    )


def _dd_bytes_human(bytes_expr: str, granularity: int = 2) -> str:
    """DuckDB replica of bytes_to_human's binary-prefix decomposition
    (reference helpers.py:301-320; 0 → '0', parts joined with ', ')."""
    units = [("TB", 1024**4), ("GB", 1024**3), ("MB", 1024**2),
             ("KB", 1024), ("B", 1)]
    parts = []
    for name, count in units:
        rem = f"({bytes_expr})"
        for _, bigger in units:
            if bigger > count:
                rem = f"({rem} % {bigger})"
        parts.append(f"{{'v': ({rem} // {count}), 'n': '{name}'}}")
    arr = "[" + ", ".join(parts) + "]"
    joined = (
        f"array_to_string(list_transform(list_slice("
        f"list_filter({arr}, x -> x.v > 0), 1, {granularity}), "
        f"x -> x.v::VARCHAR || x.n), ', ')"
    )
    return f"CASE WHEN {bytes_expr} = 0 THEN '0' ELSE {joined} END"


# left-fold double dot product — same reduction order as the Spark side
def _dd_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)"
    )


def _dd_norm(a: str, dim: int = 64) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), "
        f"i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)), (acc, x) -> acc + x))"
    )


def _dd_cosine(a: str, b: str, dim: int = 64) -> str:
    return f"({_dd_dot(a, b, dim)} / ({_dd_norm(a, dim)} * {_dd_norm(b, dim)}))"


_SNAKE_SQL_RULES = [
    ("([a-zа-яё])([A-ZА-ЯЁ])", r"\1_\2"),
    ("([a-zа-яё])([0-9])", r"\1_\2"),
    ("([0-9])([a-zа-яё])", r"\1_\2"),
    ("[^a-zA-Zа-яёА-ЯЁ0-9_]", "_"),
]


def _dd_snake(expr: str) -> str:
    out = expr
    for pattern, repl in _SNAKE_SQL_RULES:
        out = f"regexp_replace({out}, '{pattern}', '{repl}', 'g')"
    out = f"lower({out})"
    return f"CASE WHEN trim({expr}) = '' THEN trim({expr}) ELSE {out} END"


def _dd_lsh_bucket(vec: str, num_planes: int = 8, dim: int = 64, offset: int = 0) -> str:
    """DuckDB replica of the sign-LSH bucket key — identical plane family
    and left-fold dot products as operators/similarity.lsh_bucket_key.
    ``offset`` selects band ``offset // num_planes``'s plane family."""
    from yandex_tracker_exporter_spark.operators.similarity import _plane_component

    terms = []
    for j in range(num_planes):
        plane = "[" + ", ".join(
            repr(_plane_component(offset + j, d)) for d in range(dim)
        ) + "]"
        dot_j = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, {dim} + 1), "
            f"d -> {vec}[d]::DOUBLE * ({plane}::DOUBLE[])[d])), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot_j} >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_MINHASH_SIG = (
    "list_transform(range(0, 16), i -> "
    "list_min(list_transform(shingles, s -> "
    f"((2*i + 1) * {_dd_hash('s')} + (7919*i + 12345)) % 2147483647)))"
)

_ORACLES: dict[str, str] = {
    "cycle_time_sessionize": """
        WITH sessions AS (
            SELECT user_id, event_type, ts AS session_start,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_type ASC) AS session_end
            FROM events
        )
        SELECT user_id::BIGINT AS user_id,
               event_type,
               count(*)::BIGINT AS transitions,
               sum(floor(epoch(session_end))::BIGINT - floor(epoch(session_start))::BIGINT)::BIGINT
                   AS duration_s,
               max(floor(epoch(session_end))::BIGINT)::BIGINT AS last_seen_epoch
        FROM sessions WHERE session_end IS NOT NULL
        GROUP BY user_id, event_type
    """,
    "latest_version_dedup": """
        SELECT user_id::BIGINT AS user_id, event_type,
               event_id::BIGINT AS last_event_id, value AS last_value
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "incremental_watermark": f"""
        SELECT count(*)::BIGINT AS n_rows,
               max(floor(epoch(ts))::BIGINT)::BIGINT AS max_ts_epoch
        FROM events
        WHERE ts >= TIMESTAMP '{WATERMARK_TS}'
          AND event_type IN ('purchase', 'signup')
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))))
                    AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))
                        * (1.00::DECIMAL(3,2) + CAST(l_tax AS DECIMAL(4,2))))
                    AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                   AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                   AS avg_price,
               count(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
          AND abs(l_quantity) < 1e15
          AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
          AND abs(l_extendedprice) < 1e15
          AND l_discount IS NOT NULL AND NOT isnan(l_discount)
          AND abs(l_discount) < 1e15
          AND l_tax IS NOT NULL AND NOT isnan(l_tax) AND abs(l_tax) < 1e15
        GROUP BY l_returnflag, l_linestatus
    """,
    "region_revenue": """
        SELECT r_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               count(*)::BIGINT AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "top_customers": """
        SELECT c_custkey::BIGINT AS c_custkey, c_name, revenue
        FROM (
            SELECT o_custkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM orders
            WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
              AND abs(o_totalprice) < 1e15
            GROUP BY o_custkey
        ) r JOIN customer ON r.o_custkey = c_custkey
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 10
    """,
    "point_lookup": """
        SELECT o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey,
               o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey = 42
    """,
    "snake_case_normalize": f"""
        SELECT p_partkey::BIGINT AS p_partkey,
               {_dd_snake('p_type')} AS p_type_snake,
               {_dd_snake('p_brand')} AS p_brand_snake
        FROM part
    """,
    "human_time_format": f"""
        WITH agg AS (
            SELECT event_type,
                   CAST(floor(sum(CAST(value AS DECIMAL(18,2)))) AS BIGINT) AS total_s
            FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
            GROUP BY event_type
        )
        SELECT event_type, total_s, {_dd_human_time('total_s', 2)} AS human_duration
        FROM agg
    """,
    "business_hours_duration": """
        WITH sessions AS (
            SELECT user_id, event_type, ts AS ss,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_type ASC) AS se
            FROM events WHERE user_id < 5
        ), scored AS (
            SELECT user_id, event_type, ss, se,
                   (SELECT coalesce(sum(
                        greatest(
                            least(floor(epoch(se))::BIGINT,
                                  floor(epoch(d + INTERVAL 22 HOUR))::BIGINT)
                            - greatest(floor(epoch(ss))::BIGINT,
                                       floor(epoch(d + INTERVAL 9 HOUR))::BIGINT),
                            0)), 0)
                    FROM unnest(generate_series(date_trunc('day', ss),
                                                date_trunc('day', se),
                                                INTERVAL 1 DAY)) AS t(d)
                    WHERE isodow(d) <= 5) AS bus_s
            FROM sessions WHERE se IS NOT NULL
        )
        SELECT user_id::BIGINT AS user_id, event_type,
               sum(floor(epoch(se))::BIGINT - floor(epoch(ss))::BIGINT)::BIGINT AS duration,
               sum(bus_s)::BIGINT AS busdays_duration
        FROM scored
        GROUP BY user_id, event_type
    """,
    "json_value_extract": """
        SELECT event_id::BIGINT AS event_id,
               TRY_CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END)
                        AS BIGINT) AS k_value
        FROM events
        WHERE TRY_CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END)
                       AS BIGINT) >= 90
    """,
    "exact_dedup": """
        SELECT md5(text) AS content_md5,
               min(doc_id)::BIGINT AS representative_id,
               count(*)::BIGINT AS dup_count
        FROM documents
        GROUP BY md5(text)
    """,
    "minhash_lsh_pairs": f"""
        WITH sigs AS (
            SELECT doc_id, {_MINHASH_SIG} AS sig
            FROM (SELECT doc_id, {_dd_shingles('text')} AS shingles FROM documents)
        ), banded AS (
            SELECT doc_id, sig, bi,
                   md5(sig[4*bi + 1]::VARCHAR || '_' || sig[4*bi + 2]::VARCHAR
                       || '_' || sig[4*bi + 3]::VARCHAR || '_'
                       || sig[4*bi + 4]::VARCHAR) AS band_key
            FROM sigs, unnest(range(0, 4)) AS t(bi)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                            a.sig AS a_sig, b.sig AS b_sig
            FROM banded a JOIN banded b
              ON a.bi = b.bi AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
               (len(list_filter(range(1, 17), i -> a_sig[i] = b_sig[i]))::DOUBLE
                / 16.0) AS est_jaccard
        FROM cand
        WHERE (len(list_filter(range(1, 17), i -> a_sig[i] = b_sig[i]))::DOUBLE
               / 16.0) >= 0.5
    """,
    # same LSH candidate CTEs as minhash_lsh_pairs, then exact
    # Levenshtein verification (byte-level == codepoint-level on this
    # ASCII corpus)
    "edit_distance_pairs": f"""
        WITH sigs AS (
            SELECT doc_id, {_MINHASH_SIG} AS sig
            FROM (SELECT doc_id, {_dd_shingles('text')} AS shingles FROM documents)
        ), banded AS (
            SELECT doc_id, sig, bi,
                   md5(sig[4*bi + 1]::VARCHAR || '_' || sig[4*bi + 2]::VARCHAR
                       || '_' || sig[4*bi + 3]::VARCHAR || '_'
                       || sig[4*bi + 4]::VARCHAR) AS band_key
            FROM sigs, unnest(range(0, 4)) AS t(bi)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                            a.sig AS a_sig, b.sig AS b_sig
            FROM banded a JOIN banded b
              ON a.bi = b.bi AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ), lsh AS (
            SELECT a_id, b_id FROM cand
            WHERE (len(list_filter(range(1, 17), i -> a_sig[i] = b_sig[i]))::DOUBLE
                   / 16.0) >= 0.5
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
               levenshtein(da.text, db.text)::BIGINT AS edit_distance
        FROM lsh
        JOIN documents da ON da.doc_id = a_id
        JOIN documents db ON db.doc_id = b_id
    """,
    # winnowing: positional 9-gram rolling hashes → window-4 minima →
    # distinct fingerprints; stop-fp cap df<=10; pairs sharing >=3
    "winnow_span_pairs": f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(
                       list_transform(range(1, greatest(len(text) - 8, 1) + 1),
                                      i -> substr(text, i, 9)),
                       s -> {_dd_hash('s')}) AS h
            FROM documents
        ), fp AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(h) - 3, 1) + 1),
                       j -> list_min(h[j:j+3]))) AS fps
            FROM hs
        ), x AS (
            SELECT doc_id, unnest(fps) AS fp FROM fp
        ), dfreq AS (
            SELECT fp, count(*) AS df FROM x GROUP BY fp
        ), rare AS (
            SELECT doc_id, fp FROM x JOIN dfreq USING (fp) WHERE df <= 10
        ), pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared_fps
            FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
               shared_fps::BIGINT AS shared_fps
        FROM pairs WHERE shared_fps >= 3
    """,
    "grouping_sets_orders": f"""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus, o_orderpriority)::BIGINT AS gid,
               count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders WHERE {_DD_ROLLUP_GUARD}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """,
    "ntile_quartiles": """
        WITH q AS (
            SELECT event_type, value,
                   ntile(4) OVER (PARTITION BY event_type
                                  ORDER BY value ASC, event_id ASC) AS quartile
            FROM events
        )
        SELECT event_type, quartile::BIGINT AS quartile,
               count(*)::BIGINT AS n,
               min(value) AS min_value,
               max(value) AS max_value
        FROM q GROUP BY event_type, quartile
    """,
    "simhash_hamming_pairs": None,  # generated below (62-bit salted sigs)
    "knn_classify": f"""
        WITH scored AS (
            SELECT q.vec_id::BIGINT AS query_id, c.vec_id::BIGINT AS neighbor_id,
                   c.label::BIGINT AS n_label,
                   {_dd_cosine('q.embedding', 'c.embedding')} AS cosine_sim
            FROM (SELECT * FROM embeddings WHERE {_dd_usable_vec()}) q
            JOIN (SELECT * FROM embeddings WHERE {_dd_usable_vec()}) c
              ON q.vec_id != c.vec_id
            WHERE q.vec_id < 20
        ), top AS (
            SELECT query_id, n_label FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 10
        ), votes AS (
            SELECT query_id, n_label, count(*)::BIGINT AS votes
            FROM top GROUP BY query_id, n_label
        )
        SELECT query_id, n_label AS predicted_label, votes FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY votes DESC, n_label ASC) AS r
            FROM votes
        ) WHERE r = 1
    """,
    "regression_stats": """
        WITH j AS (
            SELECT c_mktsegment,
                   round(c_acctbal)::BIGINT AS x,
                   round(o_totalprice)::BIGINT AS y
            FROM orders JOIN customer ON o_custkey = c_custkey
        ), agg AS (
            SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
                   CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(x*y) AS DOUBLE) AS sxy,
                   CAST(sum(x*x) AS DOUBLE) AS sxx,
                   CAST(sum(y*y) AS DOUBLE) AS syy
            FROM j GROUP BY c_mktsegment
        ), d AS (
            SELECT *, CAST(n_orders AS DOUBLE) AS n FROM agg
        )
        SELECT c_mktsegment, n_orders,
               (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
               (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
               (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))
                   AS pearson_r
        FROM d
    """,
    "moving_avg_daily": """
        WITH daily AS (
            SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01')::BIGINT
                       AS day_num,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d,
                   count(*)::BIGINT AS n_orders
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
              AND NOT isnan(o_totalprice) AND abs(o_totalprice) < 1e15
            GROUP BY 1
        )
        SELECT day_num, CAST(rev_d AS DOUBLE) AS revenue, n_orders,
               CAST(sum(rev_d) OVER w AS DOUBLE)
                   / CAST(count(*) OVER w AS DOUBLE) AS moving_avg_7d
        FROM daily
        WINDOW w AS (ORDER BY day_num ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "media_audio_energy": """
        WITH chars AS (
            SELECT doc_id, i,
                   ((ascii(substr(text, i, 1)) * 131) % 65536 - 32768)::BIGINT
                       AS s
            FROM documents, unnest(range(1, len(text) + 1)) AS t(i)
            WHERE ((doc_id % 2) + 2) % 2 = 0
        )
        SELECT doc_id::BIGINT AS media_id,
               CAST(floor((i - 1) / 256.0) AS BIGINT) AS frame_idx,
               count(*)::BIGINT AS n_samples,
               sum(s * s)::BIGINT AS energy
        FROM chars
        GROUP BY doc_id, CAST(floor((i - 1) / 256.0) AS BIGINT)
    """,
    "top_sources_agg": """
        WITH counts AS (
            SELECT lang, source, count(*)::BIGINT AS n_docs
            FROM documents GROUP BY lang, source
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY lang
                        ORDER BY n_docs DESC, source ASC) AS r
            FROM counts
        )
        SELECT lang,
               string_agg(source, ',' ORDER BY r ASC) AS top_sources,
               sum(n_docs)::BIGINT AS top5_docs,
               count(*)::BIGINT AS n_sources
        FROM ranked WHERE r <= 5
        GROUP BY lang
    """,
    "percent_rank_acctbal": """
        SELECT c_custkey::BIGINT AS c_custkey, c_mktsegment,
               percent_rank() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal ASC) AS pct_rank,
               cume_dist() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal ASC) AS cume_dist
        FROM customer
    """,
    "shipping_priority": """
        SELECT l_orderkey::BIGINT AS l_orderkey,
               floor(epoch(o_orderdate))::BIGINT AS orderdate_epoch,
               o_orderpriority,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "vocab_oov_stats": """
        WITH words AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ), vocab AS (
            SELECT w FROM (
                SELECT w, count(*) AS cnt FROM words
                GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 20
            )
        )
        SELECT doc_id::BIGINT AS doc_id,
               count(*)::BIGINT AS n_tokens,
               sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)::BIGINT
                   AS oov_tokens
        FROM words GROUP BY doc_id
    """,
    # the salt never leaves the operator: plain join + aggregate
    "salted_join_agg": """
        WITH dim AS (
            SELECT DISTINCT event_type, len(event_type)::BIGINT AS type_weight
            FROM events
        )
        SELECT e.event_type,
               count(*)::BIGINT AS n_events,
               d.type_weight
        FROM events e JOIN dim d USING (event_type)
        GROUP BY e.event_type, d.type_weight
    """,
    # media fixture is encode→decode symmetric: WAV PCM samples are
    # (cp*131) % 65536 - 32768 per text codepoint, PPM pixels are
    # (cp*7) % 256 cycled to 48 bytes — so the oracle computes the
    # decoded features straight from the text, proving the pure-Python
    # WAV/PPM parsers recover the exact encoded content
    "media_decode_features": """
        WITH base AS (
            -- the fixture builder skips null/empty text; the oracle
            -- must apply the same guard (sibling media oracles do)
            SELECT doc_id, text, len(text) AS n FROM documents
            WHERE len(text) > 0
        )
        SELECT doc_id::BIGINT AS media_id,
               CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 'wav' ELSE 'ppm' END AS format,
               (CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN NULL ELSE 4 END)::BIGINT AS width,
               (CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 8000 ELSE NULL END)::BIGINT
                   AS sample_rate,
               (CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN n ELSE 48 END)::BIGINT
                   AS n_elements,
               (CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN (n * 1000) // 8000 ELSE NULL END)::BIGINT
                   AS duration_ms,
               CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN
                   list_reduce(list_prepend(0::BIGINT,
                       list_transform(range(1, n + 1),
                           i -> (ascii(substr(text, i, 1))::BIGINT * 131) % 65536
                                - 32768)),
                       (a, x) -> a + x)
               ELSE
                   list_reduce(list_prepend(0::BIGINT,
                       list_transform(range(0, 48),
                           i -> (ascii(substr(text, (i % n)::INT + 1, 1))::BIGINT * 7)
                                % 256)),
                       (a, x) -> a + x)
               END AS content_checksum
        FROM base
    """,
    "media_metadata_stats": """
        WITH media AS (
            SELECT ['image', 'audio', 'video']
                       [(((event_id % 3) + 3) % 3)::INT + 1] AS kind,
                   ((((user_id % 1920) + 1920) % 1920) + 1)::BIGINT AS width,
                   (((event_id * 37) % 600000 + 600000) % 600000)::BIGINT
                       AS duration_ms
            FROM events WHERE event_id IS NOT NULL
        )
        SELECT kind,
               count(*)::BIGINT AS n_media,
               sum(duration_ms)::DOUBLE / count(duration_ms) AS avg_duration_ms,
               max(width)::BIGINT AS max_width
        FROM media GROUP BY kind
    """,
    # same candidate/threshold CTEs as minhash_lsh_pairs, then transitive
    # closure: component label = min doc_id over the reachable set, which
    # is exactly what the Spark min-label propagation converges to
    "dedup_clusters": None,  # generated below (shared recursive-CC CTEs)
    # verification runs over DISTINCT shingle-HASH sets (same 31-bit
    # polynomial hash as the Spark kernel) — identical set arithmetic on
    # both engines, and long-array intersects instead of string intersects
    "ngram_jaccard_pairs": f"""
        WITH docs AS (
            SELECT doc_id, {_dd_shingles('text')} AS shingles FROM documents
        ), hashed AS (
            SELECT doc_id,
                   {_MINHASH_SIG} AS sig,
                   list_distinct(list_transform(shingles, s -> {_dd_hash('s')}))
                       AS hset
            FROM docs
        ), banded AS (
            SELECT doc_id, bi,
                   md5(sig[4*bi + 1]::VARCHAR || '_' || sig[4*bi + 2]::VARCHAR
                       || '_' || sig[4*bi + 3]::VARCHAR || '_'
                       || sig[4*bi + 4]::VARCHAR) AS band_key
            FROM hashed, unnest(range(0, 4)) AS t(bi)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a JOIN banded b
              ON a.bi = b.bi AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ), verified AS (
            SELECT a_id, b_id,
                   len(list_intersect(da.hset, db.hset))::DOUBLE
                   / (len(da.hset) + len(db.hset)
                      - len(list_intersect(da.hset, db.hset)))::DOUBLE
                       AS jaccard
            FROM cand
            JOIN hashed da ON da.doc_id = a_id
            JOIN hashed db ON db.doc_id = b_id
        )
        SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, jaccard
        FROM verified WHERE jaccard >= 0.6
    """,
    "simhash_signatures": f"""
        WITH toks AS (
            SELECT doc_id,
                   list_transform(regexp_split_to_array(text, '\\s+'),
                                  t -> {_dd_hash('t')}) AS th
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id::BIGINT AS doc_id,
               CAST(list_reduce(list_prepend(0::BIGINT,
                   list_transform(range(0, 32), j ->
                       CASE WHEN list_reduce(list_prepend(0::BIGINT,
                                list_transform(th, h ->
                                    CASE WHEN (h >> j) & 1 = 1
                                         THEN 1::BIGINT ELSE (-1)::BIGINT END)),
                                (a, x) -> a + x) > 0
                            THEN (1::BIGINT << j) ELSE 0::BIGINT END)),
                   (a, x) -> a + x) AS BIGINT) AS simhash
        FROM toks
    """,
    "language_id": None,  # generated below
    "quality_score": None,
    "token_count": """
        SELECT doc_id::BIGINT AS doc_id,
               len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END))::BIGINT AS ws_tokens,
               len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS subword_chunks
        FROM documents
    """,
    "doc_fingerprint": """
        SELECT doc_id::BIGINT AS doc_id,
               CAST(list_reduce(list_prepend(0::BIGINT,
                   list_transform(range(1, len(text) + 1),
                                  i -> ascii(substr(text, i, 1))::BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS fingerprint
        FROM documents WHERE text IS NOT NULL
    """,
    "cosine_topk": f"""
        WITH scored AS (
            SELECT q.vec_id::BIGINT AS query_id, c.vec_id::BIGINT AS neighbor_id,
                   {_dd_cosine('q.embedding', 'c.embedding')} AS cosine_sim
            FROM (SELECT * FROM embeddings WHERE {_dd_usable_vec()}) q
            JOIN (SELECT * FROM embeddings WHERE {_dd_usable_vec()}) c
              ON q.vec_id != c.vec_id
            WHERE q.vec_id < 5
        )
        SELECT query_id, neighbor_id, cosine_sim, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, neighbor_id ASC)::BIGINT AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    "embedding_neardup": None,  # generated below (multi-band LSH banding)
    "lsh_bucket_topk": None,  # generated below (plane literals)
    "rollup_orders": f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders WHERE {_DD_ROLLUP_GUARD}
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "median_gap": """
        WITH gaps AS (
            SELECT user_id,
                   floor(epoch(ts))::BIGINT
                   - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts ASC)))::BIGINT AS gap
            FROM events
        )
        SELECT user_id::BIGINT AS user_id,
               count(gap)::BIGINT AS n_gaps,
               median(gap)::DOUBLE AS median_gap_s
        FROM gaps WHERE gap IS NOT NULL
        GROUP BY user_id
    """,
    "cube_orders": f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders WHERE {_DD_ROLLUP_GUARD}
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "distinct_agg": """
        SELECT n_name,
               count(DISTINCT o_custkey)::BIGINT AS n_customers,
               count(*)::BIGINT AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "supplier_balance": """
        SELECT n_name,
               CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
               count(*)::BIGINT AS n_suppliers
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_acctbal IS NOT NULL AND NOT isnan(s_acctbal)
          AND abs(s_acctbal) < 1e15
        GROUP BY n_name
    """,
    "range_join": """
        WITH windows AS (
            SELECT i AS window_idx,
                   TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR
                       AS win_start,
                   TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 7 HOUR
                       + INTERVAL 100 MINUTE AS win_end
            FROM unnest(range(0, 200)) AS t(i)
        )
        SELECT e.event_id::BIGINT AS event_id,
               w.window_idx::BIGINT AS window_idx,
               floor(epoch(e.ts))::BIGINT AS ts_epoch
        FROM events e JOIN windows w
          ON e.ts >= w.win_start AND e.ts < w.win_end
    """,
    "asof_join": """
        WITH right_side AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   max(o_orderkey) AS last_orderkey,
                   max(o_totalprice) AS last_totalprice
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id::BIGINT AS event_id,
               e.user_id::BIGINT AS user_id,
               floor(epoch(e.ts))::BIGINT AS ts_epoch,
               r.last_orderkey::BIGINT AS last_orderkey,
               r.last_totalprice
        FROM events e
        ASOF LEFT JOIN right_side r
          ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
    """,
    "sql_interface": """
        SELECT n_name,
               count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        HAVING count(*) >= 10
    """,
    "session_window_native": """
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
                             >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events WHERE ts IS NOT NULL
        )
        SELECT user_id::BIGINT AS user_id,
               (sum(new_session) + 1)::BIGINT AS n_sessions,
               count(*)::BIGINT AS n_events
        FROM flagged GROUP BY user_id
    """,
    "top_docs_per_lang": """
        SELECT lang, doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars,
               rank::BIGINT AS rank
        FROM (
            SELECT lang, doc_id, n_chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars DESC, doc_id ASC) AS rank
            FROM documents
        ) WHERE rank <= 3
    """,
    "windowed_counts": """
        SELECT ((floor(epoch(ts))::BIGINT // 3600) * 3600)::BIGINT AS window_epoch,
               event_type,
               count(*)::BIGINT AS n_events,
               CAST(sum(CAST(CASE WHEN isnan(value) OR abs(value) >= 1e15
                                  THEN NULL ELSE value END
                             AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
    "chunk_documents": """
        WITH t AS (
            SELECT doc_id, (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS toks
            FROM documents WHERE text IS NOT NULL
        ), c AS (
            SELECT doc_id, toks,
                   greatest(1, floor((len(toks) - 8 + 23) / 24))::INT AS n_chunks
            FROM t
        )
        SELECT doc_id::BIGINT AS doc_id, i::BIGINT AS chunk_idx,
               len(toks[i*24 + 1 : i*24 + 32])::BIGINT AS n_chunk_tokens,
               -- empty slice: engine's array_join gives '', DuckDB NULL
               coalesce(array_to_string(toks[i*24 + 1 : i*24 + 32], ' '), '')
                   AS chunk_text
        FROM c, unnest(range(0, n_chunks)) AS u(i)
    """,
    "dup_window_ratio": """
        WITH t AS (
            SELECT doc_id, (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS toks
            FROM documents WHERE text IS NOT NULL
        ), c AS (
            SELECT doc_id, toks,
                   greatest(1, floor((len(toks) + 15) / 16))::INT AS n_w
            FROM t
        ), w AS (
            -- empty window: coalesce to '' so its hash is non-null (a
            -- NULL hash silently dropped the doc at the freq join)
            SELECT doc_id,
                   md5(coalesce(
                       array_to_string(toks[i*16 + 1 : i*16 + 16], ' '), ''
                   )) AS wh
            FROM c, unnest(range(0, n_w)) AS u(i)
        ), freq AS (
            SELECT wh, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY wh
        )
        SELECT w.doc_id::BIGINT AS doc_id,
               count(*)::BIGINT AS n_windows,
               sum(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT
                   AS n_dup_windows,
               sum(CASE WHEN freq.ndocs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                   / count(*)::DOUBLE AS dup_ratio
        FROM w JOIN freq USING (wh)
        GROUP BY w.doc_id
    """,
    "pii_redact": None,  # generated below (shared regex constants)
    # eval-set decontamination: same polynomial shingle hashes on both
    # engines; any shared 20-gram hash with the benchmark drops the doc
    "decontaminate": f"""
        WITH corp_h AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(shingles,
                       s -> {_dd_hash('s')}))) AS h
            FROM (SELECT doc_id, {_dd_shingles('text', 20)} AS shingles
                  FROM documents WHERE doc_id % 20 != 0)
        ), bench_h AS (
            SELECT DISTINCT unnest(list_distinct(list_transform(shingles,
                       s -> {_dd_hash('s')}))) AS h
            FROM (SELECT doc_id, {_dd_shingles('text', 20)} AS shingles
                  FROM documents WHERE doc_id % 20 = 0)
        ), bad AS (
            SELECT DISTINCT doc_id FROM corp_h JOIN bench_h USING (h)
        )
        SELECT doc_id::BIGINT AS doc_id
        FROM documents
        WHERE doc_id % 20 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        ORDER BY doc_id
    """,
    "pack_token_budget": """
        WITH toks AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END))::BIGINT AS n_tokens
            FROM documents
        )
        SELECT doc_id::BIGINT AS doc_id, shard::BIGINT AS shard,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY shard
                        ORDER BY doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 512.0) AS BIGINT) AS bin_idx,
               n_tokens
        FROM toks
    """,
    "bytes_human": f"""
        SELECT o_orderkey::BIGINT AS o_orderkey,
               CAST(floor(o_totalprice * 17) AS BIGINT) AS size_bytes,
               {_dd_bytes_human('CAST(floor(o_totalprice * 17) AS BIGINT)')}
                   AS human_size
        FROM orders WHERE o_orderkey < 2000
    """,
    "running_total": """
        SELECT o_custkey::BIGINT AS o_custkey,
               o_orderkey::BIGINT AS o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate ASC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_total
        FROM orders WHERE o_custkey < 50
    """,
    "pivot_orders": """
        SELECT o_orderpriority,
               coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0)::BIGINT AS n_f,
               coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0)::BIGINT AS n_o,
               coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0)::BIGINT AS n_p
        FROM orders
        GROUP BY o_orderpriority
    """,
    "set_ops": """
        SELECT o_custkey::BIGINT AS o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-07-01'
        INTERSECT
        SELECT o_custkey::BIGINT AS o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-07-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
    """,
    "value_percentiles": """
        SELECT event_type,
               quantile_cont(value::DOUBLE, 0.5) AS p50,
               quantile_cont(value::DOUBLE, 0.9) AS p90,
               quantile_cont(value::DOUBLE, 0.99) AS p99
        FROM events
        GROUP BY event_type
    """,
    "anti_join": """
        SELECT c_custkey::BIGINT AS c_custkey, c_name,
               c_nationkey::BIGINT AS c_nationkey
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "bigram_counts": """
        WITH toks AS (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
            WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2
        ), bi AS (
            SELECT t[i] || ' ' || t[i + 1] AS bigram
            FROM toks, unnest(range(1, len(t))) AS u(i)
        )
        SELECT bigram, count(*)::BIGINT AS n
        FROM bi
        GROUP BY bigram
        HAVING count(*) >= 5
        ORDER BY n DESC, bigram ASC
        LIMIT 50
    """,
    "display_timezone": """
        SELECT event_id::BIGINT AS event_id,
               strftime(timezone('Europe/Moscow', timezone('UTC', ts::TIMESTAMP)),
                        '%Y-%m-%dT%H:%M:%S.%g') AS local_dt,
               strftime(timezone('Europe/Moscow', timezone('UTC', ts::TIMESTAMP)),
                        '%Y-%m-%d') AS local_date
        FROM events
    """,
    "session_gaps": """
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN floor(epoch(ts))::BIGINT
                             - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC)))::BIGINT > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        )
        SELECT user_id::BIGINT AS user_id,
               (sum(new_session) + 1)::BIGINT AS n_sessions,
               count(*)::BIGINT AS n_events
        FROM flagged GROUP BY user_id
    """,
}


def _build_lang_id_sql() -> str:
    cases = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        cases.append(
            f"{{'hits': len(list_filter(toks, t -> list_contains({arr}, t)))::BIGINT,"
            f" 'lang': '{lang}'}}"
        )
    scored = "[" + ", ".join(cases) + "]"
    return f"""
        WITH t AS (
            SELECT doc_id, (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, {scored} AS scored FROM t
        ), m AS (
            SELECT doc_id, scored,
                   list_max(list_transform(scored, x -> x.hits)) AS max_hits
            FROM s
        )
        SELECT doc_id::BIGINT AS doc_id,
               CASE WHEN max_hits > 0
                    THEN list_filter(scored, x -> x.hits = max_hits)[1].lang
                    ELSE 'und' END AS detected_lang,
               max_hits::BIGINT AS marker_hits
        FROM m
    """


def _build_quality_sql() -> str:
    stop_arr = "[" + ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS) + "]"
    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS toks,
                   len(text)::BIGINT AS n_chars
            FROM documents
        ), f AS (
            SELECT doc_id, n_chars, len(toks)::BIGINT AS n_tokens,
                   (n_chars - (len(toks) - 1))::DOUBLE / len(toks)::DOUBLE
                       AS avg_token_len,
                   len(list_filter(toks, x -> list_contains({stop_arr}, x)))::DOUBLE
                       / len(toks)::DOUBLE AS stopword_ratio
            FROM t
        )
        SELECT doc_id::BIGINT AS doc_id, n_chars, n_tokens, avg_token_len,
               stopword_ratio,
               (least(1.0::DOUBLE, n_tokens::DOUBLE / 64.0) * 0.5
                + stopword_ratio * 0.25
                + least(1.0::DOUBLE, avg_token_len / 8.0) * 0.25) AS quality
        FROM f
    """


def _build_corpus_clean_sql() -> str:
    stop_arr = "[" + ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS) + "]"
    return f"""
        WITH t AS (
            SELECT doc_id, text, lang,
                   (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS toks,
                   len(text)::BIGINT AS n_chars
            FROM documents
        ), f AS (
            SELECT doc_id, text, lang, n_chars, len(toks)::BIGINT AS n_tokens,
                   (n_chars - (len(toks) - 1))::DOUBLE / len(toks)::DOUBLE
                       AS avg_token_len,
                   len(list_filter(toks, x -> list_contains({stop_arr}, x)))::DOUBLE
                       / len(toks)::DOUBLE AS stopword_ratio
            FROM t
        ), gated AS (
            SELECT doc_id, text, lang, n_tokens,
                   (least(1.0::DOUBLE, n_tokens::DOUBLE / 64.0) * 0.5
                    + stopword_ratio * 0.25
                    + least(1.0::DOUBLE, avg_token_len / 8.0) * 0.25) AS quality
            FROM f
            WHERE n_tokens >= 16 AND stopword_ratio <= 0.5
        )
        SELECT doc_id::BIGINT AS doc_id, lang, n_tokens, quality
        FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id ASC) AS rn
            FROM gated
        ) WHERE rn = 1
    """


def _build_ivf_topk_sql() -> str:
    cos_assign = _dd_cosine("c.embedding", "ct.centv")
    cos_probe = _dd_cosine("q.embedding", "ct.centv")
    cos_final = _dd_cosine("p.qv", "a.embedding")
    return f"""
        WITH centroids AS (
            SELECT vec_id AS centroid_id, embedding AS centv
            FROM embeddings WHERE {_dd_usable_vec()}
            ORDER BY vec_id ASC LIMIT 16
        ), assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT c.vec_id, c.embedding, ct.centroid_id,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY {cos_assign} DESC, ct.centroid_id ASC) AS rn
                FROM (SELECT * FROM embeddings WHERE {_dd_usable_vec()}) c
                CROSS JOIN centroids ct
            ) WHERE rn = 1
        ), probes AS (
            SELECT query_id, qv, centroid_id AS cluster_id FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, ct.centroid_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {cos_probe} DESC, ct.centroid_id ASC) AS rn
                FROM embeddings q CROSS JOIN centroids ct
                WHERE q.vec_id < 5
            ) WHERE rn <= 4
        ), scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {cos_final} AS cosine_sim
            FROM probes p JOIN assigned a ON p.cluster_id = a.centroid_id
            WHERE p.query_id != a.vec_id
        )
        SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
               cosine_sim
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    """


def _dd_gen_plane_dot(vec: str, plane_idx: int, dim: int = 64) -> str:
    """<vec, plane_{plane_idx}> with the plane embedded as LITERALS
    generated by ``operators.similarity._plane_component`` — repr
    round-trips each double exactly, so the value the Spark plan bakes
    in and the one DuckDB parses are the identical IEEE754 double. (The
    family is md5-hash based, so it cannot be regenerated arithmetically
    in SQL like the old lattice-correlated Knuth recurrence was.)"""
    from yandex_tracker_exporter_spark.operators.similarity import _plane_component

    plane = "[" + ", ".join(
        repr(_plane_component(plane_idx, d)) for d in range(dim)
    ) + "]"
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), "
        f"d -> {vec}[d]::DOUBLE * ({plane}::DOUBLE[])[d])), (acc, x) -> acc + x)"
    )


def _dd_multiband_bucket(vec: str, band: int, num_planes: int, dim: int = 64) -> str:
    """Band ``band``'s sign-LSH bucket (planes band*num_planes ..)."""
    terms = []
    for j in range(num_planes):
        dot_j = _dd_gen_plane_dot(vec, band * num_planes + j, dim)
        terms.append(f"(CASE WHEN {dot_j} >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _build_embedding_neardup_sql() -> str:
    """Mirror of q_embedding_neardup: planted perturbed copies + multi-
    band LSH candidate generation + exact cosine verification."""
    buckets = ", ".join(
        _dd_multiband_bucket("vec", b, NEARDUP_PLANES) for b in range(NEARDUP_BANDS)
    )
    return f"""
        WITH aug AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
            FROM embeddings
            UNION ALL
            SELECT vec_id + {NEARDUP_ID_OFFSET},
                   list_concat([embedding[1]::DOUBLE * 0.5],
                               list_transform(embedding[2:], x -> x::DOUBLE))
            FROM embeddings WHERE len(embedding) >= 1
        ), keyed AS (
            SELECT vec_id, vec, {_dd_norm('vec')} AS nrm, [{buckets}] AS bkts
            FROM aug WHERE (vec IS NOT NULL AND NOT coalesce(list_contains(list_transform(vec, x -> (x IS NULL OR isnan(x::DOUBLE) OR isinf(x::DOUBLE))), true), false) AND len(vec) = 64 AND list_contains(list_transform(vec, x -> x::DOUBLE != 0), true))
        ), banded AS (
            SELECT vec_id, vec, nrm, bi, bkts[bi + 1] AS bucket
            FROM keyed, unnest(range(0, {NEARDUP_BANDS})) AS t(bi)
        ), cand AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   a.vec AS avec, b.vec AS bvec,
                   a.nrm AS anrm, b.nrm AS bnrm
            FROM banded a JOIN banded b
              ON a.bi = b.bi AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT DISTINCT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id, cosine_sim
        FROM (
            SELECT a_id, b_id,
                   ({_dd_dot('avec', 'bvec')} / (anrm * bnrm)) AS cosine_sim
            FROM cand
        ) WHERE cosine_sim >= 0.9
    """


def _build_lsh_topk_sql() -> str:
    bucket = _dd_lsh_bucket("embedding")
    return f"""
        WITH emb AS (
            SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding AS qv, bucket
            FROM emb WHERE vec_id < 5
        ), c AS (
            SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM emb
        ), scored AS (
            SELECT query_id, neighbor_id,
                   {_dd_cosine('qv', 'cv')} AS cosine_sim
            FROM c JOIN q USING (bucket)
            WHERE query_id != neighbor_id
        )
        SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
               cosine_sim
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    """


def _build_pii_redact_sql() -> str:
    from yandex_tracker_exporter_spark.operators.text_analysis import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    return f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id::VARCHAR
                        || '@example.com or +1 555-000-' || doc_id::VARCHAR
                        || '0000' AS text
            FROM documents
        ), r AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{PII_EMAIL_RE}'))::BIGINT
                       AS n_emails,
                   regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g')
                       AS no_email
            FROM aug
        )
        SELECT doc_id::BIGINT AS doc_id, n_emails,
               len(regexp_extract_all(no_email, '{PII_PHONE_RE}'))::BIGINT
                   AS n_phones,
               md5(regexp_replace(no_email, '{PII_PHONE_RE}', '<PHONE>', 'g'))
                   AS redacted_md5
        FROM r
    """


_ORACLES["repetition_signals"] = """
    WITH toks AS (
        SELECT doc_id,
               (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS t
        FROM documents
    ), bi AS (
        SELECT doc_id, t,
               list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1]) AS bg
        FROM toks
    )
    SELECT doc_id::BIGINT AS doc_id,
           len(t)::BIGINT AS n_tokens,
           len(list_distinct(t))::BIGINT AS n_distinct_tokens,
           CASE WHEN len(t) > 0 THEN
               list_max(list_transform(list_distinct(t),
                   u -> len(list_filter(t, x -> x = u))))
           ELSE 0 END::BIGINT AS top_token_count,
           CASE WHEN len(bg) > 0 THEN
               list_max(list_transform(list_distinct(bg),
                   u -> len(list_filter(bg, x -> x = u))))
           ELSE 0 END::BIGINT AS top_bigram_count,
           CASE WHEN len(t) > 0 THEN
               (len(t) - len(list_distinct(t)))::DOUBLE / len(t)::DOUBLE
           ELSE 0.0 END AS dup_token_ratio,
           CASE WHEN len(bg) > 0 THEN
               list_max(list_transform(list_distinct(bg),
                   u -> len(list_filter(bg, x -> x = u))))::DOUBLE
               / len(bg)::DOUBLE
           ELSE 0.0 END AS top_bigram_ratio
    FROM bi
"""

_ORACLES["hash_sample"] = f"""
    WITH hashed AS (
        SELECT doc_id, lang,
               ({_dd_mixed("doc_id::VARCHAR", "sample:")}) % 100
                   AS sample_bucket
        FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT doc_id::BIGINT AS doc_id, lang, sample_bucket::BIGINT AS sample_bucket
    FROM hashed WHERE sample_bucket < 10
"""

_ORACLES["tfidf_top_terms"] = """
    WITH terms AS (
        SELECT doc_id,
               unnest((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END)) AS term
        FROM documents
    ), dt AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM terms GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY term
    ), ranked AS (
        SELECT dt.doc_id, dt.term, dt.tf, dfreq.df,
               row_number() OVER (PARTITION BY dt.doc_id
                   ORDER BY dt.tf DESC, dfreq.df ASC, dt.term ASC)::BIGINT
                   AS rank
        FROM dt JOIN dfreq USING (term)
    )
    SELECT doc_id::BIGINT AS doc_id, term, tf, df, rank
    FROM ranked WHERE rank <= 3
"""

# junk semantics (junk_check, round 10): ASC NULLS FIRST is Spark's
# default ascending null order (DuckDB defaults to NULLS LAST) —
# global_row_number deliberately RANKS a junk NULL row (first, per
# Spark SQL; the r9 null-safe-join fix), so the oracle must say so too
_ORACLES["global_rank"] = """
    SELECT doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars,
           row_number() OVER (ORDER BY n_chars ASC NULLS FIRST,
                              doc_id ASC NULLS FIRST)::BIGINT
               AS global_rank
    FROM documents
"""

def _build_stratified_sample_sql() -> str:
    """Generated from MIXTURE_RATES so engine and oracle share the
    mixture constants (whole copies + fractional hash-bucket cutoff)."""
    whole_cases = " ".join(
        f"WHEN lang = '{g}' THEN {int(r)}" for g, r in sorted(MIXTURE_RATES.items())
    )
    frac_cases = " ".join(
        f"WHEN lang = '{g}' THEN {round((r - int(r)) * MIXTURE_BUCKETS)}"
        for g, r in sorted(MIXTURE_RATES.items())
    )
    bucket = f"(({_dd_mixed('doc_id::VARCHAR', 'mix:')}) % {MIXTURE_BUCKETS})"
    return f"""
        WITH sized AS (
            SELECT doc_id, lang,
                   (CASE {whole_cases} ELSE 1 END)
                   + (CASE WHEN {bucket} <
                        (CASE {frac_cases} ELSE 0 END)
                      THEN 1 ELSE 0 END) AS n_copies
            FROM documents
        )
        SELECT doc_id::BIGINT AS doc_id, lang,
               unnest(range(0, n_copies))::BIGINT AS copy_idx
        FROM sized
    """


_ORACLES["stratified_sample"] = _build_stratified_sample_sql()

def _build_window_funnel_sql() -> str:
    """Cascaded conditional-min CTEs — relationally identical to the
    greedy fold: each step's timestamp is the MIN qualifying event
    (first of its type strictly after the previous step, within the
    window of the anchor), which is exactly what the sorted fold
    matches."""
    s0, s1, s2 = FUNNEL_STEPS
    w = FUNNEL_WINDOW_S
    return f"""
        WITH e AS (
            SELECT user_id, floor(epoch(ts))::BIGINT AS t, event_type AS y
            FROM events WHERE ts IS NOT NULL
        ), s1 AS (
            SELECT user_id, min(t) AS t1 FROM e WHERE y = '{s0}'
            GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(t) AS t2
            FROM e JOIN s1 USING (user_id)
            WHERE y = '{s1}' AND t > t1 AND t <= t1 + {w}
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(t) AS t3
            FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
            WHERE y = '{s2}' AND t > t2 AND t <= t1 + {w}
            GROUP BY e.user_id
        )
        SELECT u.user_id::BIGINT AS user_id,
               (CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END)::BIGINT AS funnel_level
        FROM (SELECT DISTINCT user_id FROM e) u
        LEFT JOIN s1 USING (user_id)
        LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
    """


_ORACLES["window_funnel"] = _build_window_funnel_sql()

def _build_canonicalize_sql() -> str:
    from yandex_tracker_exporter_spark.functions.text import (
        ACCENT_DST,
        ACCENT_SRC,
    )

    return f"""
        WITH v AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN upper(text)
                        WHEN doc_id % 5 = 0
                             THEN regexp_replace(text, ' ', '  ', 'g')
                        WHEN doc_id % 7 = 0
                             THEN regexp_replace(text, 'e', 'é', 'g')
                        ELSE text END AS t
            FROM documents
        )
        SELECT doc_id::BIGINT AS doc_id,
               md5(t) AS raw_md5,
               md5(trim(regexp_replace(
                   translate(lower(t), '{ACCENT_SRC}', '{ACCENT_DST}'),
                   '\\s+', ' ', 'g'))) AS canon_md5
        FROM v
    """


_ORACLES["canonicalize_text"] = _build_canonicalize_sql()

_ORACLES["quantize_embeddings"] = f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                   AS max_abs
        FROM embeddings
        WHERE {_dd_finite_vec("embedding")}
    ), s AS (
        SELECT vec_id, emb,
               CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs
                    ELSE 0.0 END AS scale
        FROM v
    )
    SELECT vec_id::BIGINT AS vec_id, scale,
           (i - 1)::BIGINT AS dim,
           floor(emb[i] * scale + 0.5)::BIGINT AS q
    FROM s, unnest(range(1, len(emb) + 1)) AS t(i)
"""

_ORACLES["gap_fill_hourly"] = """
    WITH c AS (
        SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS hour_epoch,
               event_type AS type, count(*)::BIGINT AS n
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY hour_epoch, type
    ), grid AS (
        SELECT h.hour_epoch, t.type
        FROM (SELECT unnest(range((SELECT min(hour_epoch) FROM c),
                                  (SELECT max(hour_epoch) FROM c) + 1,
                                  3600)) AS hour_epoch) h
        CROSS JOIN (SELECT DISTINCT type FROM c) t
    )
    SELECT grid.hour_epoch, grid.type,
           coalesce(c.n, 0)::BIGINT AS n_events
    FROM grid LEFT JOIN c USING (hour_epoch, type)
"""

_ORACLES["cohort_retention"] = """
    WITH wk AS (
        SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS w
        FROM events
    ), c AS (
        SELECT user_id, min(w) AS cohort FROM wk GROUP BY user_id
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
           ((w - cohort) / 7)::BIGINT AS week_offset,
           count(*)::BIGINT AS n_users
    FROM wk JOIN c USING (user_id)
    GROUP BY cohort, week_offset
"""

_ORACLES["histogram_quantiles"] = f"""
    WITH dom AS (
        SELECT min(value::DOUBLE) AS lo,
               ((max(value::DOUBLE) - min(value::DOUBLE)) / {HISTOGRAM_BUCKETS})
                   AS width
        FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), bucketed AS (
        SELECT event_type,
               least({HISTOGRAM_BUCKETS - 1}, greatest(0,
                   floor((value::DOUBLE - dom.lo) / dom.width)))::BIGINT
                   AS bucket
        FROM events, dom
        WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), counts AS (
        SELECT event_type, bucket, count(*)::BIGINT AS n
        FROM bucketed GROUP BY event_type, bucket
    ), cum AS (
        SELECT event_type, bucket,
               sum(n) OVER (PARTITION BY event_type ORDER BY bucket ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c,
               sum(n) OVER (PARTITION BY event_type) AS total
        FROM counts
    )
    SELECT event_type,
           max(total)::BIGINT AS n,
           dom.lo + min(CASE WHEN c >= ceil(0.5 * total) THEN bucket END)
               * dom.width AS p50,
           dom.lo + min(CASE WHEN c >= ceil(0.95 * total) THEN bucket END)
               * dom.width AS p95,
           dom.lo + min(CASE WHEN c >= ceil(0.99 * total) THEN bucket END)
               * dom.width AS p99
    FROM cum, dom
    GROUP BY event_type, dom.lo, dom.width
"""

_ORACLES["pii_redact"] = _build_pii_redact_sql()
_ORACLES["embedding_neardup"] = _build_embedding_neardup_sql()
_ORACLES["language_id"] = _build_lang_id_sql()
_ORACLES["quality_score"] = _build_quality_sql()
_ORACLES["lsh_bucket_topk"] = _build_lsh_topk_sql()


def _build_lsh_multiband_topk_sql(num_planes: int = 8, num_bands: int = 4) -> str:
    keys = ", ".join(
        f"{_dd_lsh_bucket('embedding', num_planes, 64, b * num_planes)} AS k{b}"
        for b in range(num_bands)
    )
    any_band = " OR ".join(f"c.k{b} = q.k{b}" for b in range(num_bands))
    return f"""
        WITH emb AS (
            SELECT vec_id, embedding, {keys} FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding AS qv,
                   {', '.join(f'k{b}' for b in range(num_bands))}
            FROM emb WHERE vec_id < 5
        ), c AS (
            SELECT vec_id AS neighbor_id, embedding AS cv,
                   {', '.join(f'k{b}' for b in range(num_bands))}
            FROM emb
        ), scored AS (
            SELECT query_id, neighbor_id, {_dd_cosine('qv', 'cv')} AS cosine_sim
            FROM c JOIN q ON ({any_band})
            WHERE query_id != neighbor_id
        )
        SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
               cosine_sim
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    """


def _build_simhash_hamming_sql() -> str:
    toks_plain = (
        "list_transform(regexp_split_to_array(text, '\\s+'), t -> "
        + _dd_hash("t")
        + ")"
    )
    toks_salted = (
        "list_transform(regexp_split_to_array(text, '\\s+'), t -> "
        + _dd_hash("(t || '#')")
        + ")"
    )
    return f"""
        WITH sigs AS (
            SELECT doc_id,
                   {_dd_simhash31(toks_plain)} AS sim_lo,
                   {_dd_simhash31(toks_salted)} AS sim_hi
            FROM documents
        )
        SELECT a.doc_id::BIGINT AS a_id, b.doc_id::BIGINT AS b_id,
               (bit_count(xor(a.sim_lo, b.sim_lo))
                + bit_count(xor(a.sim_hi, b.sim_hi)))::BIGINT AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
    """


def _build_kmeans_sql(
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    prelude: str = "",
    source: str = "embeddings",
    tail: str | None = None,
) -> str:
    """Unrolled Lloyd iterations as CTE chains — mirrors
    operators.clustering.kmeans_quantized exactly: integer L2², ties to
    the smaller cluster, floor-division centroid updates, empty
    clusters keeping their previous centroid. ``prelude``/``source``
    inject an input CTE (semdedup's planted corpus); ``tail`` replaces
    the final SELECT to continue the chain past the assignment."""
    parts = [
        f"""
    WITH {prelude} v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                   AS max_abs
        FROM {source}
        WHERE {_dd_finite_vec("embedding")} AND len(embedding) = {dim}
    ), s AS (
        SELECT vec_id, emb,
               CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs
                    ELSE 0.0 END AS scale
        FROM v
    ), codes AS (
        SELECT vec_id,
               list_transform(range(1, len(emb) + 1),
                              i -> floor(emb[i] * scale + 0.5)::BIGINT) AS q
        FROM s
    ), c0 AS (
        SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cluster,
               q AS clist
        FROM (SELECT vec_id, q FROM codes ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""
    , d{t} AS (
        SELECT cd.vec_id, cd.q, ct.cluster,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                   j -> (cd.q[j] - ct.clist[j]) * (cd.q[j] - ct.clist[j])))
                   AS BIGINT) AS dist
        FROM codes cd CROSS JOIN c{t - 1} ct
    ), a{t} AS (
        SELECT vec_id, q, cluster, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY dist ASC, cluster ASC) AS r
            FROM d{t}
        ) WHERE r = 1
    )""")
        if t < iters:
            parts.append(f"""
    , n{t} AS (
        SELECT a.cluster, t.i AS dimn,
               sum(a.q[t.i])::BIGINT AS sv, count(*)::BIGINT AS cnt
        FROM a{t} a, unnest(range(1, {dim + 1})) AS t(i)
        GROUP BY a.cluster, t.i
    ), u{t} AS (
        SELECT cluster,
               list(floor(CAST(sv AS DOUBLE) / cnt)::BIGINT
                    ORDER BY dimn) AS clist
        FROM n{t} GROUP BY cluster
    ), c{t} AS (
        SELECT p.cluster, coalesce(u.clist, p.clist) AS clist
        FROM c{t - 1} p LEFT JOIN u{t} u USING (cluster)
    )""")
    if tail is None:
        tail = f"""
    SELECT vec_id::BIGINT AS vec_id, cluster, dist AS dist2 FROM a{iters}
    """
    parts.append(tail)
    return "".join(parts)


def _build_semdedup_sql(k: int = 8, iters: int = 2, threshold: float = 0.9) -> str:
    """SemDeDup: kmeans over the planted corpus (same perturbed copies
    as embedding_neardup), then drop any member with a same-cluster
    neighbor of smaller id at cosine >= threshold."""
    prelude = f"""aug AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
        FROM embeddings
        UNION ALL
        SELECT vec_id + {NEARDUP_ID_OFFSET},
               list_concat([embedding[1]::DOUBLE * 0.5],
                           list_transform(embedding[2:], x -> x::DOUBLE))
        FROM embeddings
    ),"""
    tail = f"""
    , membr AS (
        SELECT a.vec_id, a.cluster, s.emb, {_dd_norm('s.emb')} AS nrm
        FROM a{iters} a JOIN s USING (vec_id)
    ), dropped AS (
        SELECT DISTINCT x.vec_id
        FROM membr x JOIN membr y
          ON x.cluster = y.cluster AND y.vec_id < x.vec_id
        WHERE ({_dd_dot('x.emb', 'y.emb')} / (x.nrm * y.nrm)) >= {threshold}
    )
    SELECT m.vec_id::BIGINT AS vec_id, m.cluster,
           (d.vec_id IS NULL) AS is_kept
    FROM membr m LEFT JOIN dropped d USING (vec_id)
    """
    return _build_kmeans_sql(
        k=k, iters=iters, prelude=prelude, source="aug", tail=tail
    )


_ORACLES["semdedup_prune"] = _build_semdedup_sql()


def _dd_cluster_ctes() -> str:
    """Shared recursive-CTE chain: MinHash+LSH pairs → undirected edges
    → transitive closure (``walk``) — the DuckDB mirror of
    operators.dedup.duplicate_clusters' min-label propagation. Used by
    both the dedup_clusters and dedup_keep_best oracles."""
    return f"""
        WITH RECURSIVE sigs AS (
            SELECT doc_id, {_MINHASH_SIG} AS sig
            FROM (SELECT doc_id, {_dd_shingles('text')} AS shingles FROM documents)
        ), banded AS (
            SELECT doc_id, sig, bi,
                   md5(sig[4*bi + 1]::VARCHAR || '_' || sig[4*bi + 2]::VARCHAR
                       || '_' || sig[4*bi + 3]::VARCHAR || '_'
                       || sig[4*bi + 4]::VARCHAR) AS band_key
            FROM sigs, unnest(range(0, 4)) AS t(bi)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                            a.sig AS a_sig, b.sig AS b_sig
            FROM banded a JOIN banded b
              ON a.bi = b.bi AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ), pairs AS (
            SELECT a_id, b_id FROM cand
            WHERE (len(list_filter(range(1, 17), i -> a_sig[i] = b_sig[i]))::DOUBLE
                   / 16.0) >= 0.5
        ), edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION
            SELECT b_id AS src, a_id AS dst FROM pairs
        ), walk AS (
            SELECT DISTINCT src AS id, src AS reach FROM edges
            UNION
            SELECT w.id, e.dst AS reach
            FROM walk w JOIN edges e ON e.src = w.reach
        )"""


_ORACLES["dedup_labels"] = f"""
    {_dd_cluster_ctes()}
        SELECT id::BIGINT AS doc_id,
               min(reach)::BIGINT AS cluster_id
        FROM walk GROUP BY id
"""

_ORACLES["dedup_clusters"] = f"""
    {_dd_cluster_ctes()}
        SELECT id::BIGINT AS doc_id,
               min(reach)::BIGINT AS cluster_id,
               (id = min(reach)) AS is_representative
        FROM walk GROUP BY id
"""


def _build_dedup_keep_best_sql() -> str:
    stop_arr = "[" + ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS) + "]"
    return f"""
    {_dd_cluster_ctes()}
        , labels AS (
            SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id
        ), qt AS (
            SELECT doc_id,
                   (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS toks,
                   len(text)::BIGINT AS n_chars
            FROM documents
        ), qf AS (
            SELECT doc_id, n_chars, len(toks)::BIGINT AS n_tokens,
                   (n_chars - (len(toks) - 1))::DOUBLE / len(toks)::DOUBLE
                       AS avg_token_len,
                   len(list_filter(toks, x -> list_contains({stop_arr}, x)))::DOUBLE
                       / len(toks)::DOUBLE AS stopword_ratio
            FROM qt
        ), qual AS (
            SELECT doc_id,
                   (least(1.0::DOUBLE, n_tokens::DOUBLE / 64.0) * 0.5
                    + stopword_ratio * 0.25
                    + least(1.0::DOUBLE, avg_token_len / 8.0) * 0.25) AS quality
            FROM qf
        ), membr AS (
            SELECT l.id AS doc_id, l.cluster_id, q.quality
            FROM labels l JOIN qual q ON q.doc_id = l.id
        ), ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY cluster_id
                       ORDER BY quality DESC, doc_id ASC) AS r,
                   count(*) OVER (PARTITION BY cluster_id) AS n_members
            FROM membr
        )
        SELECT cluster_id::BIGINT AS cluster_id,
               doc_id::BIGINT AS best_doc_id,
               n_members::BIGINT AS n_members,
               quality AS best_quality
        FROM ranked WHERE r = 1
    """


_ORACLES["dedup_keep_best"] = _build_dedup_keep_best_sql()
_ORACLES["kmeans_clusters"] = _build_kmeans_sql()
_ORACLES["simhash_hamming_pairs"] = _build_simhash_hamming_sql()
_ORACLES["lsh_multiband_topk"] = _build_lsh_multiband_topk_sql()
_ORACLES["ivf_topk"] = _build_ivf_topk_sql()
_ORACLES["corpus_clean"] = _build_corpus_clean_sql()


def _build_hll_distinct_sql() -> str:
    from yandex_tracker_exporter_spark.operators.sketches import (
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_RHO_MAX,
        HLL_SALT,
        hll_lc_table_literal,
        hll_numerator_literal,
    )

    scale = 1 << HLL_RHO_MAX
    return f"""
    WITH h0 AS (
        SELECT event_type,
               ({_dd_hash(f"user_id::VARCHAR || '{HLL_SALT}'")}) AS h0
        FROM events WHERE user_id IS NOT NULL
    ), h AS (
        SELECT event_type, (h0 * h0 + h0) % 2147483647 AS h FROM h0
    ), r AS (
        SELECT event_type,
               h % {HLL_M} AS reg,
               CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                    ELSE {HLL_RHO_MAX} - length(bin(h // {HLL_M}))
               END AS rho
        FROM h
    ), m AS (
        SELECT event_type, reg, max(rho) AS m_reg
        FROM r GROUP BY event_type, reg
    ), s AS (
        SELECT event_type,
               sum(1::BIGINT << ({HLL_RHO_MAX} - m_reg))::BIGINT
                   + ({HLL_M} - count(*)) * {scale}::BIGINT AS s_total,
               ({HLL_M} - count(*))::INTEGER AS v_zero
        FROM m GROUP BY event_type
    ), est AS (
        -- small-range correction: linear counting below 5/2*m, via the
        -- SAME precomputed integer table the engine embeds (no ln())
        SELECT event_type,
               CASE WHEN CAST(floor({hll_numerator_literal()}
                                    / s_total::DOUBLE) AS BIGINT)
                         <= {HLL_LC_THRESHOLD}
                         AND v_zero > 0
                    THEN ({hll_lc_table_literal()})[v_zero]::BIGINT
                    ELSE CAST(floor({hll_numerator_literal()}
                                    / s_total::DOUBLE) AS BIGINT)
               END AS est_users
        FROM s
    ), exact AS (
        SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users
        FROM events GROUP BY event_type
    )
    SELECT est.event_type, est_users, exact_users,
           abs(est_users - exact_users)::BIGINT AS abs_err
    FROM est JOIN exact USING (event_type)
    """


_ORACLES["hll_distinct"] = _build_hll_distinct_sql()

_ORACLES["split_assign"] = f"""
    WITH s AS (
        SELECT doc_id, n_chars,
               ({_dd_mixed("doc_id::VARCHAR", "split:")}) % 100 AS b
        FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars,
           min(doc_id)::BIGINT AS min_doc_id,
           max(doc_id)::BIGINT AS max_doc_id
    FROM s GROUP BY split
"""

_ORACLES["length_buckets"] = """
    WITH t AS (
        SELECT len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END))::BIGINT
                   AS toks
        FROM documents
    ), b AS (
        SELECT toks,
               CASE WHEN toks = 0 THEN 0
                    ELSE length(bin(toks)) END AS bucket
        FROM t
    )
    SELECT bucket::BIGINT AS bucket,
           ((1::BIGINT << bucket) - 1)::BIGINT AS ceiling,
           count(*)::BIGINT AS n_docs,
           sum(toks)::BIGINT AS sum_tokens,
           sum((1::BIGINT << bucket) - 1 - toks)::BIGINT AS pad_waste
    FROM b GROUP BY bucket
"""

_ORACLES["label_centroids"] = f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                   AS max_abs
        FROM embeddings
        WHERE {_dd_finite_vec("embedding")}
    ), s AS (
        SELECT vec_id, label, emb,
               CASE WHEN max_abs > 0.0 THEN 127.0 / max_abs
                    ELSE 0.0 END AS scale
        FROM v
    ), q AS (
        SELECT label::BIGINT AS label,
               (i - 1)::BIGINT AS dim,
               floor(emb[i] * scale + 0.5)::BIGINT AS code
        FROM s, unnest(range(1, len(emb) + 1)) AS t(i)
    ), agg AS (
        SELECT label, dim,
               count(*)::BIGINT AS n_vecs,
               sum(code)::BIGINT AS code_sum
        FROM q GROUP BY label, dim
    )
    SELECT label, dim, n_vecs, code_sum,
           ((code_sum * 1000
             - (((code_sum * 1000) % n_vecs) + n_vecs) % n_vecs)
            / n_vecs)::BIGINT AS centroid_milli
    FROM agg
"""


_ORACLES["triangle_count"] = """
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
    ), e AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT n, count(*)::BIGINT AS deg FROM (
            SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
        ) GROUP BY n
    ), o AS (
        SELECT CASE WHEN du.deg < dv.deg
                      OR (du.deg = dv.deg AND e.u < e.v)
                    THEN e.u ELSE e.v END AS s,
               CASE WHEN du.deg < dv.deg
                      OR (du.deg = dv.deg AND e.u < e.v)
                    THEN e.v ELSE e.u END AS t
        FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ), w AS (
        SELECT e1.s AS apex, e1.t AS w1, e2.t AS w2
        FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t
    ), tri AS (
        SELECT apex FROM w
        WHERE EXISTS (SELECT 1 FROM o
                      WHERE (o.s = w.w1 AND o.t = w.w2)
                         OR (o.s = w.w2 AND o.t = w.w1))
    )
    SELECT apex::BIGINT AS apex, count(*)::BIGINT AS n_triangles
    FROM tri GROUP BY apex
"""


def _build_pagerank_sql(iterations: int = 8) -> str:
    from yandex_tracker_exporter_spark.operators.graph import (
        PR_D_DEN,
        PR_D_NUM,
        PR_SCALE,
    )

    ctes = [
        f"""e AS (
        SELECT c.c_nationkey AS s, su.s_nationkey AS t,
               count(*)::BIGINT AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier su ON l.l_suppkey = su.s_suppkey
        GROUP BY c.c_nationkey, su.s_nationkey
    )""",
        """nodes AS (
        SELECT s AS node FROM e UNION SELECT t AS node FROM e
    )""",
        f"""params AS (
        SELECT count(*)::BIGINT AS n,
               ({PR_SCALE}::BIGINT // count(*))::BIGINT AS base,
               (({PR_D_DEN - PR_D_NUM}::BIGINT * {PR_SCALE})
                // ({PR_D_DEN} * count(*)))::BIGINT AS tp
        FROM nodes
    )""",
        """wout AS (
        SELECT s, sum(w)::BIGINT AS wout FROM e GROUP BY s
    )""",
        """en AS (
        SELECT e.s, e.t, e.w, wout.wout FROM e JOIN wout USING (s)
    )""",
        """r0 AS (
        SELECT node, params.base AS rank FROM nodes CROSS JOIN params
    )""",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""c{i} AS (
        SELECT en.t AS node,
               sum((r{i - 1}.rank * en.w) // en.wout)::BIGINT AS cin
        FROM en JOIN r{i - 1} ON en.s = r{i - 1}.node
        GROUP BY en.t
    )""")
        ctes.append(f"""r{i} AS (
        SELECT nodes.node,
               (params.tp + ({PR_D_NUM}::BIGINT
                    * coalesce(c{i}.cin, 0)) // {PR_D_DEN})::BIGINT AS rank
        FROM nodes CROSS JOIN params
        LEFT JOIN c{i} ON c{i}.node = nodes.node
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node::BIGINT AS node, rank AS rank_e9 "
          f"FROM r{iterations}"
    )


_ORACLES["pagerank_nations"] = _build_pagerank_sql()


def _build_bloom_join_sql() -> str:
    from yandex_tracker_exporter_spark.operators.bloom import (
        BLOOM_INT_PARAMS,
        BLOOM_M_BITS,
        BLOOM_PRIME,
    )

    pos_terms = []
    probe_terms = []
    for i, (a, b) in enumerate(BLOOM_INT_PARAMS):
        pos_terms.append(
            f"SELECT ((p_partkey::BIGINT * {a} + {b}) % {BLOOM_PRIME})"
            f" % {BLOOM_M_BITS} AS pos FROM small"
        )
        probe_terms.append(
            f"((l_partkey::BIGINT * {a} + {b}) % {BLOOM_PRIME})"
            f" % {BLOOM_M_BITS} AS c{i}"
        )
    pos_unions = "\n        UNION\n        ".join(pos_terms)
    probe_cols = ",\n               ".join(probe_terms)
    conds = " AND ".join(
        f"c{i} IN (SELECT pos FROM pos)"
        for i in range(len(BLOOM_INT_PARAMS))
    )
    return f"""
    WITH small AS (
        SELECT p_partkey FROM part WHERE p_size = 1
    ), pos AS (
        {pos_unions}
    ), probes AS (
        SELECT l_partkey, l_returnflag,
               {probe_cols}
        FROM lineitem
    ), passed AS (
        SELECT l_partkey, l_returnflag FROM probes WHERE {conds}
    )
    SELECT l_returnflag,
           count(*)::BIGINT AS n_pass,
           sum(CASE WHEN l_partkey IN (SELECT p_partkey FROM small)
                    THEN 1 ELSE 0 END)::BIGINT AS n_true,
           sum(CASE WHEN l_partkey IN (SELECT p_partkey FROM small)
                    THEN 0 ELSE 1 END)::BIGINT AS n_false_pos
    FROM passed GROUP BY l_returnflag
    """


_ORACLES["bloom_join_filter"] = _build_bloom_join_sql()

_ORACLES["minhash_calibration"] = f"""
    WITH docs AS (
        SELECT doc_id, {_dd_shingles('text')} AS shingles FROM documents
    ), hashed AS (
        SELECT doc_id,
               {_MINHASH_SIG} AS sig,
               list_distinct(list_transform(shingles, s -> {_dd_hash('s')}))
                   AS hset
        FROM docs
    ), banded AS (
        SELECT doc_id, bi,
               md5(sig[4*bi + 1]::VARCHAR || '_' || sig[4*bi + 2]::VARCHAR
                   || '_' || sig[4*bi + 3]::VARCHAR || '_'
                   || sig[4*bi + 4]::VARCHAR) AS band_key
        FROM hashed, unnest(range(0, 4)) AS t(bi)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b
          ON a.bi = b.bi AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), verified AS (
        SELECT a_id, b_id,
               len(list_filter(range(1, 17),
                   i -> da.sig[i] = db.sig[i]))::BIGINT AS m,
               len(list_intersect(da.hset, db.hset))::BIGINT AS sh,
               (len(da.hset) + len(db.hset)
                - len(list_intersect(da.hset, db.hset)))::BIGINT AS un
        FROM cand
        JOIN hashed da ON da.doc_id = a_id
        JOIN hashed db ON db.doc_id = b_id
    )
    SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
           ((m * 1000) // 16)::BIGINT AS est_milli,
           ((sh * 1000) // un)::BIGINT AS exact_milli,
           abs((m * 1000) // 16 - (sh * 1000) // un)::BIGINT AS err_milli
    FROM verified
"""


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, sql in _ORACLES.items() if sql is not None}


# --------------------------------------------------------------------------
# Round-4 batch: sketch/stream-analytics oracles
# --------------------------------------------------------------------------

_CMS_HASH = (
    "(list_transform([" + _dd_hash("(term || ':cms' || d::VARCHAR)") + "], "
    "x -> (x * x + x) % 2147483647)[1])"
)

_ORACLES["cms_heavy_hitters"] = f"""
    WITH terms AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ), exact AS (
        SELECT term, count(*)::BIGINT AS exact_cnt FROM terms GROUP BY term
    ), topk AS (
        SELECT term, exact_cnt FROM exact
        ORDER BY exact_cnt DESC, term ASC LIMIT 20
    ), stream AS (
        SELECT term, d, ({_CMS_HASH}) % 512 AS bucket
        FROM terms, unnest(range(0, 4)) AS t(d)
    ), counters AS (
        SELECT d, bucket, count(*)::BIGINT AS cnt
        FROM stream GROUP BY d, bucket
    ), probes AS (
        SELECT term, d, ({_CMS_HASH}) % 512 AS bucket
        FROM topk, unnest(range(0, 4)) AS t(d)
    ), est AS (
        SELECT p.term, min(c.cnt)::BIGINT AS est_cnt
        FROM probes p JOIN counters c
          ON c.d = p.d AND c.bucket = p.bucket
        GROUP BY p.term
    )
    SELECT k.term, k.exact_cnt, e.est_cnt,
           (e.est_cnt - k.exact_cnt)::BIGINT AS overcount
    FROM topk k JOIN est e ON e.term = k.term
"""

_ORACLES["event_transitions"] = """
    WITH p AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               lead(floor(epoch(ts))::BIGINT) OVER w
                   - floor(epoch(ts))::BIGINT AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT from_type, to_type,
           count(*)::BIGINT AS n_trans,
           sum(gap_s)::BIGINT AS sum_gap_s
    FROM p WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
"""

_ORACLES["ohlc_hourly"] = """
    WITH b AS (
        SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS hour_epoch,
               value AS v, ts, event_id
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), r AS (
        SELECT hour_epoch, v,
               row_number() OVER (PARTITION BY hour_epoch
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY hour_epoch
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM b
    )
    SELECT hour_epoch,
           max(CASE WHEN rn_a = 1 THEN v END) AS open,
           max(v) AS high,
           min(v) AS low,
           max(CASE WHEN rn_d = 1 THEN v END) AS close,
           count(*)::BIGINT AS n_events
    FROM r GROUP BY hour_epoch
"""

_ORACLES["pareto_frontier"] = """
    WITH d AS (
        SELECT lang, doc_id, n_chars::BIGINT AS cost,
               len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END))::BIGINT AS gain
        FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND text IS NOT NULL
    )
    SELECT a.lang, a.doc_id::BIGINT AS doc_id, a.cost, a.gain
    FROM d a
    WHERE NOT EXISTS (
        SELECT 1 FROM d o
        WHERE o.lang = a.lang
          AND o.cost <= a.cost AND o.gain >= a.gain
          AND (o.cost < a.cost OR o.gain > a.gain)
    )
"""

_ORACLES["zscore_outliers"] = """
    WITH b AS (
        SELECT event_type AS segment, event_id,
               floor(value * 100)::BIGINT AS cents
        FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), m AS (
        SELECT segment, count(*)::BIGINT AS n_seg,
               sum(cents)::BIGINT AS s_seg,
               sum(cents * cents)::BIGINT AS q_seg
        FROM b GROUP BY segment
    )
    SELECT b.segment, b.event_id::BIGINT AS event_id, b.cents, m.n_seg,
           floor(((m.n_seg * b.cents - m.s_seg) * 1000)::DOUBLE
                 / m.n_seg::DOUBLE)::BIGINT AS dev_milli
    FROM b JOIN m ON m.segment = b.segment
    WHERE (m.n_seg * b.cents - m.s_seg) * (m.n_seg * b.cents - m.s_seg)
          > 4 * (m.n_seg * m.q_seg - m.s_seg * m.s_seg)
"""

_ORACLES["mixture_apportion"] = """
    WITH t AS (
        SELECT source,
               sum(len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END)))::BIGINT
                   AS tokens
        FROM documents GROUP BY source
    ), s AS (
        SELECT source, tokens,
               ((1000000::BIGINT * tokens)
                // (SELECT sum(tokens) FROM t))::BIGINT AS quota,
               ((1000000::BIGINT * tokens)
                % (SELECT sum(tokens) FROM t))::BIGINT AS rem
        FROM t
    ), r AS (
        SELECT source, tokens, quota, rem,
               row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
               (SELECT sum(quota) FROM s)::BIGINT AS qsum
        FROM s
    )
    SELECT source, tokens, quota,
           (CASE WHEN rk <= 1000000 - qsum THEN 1 ELSE 0 END)::BIGINT AS extra,
           (quota + CASE WHEN rk <= 1000000 - qsum THEN 1 ELSE 0 END)::BIGINT
               AS alloc
    FROM r
"""


# --------------------------------------------------------------------------
# Round-4 batch 2: retrieval / chunking / linkage oracles
# --------------------------------------------------------------------------

_ORACLES["cheapest_supplier"] = """
    WITH li AS (
        SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
               floor(l_extendedprice * 100)::BIGINT AS cents
        FROM lineitem
        WHERE l_partkey IS NOT NULL
          AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
          AND abs(l_extendedprice) < 1e15
    ), r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY cents, l_suppkey, l_orderkey, l_linenumber
               ) AS rn
        FROM li
    )
    SELECT p.p_partkey::BIGINT AS p_partkey, p.p_brand,
           r.l_suppkey::BIGINT AS best_suppkey, r.cents AS best_cents
    FROM r JOIN part p ON p.p_partkey = r.l_partkey
    WHERE r.rn = 1
"""

_SNM_SH_A = _dd_shingles("a_txt", 5)
_SNM_SH_B = _dd_shingles("b_txt", 5)

_ORACLES["sorted_neighborhood"] = f"""
    WITH b AS (
        SELECT doc_id AS id, text AS txt,
               substr(text, 1, 8) AS blk, substr(text, 1, 32) AS key
        FROM documents
    ), n AS (
        SELECT id, txt,
               lead(id, 1) OVER w AS b1_id, lead(txt, 1) OVER w AS b1_txt,
               lead(id, 2) OVER w AS b2_id, lead(txt, 2) OVER w AS b2_txt
        FROM b WINDOW w AS (PARTITION BY blk ORDER BY key, id)
    ), pairs AS (
        SELECT id AS raw_a, txt AS a_txt, b1_id AS raw_b, b1_txt AS b_txt
        FROM n WHERE b1_id IS NOT NULL
        UNION ALL
        SELECT id, txt, b2_id, b2_txt FROM n WHERE b2_id IS NOT NULL
    ), sc AS (
        SELECT least(raw_a, raw_b) AS a_id, greatest(raw_a, raw_b) AS b_id,
               len(list_intersect({_SNM_SH_A}, {_SNM_SH_B}))::BIGINT AS i,
               (len({_SNM_SH_A}) + len({_SNM_SH_B}))::BIGINT AS ss
        FROM pairs
    ), j AS (
        SELECT a_id, b_id, ((i * 1000) // (ss - i))::BIGINT AS jac_milli
        FROM sc
    )
    SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
           max(jac_milli)::BIGINT AS jac_milli
    FROM j WHERE jac_milli >= 100
    GROUP BY a_id, b_id
"""

_ORACLES["bigram_lm"] = """
    WITH t AS (
        SELECT (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tk FROM documents
    ), bg AS (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
    ), c12 AS (
        SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY w1
    ), v AS (
        SELECT count(DISTINCT x)::BIGINT AS v
        FROM (SELECT unnest(tk) AS x FROM t)
    )
    SELECT c12.w1, c12.w2, c12.c12, c1.c1, v.v,
           (((c12.c12 + 1) * 1000) // (c1.c1 + v.v))::BIGINT AS p_milli
    FROM c12 JOIN c1 USING (w1) CROSS JOIN v
"""

_ORACLES["cdc_chunks"] = """
    WITH d AS (
        SELECT doc_id, text, len(text)::BIGINT AS n FROM documents
    ), pos AS (
        SELECT doc_id, text, i
        FROM d, unnest(range(1, greatest(n - 7, 1) + 1)) AS t(i)
        WHERE n >= 8
    ), cuts AS (
        SELECT doc_id, (i + 7)::BIGINT AS e
        FROM pos
        WHERE list_reduce(list_prepend(0::BIGINT,
                  list_transform(range(i, i + 8),
                      j -> ascii(substr(text, j, 1))::BIGINT)),
                  (a, c) -> (a * 131 + c) % 2147483647) % 64 = 0
    ), ends AS (
        SELECT DISTINCT doc_id, e FROM (
            SELECT doc_id, e FROM cuts
            UNION ALL
            SELECT doc_id, n AS e FROM d
        )
    ), c AS (
        SELECT doc_id, e,
               coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e),
                        0::BIGINT) AS prev_e,
               row_number() OVER (PARTITION BY doc_id ORDER BY e) AS chunk_idx
        FROM ends
    )
    SELECT c.doc_id::BIGINT AS doc_id, c.chunk_idx::BIGINT AS chunk_idx,
           (c.prev_e + 1)::BIGINT AS start,
           (c.e - c.prev_e)::BIGINT AS chunk_len,
           list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, (c.e - c.prev_e) + 1),
                   j -> ascii(substr(d.text, (c.prev_e + j)::INTEGER, 1))::BIGINT)),
               (a, x) -> (a * 131 + x) % 2147483647) AS chunk_hash
    FROM c JOIN d ON d.doc_id = c.doc_id
"""


def _build_bm25_sql(
    terms: tuple[str, ...] = ("table", "join", "window"),
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
) -> str:
    """Mirror of operators.text_analysis.bm25_rank — every float literal
    embedded via repr() so both engines parse the IDENTICAL double, and
    the per-term score terms summed left-to-right in the same order."""
    k1p1 = repr(k1 + 1.0)
    k1_r, b_r = repr(k1), repr(b)
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)::BIGINT"
        f" AS df{i}"
        for i, t in enumerate(terms)
    )
    score = "0.0"
    for i, t in enumerate(terms):
        tf = f"len(list_filter(tk, x -> x = '{t}'))::DOUBLE"
        idf = f"((s.n::DOUBLE - s.df{i}::DOUBLE + 0.5) / (s.df{i}::DOUBLE + 0.5))"
        denom = (
            f"({tf} + {k1_r} * (1.0 - {b_r} + {b_r} * "
            f"(dl::DOUBLE / (s.sum_dl::DOUBLE / s.n::DOUBLE))))"
        )
        score += f" + {idf} * (({tf} * {k1p1}) / {denom})"
    return f"""
    WITH base AS (
        SELECT doc_id, (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tk,
               len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END))::BIGINT AS dl
        FROM documents
    ), s AS (
        SELECT sum(dl)::BIGINT AS sum_dl, count(*)::BIGINT AS n, {df_cols}
        FROM base
    )
    SELECT doc_id::BIGINT AS doc_id, dl, {score} AS score
    FROM base CROSS JOIN s
    ORDER BY score DESC, doc_id ASC LIMIT {topk}
    """


_ORACLES["bm25_rank"] = _build_bm25_sql()


# --------------------------------------------------------------------------
# Round-4 batch 3: exact-join / audit / association oracles
# --------------------------------------------------------------------------

_PFX_HASH_SHINGLES = (
    "list_sort(list_distinct(list_transform("
    "range(1, greatest(len(text) - 11, 1) + 1), "
    "i -> list_reduce(list_prepend(0::BIGINT, "
    "list_transform(range(i, i + 12), "
    "j -> ascii(substr(text, j, 1))::BIGINT)), "
    "(a, c) -> (a * 131 + c) % 2147483647))))"
)

_ORACLES["prefix_jaccard_join"] = f"""
    WITH t AS (
        SELECT doc_id, {_PFX_HASH_SHINGLES} AS st
        FROM documents WHERE lang = 'de'
    ), sz AS (
        SELECT doc_id, st, len(st)::BIGINT AS s FROM t
    ), e AS (
        SELECT doc_id, s, unnest(st) AS tok FROM sz
    ), dfreq AS (
        SELECT tok, count(*)::BIGINT AS dfc FROM e GROUP BY tok
    ), ranked AS (
        SELECT e.doc_id, e.s, e.tok,
               row_number() OVER (PARTITION BY e.doc_id
                                  ORDER BY d.dfc, e.tok) AS rk
        FROM e JOIN dfreq d ON d.tok = e.tok
    ), pref AS (
        SELECT doc_id, s, tok FROM ranked
        WHERE rk <= s - ((s * 700 + 999) // 1000) + 1
    ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
        WHERE b.s * 1000 >= a.s * 700 AND a.s * 1000 >= b.s * 700
    ), v AS (
        SELECT a_id, b_id,
               len(list_intersect(ta.st, tb.st))::BIGINT AS i,
               (len(ta.st) + len(tb.st)
                - len(list_intersect(ta.st, tb.st)))::BIGINT AS u
        FROM cand
        JOIN sz ta ON ta.doc_id = cand.a_id
        JOIN sz tb ON tb.doc_id = cand.b_id
    )
    SELECT a_id::BIGINT AS a_id, b_id::BIGINT AS b_id,
           ((i * 1000) // u)::BIGINT AS jac_milli
    FROM v WHERE (i * 1000) // u >= 700
"""

_ORACLES["split_leakage"] = f"""
    WITH s AS (
        SELECT CASE WHEN ({_dd_mixed("doc_id::VARCHAR", "split:")}) % 100 < 90
                        THEN 'train'
                    WHEN ({_dd_mixed("doc_id::VARCHAR", "split:")}) % 100 < 95
                        THEN 'val'
                    ELSE 'test' END AS split,
               (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tk
        FROM documents
        WHERE len(trim(text)) > 0
    ), w AS (
        SELECT split,
               md5(array_to_string(tk[(wi * 16 + 1):(wi * 16 + 16)], ' '))
                   AS key
        FROM s, unnest(range(0, (len(tk) + 15) // 16)) AS t(wi)
    ), ps AS (
        SELECT key, split, count(*)::BIGINT AS n FROM w GROUP BY key, split
    ), x AS (
        SELECT a.split AS split_a, b.split AS split_b,
               a.n AS na, b.n AS nb
        FROM ps a JOIN ps b ON a.key = b.key AND a.split < b.split
    )
    SELECT split_a, split_b,
           count(*)::BIGINT AS n_window_keys,
           sum(na * nb)::BIGINT AS n_window_pairs
    FROM x GROUP BY split_a, split_b
"""

_ORACLES["term_pmi"] = """
    WITH d AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END))) AS st
        FROM documents
    ), e AS (
        SELECT doc_id, unnest(st) AS term FROM d
    ), dfreq AS (
        SELECT term, count(*)::BIGINT AS c FROM e GROUP BY term
    ), top AS (
        SELECT term, c FROM dfreq ORDER BY c DESC, term ASC LIMIT 20
    ), kept AS (
        SELECT e.doc_id, e.term FROM e JOIN top USING (term)
    ), pairs AS (
        SELECT a.term AS term_a, b.term AS term_b
        FROM kept a JOIN kept b
          ON a.doc_id = b.doc_id AND a.term < b.term
    ), cab AS (
        SELECT term_a, term_b, count(*)::BIGINT AS c_ab
        FROM pairs GROUP BY term_a, term_b
    ), n AS (SELECT count(*)::BIGINT AS n_docs FROM d)
    SELECT cab.term_a, cab.term_b, ta.c AS c_a, tb.c AS c_b, cab.c_ab,
           n.n_docs,
           ((cab.c_ab * n.n_docs * 1000) // (ta.c * tb.c))::BIGINT
               AS pmi_milli
    FROM cab
    JOIN top ta ON ta.term = cab.term_a
    JOIN top tb ON tb.term = cab.term_b
    CROSS JOIN n
"""

_ORACLES["source_gini"] = """
    WITH t AS (
        SELECT source,
               sum(len((CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END)))::BIGINT
                   AS tokens
        FROM documents
        WHERE source IS NOT NULL AND text IS NOT NULL
        GROUP BY source
    ), r AS (
        SELECT tokens,
               row_number() OVER (ORDER BY tokens ASC, source ASC)::BIGINT
                   AS i
        FROM t
    )
    SELECT count(*)::BIGINT AS n_sources,
           sum(tokens)::BIGINT AS total_tokens,
           (((2 * sum(i * tokens) - (count(*) + 1) * sum(tokens)) * 1000)
            // (count(*) * sum(tokens)))::BIGINT AS gini_milli
    FROM r
"""


# --------------------------------------------------------------------------
# Round-4 batch 4: graph peeling / temporal / profiling oracles
# --------------------------------------------------------------------------


def _build_kcore_sql(k: int = 3) -> str:
    """Recursive-CTE synchronous peeling to the TRUE FIXPOINT,
    mirroring operators.graph.kcore's default (cap 64 + early exit).

    Semantics of the recursion: the working table at step i holds
    exactly the alive set s_i (standard UNION ALL working-table rule —
    the recursive term sees only the rows produced by the previous
    step). Each step computes the peeled set nxt = {node : deg >= k
    within s_i} and emits it ONLY while it is strictly smaller than
    s_i; peeling is monotone shrinking, so |nxt| = |s_i| ⟺ nxt = s_i =
    fixpoint, and the recursion terminates. The final projection peels
    the max-iter set once more (deg >= k over it), which (a) attaches
    core_deg and (b) returns empty when the true core is empty — the
    one case where the last EMITTED set is not the fixpoint (a step
    whose nxt is empty emits zero rows, stopping with max(iter) still
    on its non-empty predecessor)."""
    # MATERIALIZED: without it DuckDB inlines the edge CTE into every
    # peeling round — many simultaneous parquet scans (EMFILE)
    return f"""
    WITH RECURSIVE e AS MATERIALIZED (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
          AND b.l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
    ),
    alive(iter, node) AS (
        SELECT 0::BIGINT, node
        FROM (SELECT u AS node FROM e UNION SELECT v AS node FROM e)
      UNION ALL
        (WITH prev AS (SELECT iter, node FROM alive),
              deg AS (
                SELECT node, count(*)::BIGINT AS deg FROM (
                    SELECT e.u AS node FROM e
                    JOIN prev x ON x.node = e.u JOIN prev y ON y.node = e.v
                    UNION ALL
                    SELECT e.v AS node FROM e
                    JOIN prev x ON x.node = e.u JOIN prev y ON y.node = e.v
                ) GROUP BY node
              ),
              nxt AS (SELECT node FROM deg WHERE deg >= {k})
         SELECT (SELECT max(iter) FROM prev) + 1, node FROM nxt
         WHERE (SELECT count(*) FROM nxt) < (SELECT count(*) FROM prev))
    ),
    last AS (SELECT max(iter) AS m FROM alive),
    fin AS (SELECT node FROM alive, last WHERE iter = last.m),
    degf AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
            SELECT e.u AS node FROM e
            JOIN fin x ON x.node = e.u JOIN fin y ON y.node = e.v
            UNION ALL
            SELECT e.v AS node FROM e
            JOIN fin x ON x.node = e.u JOIN fin y ON y.node = e.v
        ) GROUP BY node
    )
    SELECT node::BIGINT AS node, deg AS core_deg
    FROM degf WHERE deg >= {k}
    """


_ORACLES["kcore_3"] = _build_kcore_sql()

_ORACLES["scd2_intervals"] = """
    WITH b AS (
        SELECT user_id AS entity,
               floor(epoch(ts))::BIGINT AS ep, ts, event_id,
               TRY_CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END)
                        AS BIGINT) AS value
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), m AS (
        SELECT entity, ep, value,
               row_number() OVER w AS rn,
               lag(value) OVER w AS prev
        FROM b WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)
    ), ch AS (
        SELECT entity, ep, value,
               row_number() OVER (PARTITION BY entity ORDER BY rn) AS crn
        FROM m
        WHERE rn = 1 OR (value IS DISTINCT FROM prev)
    )
    SELECT entity::BIGINT AS entity, value,
           ep AS valid_from,
           coalesce(lead(ep) OVER w2, 9999999999)::BIGINT AS valid_to,
           (CASE WHEN lead(ep) OVER w2 IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS is_current
    FROM ch WINDOW w2 AS (PARTITION BY entity ORDER BY crn)
"""

_ORACLES["table_profile"] = """
    SELECT u.column_name,
           (SELECT count(*) FROM orders)::BIGINT AS n_rows,
           u.n_nulls::BIGINT AS n_nulls,
           u.n_distinct::BIGINT AS n_distinct
    FROM (
        SELECT 'o_orderkey' AS column_name,
               sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_custkey',
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_totalprice) FROM orders
        UNION ALL
        SELECT 'o_orderdate',
               sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderdate) FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_orderpriority) FROM orders
    ) u
"""

_ORACLES["reset_running_total"] = """
    WITH b AS (
        SELECT user_id AS entity, ts, event_id,
               floor(epoch(ts))::BIGINT AS ep,
               floor(value * 100)::BIGINT AS cents
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), f AS (
        SELECT entity, ts, event_id, ep, cents,
               CASE WHEN lag(ep) OVER w IS NULL
                      OR ep - lag(ep) OVER w > 3600
                    THEN 1 ELSE 0 END AS newf
        FROM b WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)
    ), s AS (
        SELECT entity, ts, event_id, ep, cents,
               sum(newf) OVER (PARTITION BY entity ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS session_idx
        FROM f
    )
    SELECT entity::BIGINT AS entity, event_id::BIGINT AS event_id,
           ep AS epoch_s, session_idx,
           sum(cents) OVER (PARTITION BY entity, session_idx
                            ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING)::BIGINT
               AS running_cents
    FROM s
"""


# --------------------------------------------------------------------------
# Round-4 batch 5: trade volume / smoothing / patterns / KMV oracles
# --------------------------------------------------------------------------

_ORACLES["trade_volume_q7"] = """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate)::BIGINT AS ship_year,
           sum(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100)::BIGINT)
               ::BIGINT AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE l.l_shipdate BETWEEN '1995-01-01' AND '1996-12-31'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
"""


def _build_ewma_sql(alpha_milli: int = 300) -> str:
    a = repr(alpha_milli / 1000.0)
    b = repr(1.0 - alpha_milli / 1000.0)
    return f"""
    WITH RECURSIVE daily AS (
        SELECT event_type,
               floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
               sum(floor(value * 100)::BIGINT)::BIGINT AS s,
               count(*)::BIGINT AS n
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
        GROUP BY event_type, day_epoch
    ), dm AS (
        SELECT event_type, day_epoch, s::DOUBLE / n::DOUBLE AS day_mean,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day_epoch) AS i
        FROM daily
    ), r AS (
        SELECT event_type, day_epoch, day_mean, i, day_mean AS ewma
        FROM dm WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.day_epoch, s.day_mean, s.i,
               {a} * s.day_mean + {b} * r.ewma
        FROM dm s JOIN r ON s.event_type = r.event_type AND s.i = r.i + 1
    )
    SELECT event_type, day_epoch, day_mean, ewma FROM r
    """


_ORACLES["ewma_daily"] = _build_ewma_sql()

_ORACLES["event_pattern"] = """
    WITH s AS (
        SELECT user_id,
               string_agg(coalesce(substr(event_type, 1, 1), chr(1)), ''
                          ORDER BY ts, event_id) AS seq
        FROM events WHERE ts IS NOT NULL GROUP BY user_id
    )
    SELECT user_id::BIGINT AS user_id,
           length(seq)::BIGINT AS seq_len,
           ((length(seq) - length(replace(seq, 'vcp', ''))) // 3)::BIGINT
               AS n_matches
    FROM s
"""

_ORACLES["value_histogram"] = """
    SELECT event_type,
           least(greatest(floor(value / 5.0), 0), 19)::BIGINT AS bin,
           count(*)::BIGINT AS n_events
    FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    GROUP BY event_type, bin
"""

_KMV_HASH = _dd_hash("user_id::VARCHAR || ':kmv'")

_ORACLES["kmv_intersection"] = f"""
    WITH h AS (
        SELECT DISTINCT event_type AS grp,
               ((({_KMV_HASH}) * ({_KMV_HASH}) + ({_KMV_HASH}))
                % 2147483647) AS hv
        FROM events
    ), rk AS (
        SELECT grp, hv,
               row_number() OVER (PARTITION BY grp ORDER BY hv) AS rk
        FROM h
    ), sk AS (
        SELECT grp, list(hv ORDER BY hv) AS kmv
        FROM rk WHERE rk <= 64 GROUP BY grp
    ), pairs AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b, a.kmv AS ka, b.kmv AS kb
        FROM sk a JOIN sk b ON a.grp < b.grp
    ), m AS (
        SELECT grp_a, grp_b, ka, kb,
               list_sort(list_distinct(list_concat(ka, kb)))[1:64] AS merged
        FROM pairs
    ), st AS (
        SELECT grp_a, grp_b,
               len(merged)::BIGINT AS n,
               merged[len(merged)]::BIGINT AS theta,
               len(list_filter(merged,
                   x -> list_contains(ka, x) AND list_contains(kb, x)))
                   ::BIGINT AS nboth
        FROM m
    ), est AS (
        SELECT grp_a, grp_b,
               (((n - 1) * 2147483647) // theta)::BIGINT AS est_union,
               ((nboth * (((n - 1) * 2147483647) // theta)) // n)::BIGINT
                   AS est_inter
        FROM st
    ), exact AS (
        SELECT a.grp_a, b.grp_b, count(*)::BIGINT AS exact_inter
        FROM (SELECT DISTINCT event_type AS grp_a, user_id FROM events) a
        JOIN (SELECT DISTINCT event_type AS grp_b, user_id FROM events) b
          ON a.user_id = b.user_id AND a.grp_a < b.grp_b
        GROUP BY a.grp_a, b.grp_b
    )
    SELECT est.grp_a, est.grp_b, est.est_union, est.est_inter,
           exact.exact_inter
    FROM est JOIN exact ON exact.grp_a = est.grp_a
                       AND exact.grp_b = est.grp_b
"""


# --------------------------------------------------------------------------
# Round-4 batch 6: LM scoring / paths / reporting / layout oracles
# --------------------------------------------------------------------------

_ORACLES["lm_doc_score"] = """
    WITH t AS (
        SELECT doc_id, (CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tk
        FROM documents
    ), bg AS (
        SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        FROM t, unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS u(i)
    ), c12 AS (
        SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY w1
    ), v AS (
        SELECT count(DISTINCT x)::BIGINT AS v
        FROM (SELECT unnest(tk) AS x FROM t)
    ), lm AS (
        SELECT c12.w1, c12.w2,
               ((c12.c12 + 1) * 1000) // (c1.c1 + v.v) AS p_milli
        FROM c12 JOIN c1 USING (w1) CROSS JOIN v
    ), scored AS (
        SELECT bg.doc_id, lm.p_milli
        FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
    )
    SELECT doc_id::BIGINT AS doc_id,
           count(*)::BIGINT AS n_bigrams,
           (sum(p_milli)::BIGINT // count(*))::BIGINT AS mean_p_milli
    FROM scored GROUP BY doc_id
"""

_ORACLES["top_paths"] = """
    WITH p AS (
        SELECT concat_ws(' > ', event_type,
                         lead(event_type, 1) OVER w,
                         lead(event_type, 2) OVER w) AS path,
               (lead(event_type, 2) OVER w IS NOT NULL) AS full_path
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT path, count(*)::BIGINT AS n_occurrences
    FROM p WHERE full_path
    GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 10
"""


def _build_funnel_conversion_sql() -> str:
    """Reuses the window_funnel oracle's per-user level computation."""
    funnel = _build_window_funnel_sql()
    # the window_funnel oracle ends with a SELECT over its CTEs; wrap it
    return f"""
    WITH levels AS (
        {funnel}
    ), observed AS (
        SELECT funnel_level, count(*)::BIGINT AS n
        FROM levels WHERE funnel_level >= 1
        GROUP BY funnel_level
    ), counts AS (
        -- every level 1..len(steps), 0-defaulted: a level no user stops
        -- exactly at must still appear (ADVICE r4: otherwise level k's
        -- conversion silently divides by level k-2)
        SELECT al.funnel_level, coalesce(o.n, 0)::BIGINT AS n
        FROM (SELECT unnest(range(1, {len(FUNNEL_STEPS) + 1}))::BIGINT
                  AS funnel_level) al
        LEFT JOIN observed o USING (funnel_level)
    ), reached AS (
        SELECT funnel_level,
               sum(n) OVER (ORDER BY funnel_level DESC
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS n_reached
        FROM counts
    ), named AS (
        SELECT funnel_level::BIGINT AS level,
               ([{", ".join(f"'{s}'" for s in FUNNEL_STEPS)}])
                   [funnel_level::INTEGER] AS step,
               n_reached,
               coalesce(lag(n_reached) OVER (ORDER BY funnel_level),
                        n_reached) AS prev
        FROM reached
    )
    SELECT level, step, n_reached,
           CASE WHEN prev = 0 THEN 0
                ELSE (n_reached * 1000) // prev END::BIGINT AS conv_milli
    FROM named
    """


_ORACLES["funnel_conversion"] = _build_funnel_conversion_sql()

_ORACLES["mom_revenue"] = """
    WITH m AS (
        SELECT n.n_name,
               floor(epoch(date_trunc('month', o.o_orderdate)))::BIGINT
                   AS month_epoch,
               sum(floor(o.o_totalprice * 100)::BIGINT)::BIGINT
                   AS revenue_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, month_epoch
    ), l AS (
        SELECT n_name, month_epoch, revenue_cents,
               lag(revenue_cents) OVER (PARTITION BY n_name
                                        ORDER BY month_epoch) AS prev
        FROM m
    )
    SELECT n_name, month_epoch, revenue_cents,
           (((revenue_cents - prev) * 1000) // prev)::BIGINT AS change_milli
    FROM l WHERE prev IS NOT NULL
"""


def _build_zorder_sql() -> str:
    from yandex_tracker_exporter_spark.operators.partitioning import zorder_sql

    zk = zorder_sql("l_partkey", "l_suppkey")
    return f"""
    WITH k AS (
        SELECT {zk} AS zkey, l_partkey, l_suppkey FROM lineitem
    )
    SELECT (zkey >> 24)::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           min(zkey)::BIGINT AS zkey_min,
           max(zkey)::BIGINT AS zkey_max,
           min(l_partkey)::BIGINT AS part_min,
           max(l_partkey)::BIGINT AS part_max,
           min(l_suppkey)::BIGINT AS supp_min,
           max(l_suppkey)::BIGINT AS supp_max
    FROM k GROUP BY bucket
"""


_ORACLES["zorder_layout"] = _build_zorder_sql()


# --------------------------------------------------------------------------
# Round-4 batch 7: pipeline report / layout pruning / search / encoding
# --------------------------------------------------------------------------

_ORACLES["dedup_pipeline_report"] = f"""
    {_dd_cluster_ctes()}
    , labels AS (
        SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id
    ), tagged AS (
        SELECT '1_raw' AS stage, doc_id::VARCHAR AS k FROM documents
        UNION ALL
        SELECT DISTINCT '2_exact_unique', md5(text) FROM documents
        UNION ALL
        SELECT '3_cluster_members', id::VARCHAR FROM labels
        UNION ALL
        SELECT DISTINCT '4_clusters', cluster_id::VARCHAR FROM labels
    )
    SELECT stage, count(*)::BIGINT AS n FROM tagged GROUP BY stage
"""


def _build_pruning_simulation_sql(lo: int = 100, hi: int = 120, rpf: int = 4096) -> str:
    from yandex_tracker_exporter_spark.operators.partitioning import zorder_sql

    zk = zorder_sql("l_partkey", "l_suppkey")
    parts = []
    for ordering, order_by in (
        ("natural", "l_orderkey, l_linenumber, l_partkey, l_suppkey"),
        ("zorder", "zkey, l_orderkey, l_linenumber"),
    ):
        parts.append(f"""
        SELECT '{ordering}' AS ordering, n_files, n_files_scanned,
               n_rows_matched
        FROM (
            SELECT count(*)::BIGINT AS n_files,
                   sum(CASE WHEN pmin <= {hi} AND pmax >= {lo}
                            THEN 1 ELSE 0 END)::BIGINT AS n_files_scanned,
                   sum(hits)::BIGINT AS n_rows_matched
            FROM (
                SELECT (rn - 1) // {rpf} AS f,
                       min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                       sum(CASE WHEN l_partkey BETWEEN {lo} AND {hi}
                                THEN 1 ELSE 0 END) AS hits
                FROM (
                    SELECT l_partkey,
                           row_number() OVER (ORDER BY {order_by}) AS rn
                    FROM k
                ) GROUP BY f
            )
        )""")
    return f"""
    WITH k AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               {zk} AS zkey
        FROM lineitem
    )
    {" UNION ALL ".join(parts)}
    """


_ORACLES["pruning_simulation"] = _build_pruning_simulation_sql()

_ORACLES["trigram_search"] = """
    SELECT doc_id::BIGINT AS doc_id FROM documents
    WHERE text LIKE '%slow query%'
"""

_ORACLES["encoding_audit"] = """
    WITH d AS (
        SELECT l_orderkey, l_linenumber,
               l_orderkey - coalesce(lag(l_orderkey) OVER w, 0)
                   AS d_orderkey,
               l_partkey - coalesce(lag(l_partkey) OVER w, 0) AS d_partkey,
               l_suppkey - coalesce(lag(l_suppkey) OVER w, 0) AS d_suppkey
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey)
    ), z AS (
        SELECT column_name, zig FROM d, LATERAL (VALUES
            ('l_orderkey', abs(d_orderkey) * 2
                 - CASE WHEN d_orderkey < 0 THEN 1 ELSE 0 END),
            ('l_partkey', abs(d_partkey) * 2
                 - CASE WHEN d_partkey < 0 THEN 1 ELSE 0 END),
            ('l_suppkey', abs(d_suppkey) * 2
                 - CASE WHEN d_suppkey < 0 THEN 1 ELSE 0 END)
        ) AS t(column_name, zig)
    ), v AS (
        SELECT column_name,
               greatest(1, (length(bin(zig)) + 6) // 7)::BIGINT AS vb
        FROM z
    )
    SELECT column_name,
           count(*)::BIGINT AS n_values,
           (count(*) * 8)::BIGINT AS raw_bytes,
           sum(vb)::BIGINT AS varint_bytes,
           ((sum(vb) * 1000) // (count(*) * 8))::BIGINT AS ratio_milli
    FROM v GROUP BY column_name
"""


# --------------------------------------------------------------------------
# Round-4 batch 8: cluster stats / assortativity / recsys / attribution
# --------------------------------------------------------------------------

_ORACLES["component_sizes"] = f"""
    {_dd_cluster_ctes()}
    , labels AS (
        SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id
    ), sizes AS (
        SELECT cluster_id, count(*)::BIGINT AS cluster_size
        FROM labels GROUP BY cluster_id
    )
    SELECT cluster_size, count(*)::BIGINT AS n_clusters
    FROM sizes GROUP BY cluster_size
"""

_ORACLES["assortativity"] = """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
          AND b.l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
    ), deg AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) GROUP BY node
    ), sym AS (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), j AS (
        SELECT du.deg AS dx, dv.deg AS dy
        FROM sym JOIN deg du ON du.node = sym.u
                 JOIN deg dv ON dv.node = sym.v
    ), m AS (
        SELECT count(*)::BIGINT AS m,
               sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
               sum(dx * dx)::BIGINT AS sxx, sum(dy * dy)::BIGINT AS syy,
               sum(dx * dy)::BIGINT AS sxy
        FROM j
    )
    SELECT m, sx, sy, sxx, syy, sxy,
           (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / sqrt((m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                  * (m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
               AS r
    FROM m
"""

_ORACLES["copurchase_recs"] = """
    WITH pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               count(*)::BIGINT AS n_together
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ), ranked AS (
        SELECT p1, p2, n_together,
               row_number() OVER (PARTITION BY p1
                                  ORDER BY n_together DESC, p2 ASC) AS rk
        FROM pairs
    )
    SELECT p1::BIGINT AS part, p2::BIGINT AS rec_part, n_together,
           rk::BIGINT AS rec_rank
    FROM ranked WHERE rk <= 3
"""

_ORACLES["last_touch"] = """
    WITH b AS (
        SELECT user_id, event_type, event_id, ts,
               floor(epoch(ts))::BIGINT AS ep
        FROM events
    ), t AS (
        SELECT event_type, ep,
               last_value(CASE WHEN event_type != 'purchase'
                               THEN struct_pack(tep := ep, tty := event_type)
                          END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch
        FROM b
    ), conv AS (
        SELECT CASE WHEN touch IS NOT NULL
                         AND ep - touch.tep <= 3600
                    THEN touch.tty ELSE 'unattributed' END
                   AS attributed_type,
               CASE WHEN touch IS NOT NULL
                         AND ep - touch.tep <= 3600
                    THEN ep - touch.tep ELSE 0 END AS gap
        FROM t WHERE event_type = 'purchase'
    )
    SELECT attributed_type,
           count(*)::BIGINT AS n_conversions,
           sum(gap)::BIGINT AS sum_gap_s
    FROM conv GROUP BY attributed_type
"""


# --------------------------------------------------------------------------
# Round-4 batch 9: seasonality / latency / rolling corr / HLL union
# --------------------------------------------------------------------------

_ORACLES["weekday_seasonality"] = """
    WITH d AS (
        SELECT event_type, isodow(ts)::BIGINT AS dow,
               floor(value * 100)::BIGINT AS c
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), pd AS (
        SELECT event_type, dow, sum(c)::BIGINT AS ds,
               count(*)::BIGINT AS n_events
        FROM d GROUP BY event_type, dow
    ), t AS (
        SELECT event_type, sum(ds)::BIGINT AS tsum,
               sum(n_events)::BIGINT AS tn
        FROM pd GROUP BY event_type
    )
    SELECT pd.event_type, pd.dow, pd.n_events,
           ((pd.ds * t.tn * 1000) // (pd.n_events * t.tsum))::BIGINT
               AS index_milli
    FROM pd JOIN t USING (event_type)
"""

_ORACLES["conversion_latency"] = """
    WITH b AS (
        SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS ep
        FROM events
    ), pu AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ep END) AS t0
        FROM b GROUP BY user_id
    ), lat AS (
        SELECT b.user_id, min(b.ep - pu.t0)::BIGINT AS latency_s
        FROM b JOIN pu ON pu.user_id = b.user_id
        WHERE b.event_type = 'purchase'
          AND pu.t0 IS NOT NULL AND b.ep >= pu.t0
        GROUP BY b.user_id
    )
    SELECT count(*)::BIGINT AS n_converted,
           quantile_cont(latency_s, 0.5) AS p50_s,
           quantile_cont(latency_s, 0.9) AS p90_s,
           max(latency_s)::BIGINT AS max_s
    FROM lat
"""

_ORACLES["rolling_corr_7d"] = """
    WITH daily AS (
        SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
               event_type,
               ((sum(floor(value * 100)::BIGINT)::BIGINT * 1000)
                // count(*))::BIGINT AS mean_milli
        FROM events
        WHERE event_type IN ('view', 'click')
          AND ts IS NOT NULL
          AND value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
        GROUP BY day_epoch, event_type
    ), p AS (
        SELECT a.day_epoch, a.mean_milli AS x, b.mean_milli AS y
        FROM daily a JOIN daily b ON a.day_epoch = b.day_epoch
        WHERE a.event_type = 'view' AND b.event_type = 'click'
    ), m AS (
        SELECT day_epoch,
               count(*) OVER w AS n_days,
               sum(x) OVER w AS sx, sum(y) OVER w AS sy,
               sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
               sum(x * y) OVER w AS sxy
        FROM p
        WINDOW w AS (ORDER BY day_epoch
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day_epoch, n_days::BIGINT AS n_days,
           (n_days::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / sqrt((n_days::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                  * (n_days::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
               AS r
    FROM m WHERE n_days = 7
"""


def _build_hll_union_sql() -> str:
    from yandex_tracker_exporter_spark.operators.sketches import (
        HLL_LC_THRESHOLD,
        HLL_M,
        HLL_P,
        HLL_RHO_MAX,
        hll_lc_table_literal,
        hll_numerator_literal,
    )

    base_hash = _dd_hash("user_id::VARCHAR || ':hll'")
    mix = (
        f"((({base_hash}) * ({base_hash}) + ({base_hash})) % 2147483647)"
    )
    return f"""
    WITH h AS (
        SELECT event_type AS grp, {mix} AS hv FROM events
    ), regs AS (
        SELECT grp, (hv % {HLL_M})::INTEGER AS reg,
               max(CASE WHEN (hv >> {HLL_P}) = 0 THEN {HLL_RHO_MAX}
                        ELSE {HLL_RHO_MAX} - length(bin(hv >> {HLL_P}))
                   END)::INTEGER AS m_reg
        FROM h GROUP BY grp, reg
    ), groups AS (
        SELECT DISTINCT grp FROM regs
    ), pairs AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b
        FROM groups a JOIN groups b ON a.grp < b.grp
    ), tagged AS (
        SELECT p.grp_a, p.grp_b, r.reg, r.m_reg
        FROM pairs p JOIN regs r ON r.grp = p.grp_a
        UNION ALL
        SELECT p.grp_a, p.grp_b, r.reg, r.m_reg
        FROM pairs p JOIN regs r ON r.grp = p.grp_b
    ), merged AS (
        SELECT grp_a, grp_b, reg, max(m_reg) AS m_reg
        FROM tagged GROUP BY grp_a, grp_b, reg
    ), summed AS (
        SELECT grp_a, grp_b,
               sum((1::BIGINT << ({HLL_RHO_MAX} - m_reg)))::BIGINT
                   AS s_present,
               count(*)::BIGINT AS n_regs
        FROM merged GROUP BY grp_a, grp_b
    ), raw AS (
        SELECT grp_a, grp_b,
               floor({hll_numerator_literal()}
                     / (s_present
                        + ({HLL_M} - n_regs)
                          * {1 << 26}::BIGINT)::DOUBLE)::BIGINT AS est_raw,
               ({HLL_M} - n_regs)::INTEGER AS v_zero
        FROM summed
    ), est AS (
        -- small-range correction, same table as hll_distinct
        SELECT grp_a, grp_b,
               CASE WHEN est_raw <= {HLL_LC_THRESHOLD} AND v_zero > 0
                    THEN ({hll_lc_table_literal()})[v_zero]::BIGINT
                    ELSE est_raw
               END AS est_union
        FROM raw
    ), du AS (
        SELECT DISTINCT event_type AS grp, user_id FROM events
    ), counts AS (
        SELECT grp, count(*)::BIGINT AS c FROM du GROUP BY grp
    ), inter AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b, count(*)::BIGINT AS i
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.grp < b.grp
        GROUP BY a.grp, b.grp
    ), exact AS (
        SELECT i.grp_a, i.grp_b, (ca.c + cb.c - i.i)::BIGINT AS exact_union
        FROM inter i
        JOIN counts ca ON ca.grp = i.grp_a
        JOIN counts cb ON cb.grp = i.grp_b
    )
    SELECT est.grp_a, est.grp_b, est.est_union, exact.exact_union,
           abs(est.est_union - exact.exact_union)::BIGINT AS abs_err
    FROM est JOIN exact ON exact.grp_a = est.grp_a
                       AND exact.grp_b = est.grp_b
    """


_ORACLES["hll_union"] = _build_hll_union_sql()


# --------------------------------------------------------------------------
# Round-4 batch 10: dataset card / confusion / churn / negatives
# --------------------------------------------------------------------------

_ORACLES["dataset_card"] = """
    WITH b AS (
        SELECT len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS toks,
               len(text)::BIGINT AS chars, lang, source, md5(text) AS m
        FROM documents
    ), one AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(toks)::BIGINT AS n_tokens,
               sum(chars)::BIGINT AS n_chars,
               count(DISTINCT lang)::BIGINT AS n_langs,
               count(DISTINCT source)::BIGINT AS n_sources,
               (count(*) - count(DISTINCT m))::BIGINT AS n_exact_dups,
               min(toks)::BIGINT AS min_tokens,
               max(toks)::BIGINT AS max_tokens
        FROM b
    )
    SELECT u.metric, u.value FROM one, LATERAL (VALUES
        ('n_docs', n_docs), ('n_tokens', n_tokens), ('n_chars', n_chars),
        ('n_langs', n_langs), ('n_sources', n_sources),
        ('n_exact_dups', n_exact_dups), ('min_tokens', min_tokens),
        ('max_tokens', max_tokens)
    ) AS u(metric, value)
"""


def _build_knn_confusion_sql() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS true_label,
               list_transform(embedding, x -> x::DOUBLE) AS qv
        FROM embeddings WHERE vec_id < 100 AND {_dd_usable_vec()}
    ), c AS (
        SELECT vec_id AS neighbor_id, label AS n_label,
               list_transform(embedding, x -> x::DOUBLE) AS cv
        FROM embeddings WHERE {_dd_usable_vec()}
    ), scored AS (
        SELECT q.query_id, q.true_label, c.neighbor_id, c.n_label,
               {_dd_cosine('qv', 'cv')} AS s
        FROM c JOIN q ON q.query_id != c.neighbor_id
    ), top AS (
        SELECT query_id, true_label, n_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, neighbor_id ASC) AS rk
        FROM scored
    ), votes AS (
        SELECT query_id, true_label, n_label, count(*)::BIGINT AS v
        FROM top WHERE rk <= 10
        GROUP BY query_id, true_label, n_label
    ), pred AS (
        SELECT query_id, true_label, n_label AS pred_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY v DESC, n_label ASC) AS pr
        FROM votes
    )
    SELECT true_label::BIGINT AS true_label,
           pred_label::BIGINT AS pred_label,
           count(*)::BIGINT AS n
    FROM pred WHERE pr = 1
    GROUP BY true_label, pred_label
    """


_ORACLES["knn_confusion"] = _build_knn_confusion_sql()

_ORACLES["weekly_churn"] = """
    WITH um AS (
        SELECT DISTINCT user_id AS u,
               (floor(epoch(ts))::BIGINT // 604800)::BIGINT AS m
        FROM events
    ), lastm AS (SELECT max(m) AS last FROM um),
    f AS (
        SELECT u, m, lead(m) OVER (PARTITION BY u ORDER BY m) AS nxt
        FROM um
    ), counted AS (
        SELECT m,
               count(*)::BIGINT AS n_active,
               sum(CASE WHEN nxt IS NULL OR nxt > m + 1
                        THEN 1 ELSE 0 END)::BIGINT AS n_churned
        FROM f, lastm WHERE m < lastm.last
        GROUP BY m
    )
    SELECT m AS week_idx, n_active, n_churned,
           ((n_churned * 1000) // n_active)::BIGINT AS churn_milli
    FROM counted
"""

_ORACLES["negative_sampling"] = """
    WITH n AS (SELECT count(*)::BIGINT AS nn FROM documents)
    SELECT d.doc_id::BIGINT AS doc_id, j::BIGINT AS neg_rank,
           CASE WHEN (d.doc_id * 2654435761 + j * 40503) % n.nn = d.doc_id
                THEN ((d.doc_id * 2654435761 + j * 40503) % n.nn + 1) % n.nn
                ELSE (d.doc_id * 2654435761 + j * 40503) % n.nn
           END AS neg_id
    FROM documents d, n, unnest(range(1, 5)) AS t(j)
"""


# --------------------------------------------------------------------------
# Round-4 batch 11: PIT enrich / BPE merges / skew / image histograms
# --------------------------------------------------------------------------

_ORACLES["pit_enrich"] = """
    WITH sg AS (
        SELECT user_id AS entity, ts, event_id,
               floor(epoch(ts))::BIGINT AS ep,
               TRY_CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END)
                        AS BIGINT) AS value
        FROM events WHERE event_type = 'signup'
    ), m AS (
        SELECT entity, ep, value,
               row_number() OVER w AS rn, lag(value) OVER w AS prev
        FROM sg WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)
    ), ch AS (
        SELECT entity, ep, value,
               row_number() OVER (PARTITION BY entity ORDER BY rn) AS crn
        FROM m WHERE rn = 1 OR (value IS DISTINCT FROM prev)
    ), iv AS (
        SELECT entity, value, ep AS valid_from,
               coalesce(lead(ep) OVER w2, 9999999999)::BIGINT AS valid_to
        FROM ch WINDOW w2 AS (PARTITION BY entity ORDER BY crn)
    ), p AS (
        SELECT user_id AS entity, floor(epoch(ts))::BIGINT AS ep
        FROM events WHERE event_type = 'purchase'
    )
    SELECT coalesce(iv.value, -1)::BIGINT AS k_value,
           count(*)::BIGINT AS n_purchases
    FROM p LEFT JOIN iv
      ON iv.entity = p.entity
     AND p.ep >= iv.valid_from AND p.ep < iv.valid_to
    GROUP BY k_value
"""

_ORACLES["bpe_first_merges"] = """
    WITH words AS (
        SELECT w, count(*)::BIGINT AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ) GROUP BY w HAVING length(w) >= 2
    ), pairs AS (
        SELECT substr(w, i, 2) AS pair, freq
        FROM words, unnest(range(1, length(w))) AS t(i)
    )
    SELECT pair, sum(freq)::BIGINT AS weight
    FROM pairs GROUP BY pair
    ORDER BY weight DESC, pair ASC LIMIT 20
"""

_ORACLES["skew_report"] = """
    WITH c AS (
        SELECT l_partkey, count(*)::BIGINT AS n_rows
        FROM lineitem GROUP BY l_partkey
    ), t AS (SELECT sum(n_rows)::BIGINT AS tot FROM c)
    SELECT l_partkey::BIGINT AS l_partkey, n_rows,
           ((n_rows * 1000) // t.tot)::BIGINT AS share_milli
    FROM c, t
    ORDER BY n_rows DESC, l_partkey ASC LIMIT 10
"""

_ORACLES["media_image_histogram"] = """
    WITH px AS (
        SELECT ((ascii(substr(text, (j % len(text))::INTEGER + 1, 1)) * 7)
                % 256) // 32 AS bucket,
               j % 3 AS channel
        FROM documents, unnest(range(0, 48)) AS t(j)
        WHERE ((doc_id % 2) + 2) % 2 = 1 AND len(text) > 0
    )
    SELECT channel::BIGINT AS channel, bucket::BIGINT AS bucket,
           count(*)::BIGINT AS n_pixels
    FROM px GROUP BY channel, bucket
"""

# PNG fixture: EVERY non-empty doc, 60 raster bytes (4x5 RGB), same
# pixel law as the PPM fixture — the oracle never sees the DEFLATE
# stream or the scanline filters, so equality proves the engine
# inverted them exactly.
_ORACLES["media_png_histogram"] = """
    WITH px AS (
        SELECT ((ascii(substr(text, (j % len(text))::INTEGER + 1, 1)) * 7)
                % 256) // 32 AS bucket,
               j % 3 AS channel
        FROM documents, unnest(range(0, 60)) AS t(j)
        WHERE len(text) > 0
    )
    SELECT channel::BIGINT AS channel, bucket::BIGINT AS bucket,
           count(*)::BIGINT AS n_pixels
    FROM px GROUP BY channel, bucket
"""


# --------------------------------------------------------------------------
# Round-4 batch 12: robust stats / Pareto contribution / dwell time
# --------------------------------------------------------------------------

_ORACLES["robust_stats"] = """
    WITH b AS (
        SELECT event_type AS segment, floor(value * 100)::BIGINT AS c
        FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    ), med AS (
        SELECT segment, quantile_cont(c, 0.5) AS median_cents,
               count(*)::BIGINT AS n
        FROM b GROUP BY segment
    ), dev AS (
        SELECT b.segment, abs(b.c::DOUBLE - med.median_cents) AS d
        FROM b JOIN med ON med.segment = b.segment
    ), mad AS (
        SELECT segment, quantile_cont(d, 0.5) AS mad_cents
        FROM dev GROUP BY segment
    )
    SELECT med.segment, med.n, med.median_cents, mad.mad_cents
    FROM med JOIN mad ON mad.segment = med.segment
"""

_ORACLES["pareto_8020"] = """
    WITH rev AS (
        SELECT r.r_name, n.n_name,
               sum(floor(o.o_totalprice * 100)::BIGINT)::BIGINT
                   AS revenue_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name
    ), ranked AS (
        SELECT r_name, n_name, revenue_cents,
               row_number() OVER w AS rank_in_region,
               sum(revenue_cents) OVER (
                   PARTITION BY r_name
                   ORDER BY revenue_cents DESC, n_name ASC
                   ROWS UNBOUNDED PRECEDING) AS cum,
               sum(revenue_cents) OVER (PARTITION BY r_name) AS tot
        FROM rev
        WINDOW w AS (PARTITION BY r_name
                     ORDER BY revenue_cents DESC, n_name ASC)
    )
    SELECT r_name, n_name, revenue_cents,
           rank_in_region::BIGINT AS rank_in_region,
           ((cum * 1000) // tot)::BIGINT AS cum_share_milli,
           (CASE WHEN (cum - revenue_cents) * 1000 < 800 * tot
                 THEN 1 ELSE 0 END)::BIGINT AS in_top80
    FROM ranked
"""

_ORACLES["state_dwell_time"] = """
    WITH b AS (
        SELECT user_id AS entity, ts, event_id,
               floor(epoch(ts))::BIGINT AS ep,
               TRY_CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END)
                        AS BIGINT) AS value
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), m AS (
        SELECT entity, ep, value,
               row_number() OVER w AS rn, lag(value) OVER w AS prev
        FROM b WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)
    ), ch AS (
        SELECT entity, ep, value,
               row_number() OVER (PARTITION BY entity ORDER BY rn) AS crn
        FROM m WHERE rn = 1 OR (value IS DISTINCT FROM prev)
    ), iv AS (
        SELECT entity, value, ep AS valid_from,
               lead(ep) OVER w2 AS valid_to
        FROM ch WINDOW w2 AS (PARTITION BY entity ORDER BY crn)
    )
    SELECT value::BIGINT AS k_value,
           count(*)::BIGINT AS n_intervals,
           sum(valid_to - valid_from)::BIGINT AS total_dwell_s
    FROM iv WHERE valid_to IS NOT NULL
    GROUP BY k_value
"""


# --------------------------------------------------------------------------
# Round-4 batch 13: chi-square / A-B testing / 2-D heatmap
# --------------------------------------------------------------------------

_ORACLES["contingency_chi2"] = """
    WITH cells AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               count(*)::BIGINT AS observed
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY segment, priority
    ), r AS (
        SELECT segment, sum(observed)::BIGINT AS rm FROM cells
        GROUP BY segment
    ), col AS (
        SELECT priority, sum(observed)::BIGINT AS cm FROM cells
        GROUP BY priority
    ), t AS (SELECT sum(observed)::BIGINT AS tt FROM cells)
    SELECT cells.segment, cells.priority, cells.observed,
           ((r.rm * col.cm * 1000) // t.tt)::BIGINT AS expected_milli,
           (((cells.observed * t.tt - r.rm * col.cm)
             * (cells.observed * t.tt - r.rm * col.cm))
            // (r.rm * col.cm * t.tt))::BIGINT AS chi2_contrib
    FROM cells
    JOIN r USING (segment) JOIN col USING (priority) CROSS JOIN t
"""


def _build_ab_test_sql() -> str:
    bucket = _dd_mixed("user_id::VARCHAR", "exp1:")
    return f"""
    WITH pu AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) > 26
                    THEN 1 ELSE 0 END AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), armed AS (
        SELECT CASE WHEN ({bucket}) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               conv
        FROM pu
    ), arms AS (
        SELECT arm, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
        FROM armed GROUP BY arm
    ), a AS (SELECT n AS na, c AS ca FROM arms WHERE arm = 'A'),
    b AS (SELECT n AS nb, c AS cb FROM arms WHERE arm = 'B')
    SELECT na, ca, nb, cb,
           ((ca * 1000) // na)::BIGINT AS rate_a_milli,
           ((cb * 1000) // nb)::BIGINT AS rate_b_milli,
           CASE WHEN sqrt(((ca + cb)::DOUBLE / (na + nb)::DOUBLE)
                  * (1.0 - (ca + cb)::DOUBLE / (na + nb)::DOUBLE)
                  * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE)) > 0.0
                THEN (ca::DOUBLE / na::DOUBLE - cb::DOUBLE / nb::DOUBLE)
                     / sqrt(((ca + cb)::DOUBLE / (na + nb)::DOUBLE)
                            * (1.0 - (ca + cb)::DOUBLE / (na + nb)::DOUBLE)
                            * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE))
                ELSE 0.0 END AS z_stat
    FROM a CROSS JOIN b
"""


_ORACLES["ab_test"] = _build_ab_test_sql()

_ORACLES["heatmap_hour_value"] = """
    SELECT hour(ts)::BIGINT AS hour,
           least(greatest(floor(value / 10.0), 0), 9)::BIGINT AS value_band,
           count(*)::BIGINT AS n_events
    FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
    GROUP BY hour, value_band
"""


# --------------------------------------------------------------------------
# Round-4 batch 14: TWAP / index balance
# --------------------------------------------------------------------------

_ORACLES["twap_by_type"] = """
    WITH h AS (
        SELECT event_type,
               floor(value * 100)::BIGINT AS c,
               lead(floor(epoch(ts))::BIGINT) OVER w
                   - floor(epoch(ts))::BIGINT AS dt
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value) AND abs(value) < 1e15
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type,
           count(*)::BIGINT AS n_readings,
           sum(dt)::BIGINT AS total_held_s,
           ((sum(c * dt)::BIGINT * 1000) // sum(dt)::BIGINT)::BIGINT
               AS twap_milli_cents
    FROM h WHERE dt IS NOT NULL
    GROUP BY event_type
"""


def _build_cluster_balance_sql(k: int = 8, iters: int = 2) -> str:
    tail = f"""
    , sizes AS (
        SELECT cluster, count(*)::BIGINT AS n_vectors
        FROM a{iters} GROUP BY cluster
    ), tot AS (
        SELECT sum(n_vectors)::BIGINT AS t, max(n_vectors)::BIGINT AS mx,
               count(*)::BIGINT AS kk
        FROM sizes
    )
    SELECT sizes.cluster, sizes.n_vectors,
           ((sizes.n_vectors * 1000) // tot.t)::BIGINT AS share_milli,
           ((tot.mx * tot.kk * 1000) // tot.t)::BIGINT AS max_over_mean_milli
    FROM sizes CROSS JOIN tot
    """
    return _build_kmeans_sql(k=k, iters=iters, tail=tail)


_ORACLES["cluster_balance"] = _build_cluster_balance_sql()

# The streaming upsert's FINAL table state is order-independent by
# construction (latest-wins on the data-level updated_seq), so the
# oracle is the batch expression of "snapshot with purchase rows
# re-priced at 2x" — if any micro-batch were dropped, doubled, or the
# checkpointed offsets replayed, counts or cents would diverge.
_ORACLES["streaming_upsert_state"] = """
    WITH dedup AS (
        SELECT event_id, event_type, value FROM (
            SELECT event_id, event_type, value,
                   row_number() OVER (
                       PARTITION BY event_id
                       ORDER BY ts DESC NULLS LAST,
                                event_type DESC NULLS LAST,
                                value DESC NULLS LAST) AS rn
            FROM events
            WHERE event_id IS NOT NULL
              AND (value IS NULL
                   OR (NOT isnan(value) AND abs(value) < 1e15))
        ) WHERE rn = 1
    ), final AS (
        SELECT event_id, event_type,
               CASE WHEN event_type = 'purchase' THEN value * 2
                    ELSE value END AS value
        FROM dedup
    )
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(floor(value * 100)::BIGINT)::BIGINT AS value_cents
    FROM final GROUP BY event_type
"""

# JPEG fixture: four constant 8x8 blocks per non-empty doc, block j's
# value = (codepoint_j * 7) % 256 cycled over the text. The oracle never
# sees the DCT, the quantizer, or the Huffman stream — equality proves
# the engine decoded the entropy-coded format exactly (block-constant
# input is the regime where baseline JPEG is lossless: only the DC
# coefficient is nonzero and the DC quantizer divides it).
_ORACLES["media_jpeg_histogram"] = """
    WITH px AS (
        SELECT ((ascii(substr(text, (j % len(text))::INTEGER + 1, 1)) * 7)
                % 256) // 32 AS bucket
        FROM documents, unnest(range(0, 4)) AS t(j)
        WHERE len(text) > 0
    )
    SELECT bucket::BIGINT AS bucket, (count(*) * 64)::BIGINT AS n_pixels
    FROM px GROUP BY bucket
"""

# MP4 fixture laws: duration_ms = (cp0*531) % 600000, width =
# (cp1*3) % 640 + 16, height = (cp2*5) % 480 + 16 (codepoints cycled).
# The oracle recomputes them from text; the engine must recover them
# from the real box tree (mvhd timescale/duration, tkhd 16.16 dims).
_ORACLES["media_mp4_metadata"] = """
    WITH c AS (
        SELECT ((ascii(substr(text, 1, 1)) * 531) % 600000) AS duration_ms,
               ((ascii(substr(text, (1 % len(text))::INTEGER + 1, 1)) * 3)
                % 640 + 16) AS width,
               ((ascii(substr(text, (2 % len(text))::INTEGER + 1, 1)) * 5)
                % 480 + 16) AS height
        FROM documents WHERE len(text) > 0
    )
    SELECT (duration_ms // 60000)::BIGINT AS dur_min,
           count(*)::BIGINT AS n_videos,
           sum(width)::BIGINT AS sum_width,
           sum(height)::BIGINT AS sum_height,
           max(duration_ms)::BIGINT AS max_duration_ms
    FROM c GROUP BY dur_min
"""
