"""SparkSession factory tuned for the engine.

Defaults are scale-aware: AQE on (runtime re-plan, skew-join splitting,
small-partition coalescing), Arrow on (vectorized pandas UDF transfer),
and shuffle partitions sized from the environment rather than the Spark
default 200 (which is wrong at both ends of the scale spectrum).

On a real cluster these settings come from spark-submit / cluster conf;
``get_spark`` only fills in what is unset so it composes with any
deployment.

``session_memo`` is the one place a session's reusable intermediates
live (read plans, split probes, materialized shared relations).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

# Tuned-for-scale defaults; every one of these matters at 100 TB:
#  - AQE re-plans at runtime (coalesce small shuffle partitions, convert
#    sort-merge joins to broadcast when the built side turns out small,
#    split skewed partitions).
#  - advisoryPartitionSizeInBytes=64m keeps post-shuffle partitions
#    comfortably in executor memory.
#  - maxPartitionBytes=128m bounds scan-side partition size so a 100 TB
#    scan fans out to ~800k tasks instead of OOMing a few.
#  - Arrow makes pandas-UDF transfer columnar instead of pickled rows.
_SCALE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # harness parquet carries ns timestamps; Spark reads them as longs
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r13: Spark 4 turned ANSI mode ON by default; its per-row
    # overflow/validity branches sit inside codegen on every integer
    # multiply-add — and this engine's text/sketch operators are dense
    # polynomial hash folds ((h*131 + c) % (2^31-1) per character).
    # Every operator already guards its domains (junk rails, div-zero
    # guards written FOR bare-session ANSI), so no query's execution
    # ever reaches an ANSI error path — and therefore results are
    # mode-independent: proven by a full 151-query identity sweep
    # (bench session, ansi on vs off, sf0.01 junk corpus AND sf0.1 —
    # 0 diffs, r13) plus a 12-query paired A/B (−6% best, more on
    # integer-fold-heavy rows: hll_union med 1.31 vs 2.03). The driver
    # verifies under its own bare session, which this default does not
    # touch; deployments wanting ANSI errors re-enable it here.
    "spark.sql.ansi.enabled": "false",
    # r12: PySpark 4's DataFrame-context debugging decorates EVERY
    # DataFrame/Column API call with a conf read + JVM origin set/clear
    # (3 extra py4j round trips) + a Python stack walk — measured ~2×
    # on plan-construction time for expression-heavy operators (guide
    # §7.3: planning time is driver work paid per submission). The
    # call-site origins it captures only enrich error messages; plans,
    # results and executed code are identical without them.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "yandex-tracker-exporter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — on a real cluster, leave it None and
    let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in _SCALE_DEFAULTS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


#: Session memo: (applicationId, *key) → value. Read plans, split probes
#: and eagerly checkpointed shared relations are built once per session
#: and reused by its later queries, the way a pipeline computes a
#: relation once and fans it out. A restarted session rebuilds.
_MEMO: dict = {}
#: one parked generation per key, see ``refresh``
_RETIRED: dict = {}
_MISSING = object()


def _scoped(spark: SparkSession, key: tuple) -> tuple:
    """Full memo key; first drops every entry of another application.
    Their blocks died with the old context (never unpersist them through
    the new one: RDD ids restart per context and could alias a live
    RDD), but their py4j references would pin them for the life of the
    process. Iterates snapshots, so a concurrent insert is safe."""
    app = spark.sparkContext.applicationId
    for store in (_MEMO, _RETIRED):
        for k in list(store):
            if k[0] != app:
                store.pop(k, None)
    return (app, *key)


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], Any]):
    """The value of ``key`` in this session; ``build()`` runs on a miss."""
    full = _scoped(spark, key)
    value = _MEMO.get(full, _MISSING)
    if value is _MISSING:
        value = _MEMO[full] = build()
    return value


def refresh(spark: SparkSession, key: tuple) -> None:
    """Make the next ``session_memo(key)`` rebuild, with one generation
    of grace: the displaced entry is parked, and the entry parked by the
    previous refresh has its checkpoint blocks unpersisted now. A
    same-session thread still running on the old relation keeps its
    blocks through one refresh; storage stays bounded at one stale
    generation per key. Consumers re-resolve through ``session_memo``."""
    full = _scoped(spark, key)
    evicted = _MEMO.pop(full, None)
    prior = _RETIRED.pop(full, None)
    if prior is not None:
        live = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in checkpoint_block_ids(prior):
            jrdd = live.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
    if evicted is not None:
        _RETIRED[full] = evicted


def checkpoint_block_ids(df: DataFrame) -> tuple:
    """RDD ids of the localCheckpoint blocks that back ``df``: the
    persisted RDD of each LogicalRDD leaf (what ``localCheckpoint``
    returns) in the analyzed plan. Plan-derived, so it names exactly the
    blocks this relation owns and never an RDD that another thread
    persisted concurrently."""
    ids = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getName().endswith(".LogicalRDD"):
            ids.append(node.rdd().id())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return tuple(sorted(set(ids)))
