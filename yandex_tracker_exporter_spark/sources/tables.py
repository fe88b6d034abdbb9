"""Table loaders (S1-S4 stand-ins for the harness parquet tables).

The reference's source is a paginated REST scan (``services/tracker.py``)
— at 100 TB the source is columnar files, so the loader is a thin parquet
reader; predicate/column pushdown happen automatically from the plan.

``point_lookup`` is the S3 single-key read; ``count_probe`` is S2 (the
reference warns past the API's 10k cap — here it is a config warning).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.schemas import TESTDATA_TABLES
from yandex_tracker_exporter_spark.session import session_memo


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table (``{sf_dir}/{name}.parquet``).

    The harness ``events`` table carries nanosecond timestamps, which
    Spark only reads as raw longs (``nanosAsLong``); they are converted
    here to µs-precision ``TimestampType`` so every consumer sees a real
    timestamp column. The read plan (an immutable analyzed DataFrame,
    no data) is memoized per session: ``spark.read.parquet`` pays file
    listing and footer reads, and the ``dtypes`` checks py4j round
    trips, on every call, while a static file's schema never changes.
    """
    # Runtime confs, harmless when already set; required because the
    # driver's own SparkSession won't carry them: ns-parquet reading and
    # UTC epoch semantics (oracle comparisons assume UTC). Deliberately
    # OUTSIDE the memo: the self-heal must run even on a cache hit (a
    # caller may have flipped the session timezone between queries).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return session_memo(
        spark,
        ("read_plan", os.path.abspath(sf_dir), name),
        lambda: _read_table(spark, sf_dir, name),
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Harness parquet has shipped timestamps as ns-int64 in some rounds
    # and as TIMESTAMP_NTZ in others. Normalize NTZ → TIMESTAMP (ltz):
    # with the session timezone pinned to UTC above, the instant is
    # unchanged, and consumers keep the documented contract (a plain
    # TimestampType column; NTZ forbids e.g. double casts in Spark 4).
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Read the full harness star schema as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """S7: register every harness table as ``{name}_v`` so arbitrary SQL
    runs against the engine's catalog via ``spark.sql``."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}_v")


def point_lookup(df: DataFrame, key_col: str, key) -> DataFrame:
    """S3: single-key read — pushdown turns this into a pruned scan."""
    return df.where(F.col(key_col) == F.lit(key))


def count_probe(df: DataFrame, warn_limit: int = 10_000) -> tuple[int, bool]:
    """S2: pre-scan count; True when over the (config) warning limit."""
    n = df.count()
    return n, n > warn_limit
