"""Input-parallelism helper for CPU-heavy operator pipelines.

A parquet file is only splittable at row-group boundaries, so a corpus
delivered as a few single-row-group files scans as a few partitions no
matter what ``spark.sql.files.*`` says — and every map-side-heavy stage
built on it (signature kernels, projection folds, shingling) runs on a
few cores while the rest of the cluster idles.

``ensure_parallelism`` re-splits ONLY when the scan's natural split count
is below the cluster's parallelism. At scale (100 TB → O(10^5) splits)
the condition is false and the DataFrame passes through untouched — no
extra shuffle. For the pair-finding self-joins the added exchange is
narrow (id + raw text) and strictly smaller than the band-key exchange
that follows it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    bucket: Column,
    out_col: str = "global_rank",
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY ...)`` without a
    single-partition sort — the DataFrame equivalent of zipWithIndex.

    A bare global window funnels the whole corpus through ONE reducer
    (Spark plans an un-partitioned window as a single partition); at
    100 TB that is the job. Instead the classic two-pass scheme:

    1. ``bucket`` — a caller-supplied expression MONOTONE in the leading
       sort key (e.g. ``floor(key / width)``) — splits the order into
       contiguous ranges. Ties in the leading key must share a bucket
       (monotonicity guarantees this); the remaining ``order_cols``
       break them inside the bucket.
    2. Per-bucket counts (one partial-aggregable shuffle of ~#buckets
       rows) give each bucket its global offset via a prefix sum over
       the TINY counts table; the offsets broadcast back.
    3. rank = offset + row_number within the bucket — a window whose
       partitions are the buckets, so the big table shuffles once, by
       bucket, never through a single task.

    Output: input columns + ``out_col`` (1-based global rank).
    """
    b = df.withColumn("_grn_bucket", bucket)
    counts = b.groupBy("_grn_bucket").agg(F.count(F.lit(1)).alias("_grn_n"))
    # prefix sum over the bucket-count table: #buckets rows, driver-small
    w_off = (
        Window.orderBy(F.col("_grn_bucket").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_grn_bucket",
        F.coalesce(F.sum("_grn_n").over(w_off), F.lit(0)).alias("_grn_off"),
    )
    w_in = Window.partitionBy("_grn_bucket").orderBy(*order_cols)
    # NULL-SAFE join back (round-9 probe): a NULL leading key forms a
    # NULL bucket, which the prefix sum counts (it sorts FIRST, so it
    # shifts every real row's offset) — but a plain equi-join dropped
    # the NULL bucket's own rows, an incoherent in-between where junk
    # shifted everyone yet vanished from the output. eqNullSafe keeps
    # the operator row-for-row equal to the bare
    # row_number() OVER (ORDER BY ...) window it replaces (Spark asc =
    # nulls first, so NULL-key rows take the lowest ranks), pinned in
    # tests/test_pipeline_ops_properties.py.
    offs = offsets.select(
        F.col("_grn_bucket").alias("_grn_b2"), "_grn_off"
    )
    return (
        b.join(
            F.broadcast(offs),
            F.col("_grn_bucket").eqNullSafe(F.col("_grn_b2")),
        )
        .withColumn(
            out_col, (F.col("_grn_off") + F.row_number().over(w_in)).cast("long")
        )
        .drop("_grn_bucket", "_grn_b2", "_grn_off")
    )


def ensure_parallelism(df: DataFrame, min_factor: float = 1.0) -> DataFrame:
    """Repartition ``df`` to the default parallelism iff its current plan
    yields fewer partitions (small/single-row-group inputs). Values are
    unaffected; this is a pure physical re-split.

    The split-count probe (``df.rdd.getNumPartitions``) costs a
    plan→RDD conversion (~0.5 s of driver work on a non-trivial plan),
    so plans that already contain an explicit ``Repartition`` short-
    circuit on the (already-computed) analyzed plan instead — the
    caller has spread the data deliberately; re-probing it would buy
    nothing and re-splitting it would be wrong anyway.
    """
    sc = df.sparkSession.sparkContext
    target = max(1, int(sc.defaultParallelism * min_factor))
    analyzed = df._jdf.queryExecution().analyzed().toString()
    if "Repartition" in analyzed:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark, rows, schema) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``schema`` order) —
    the result of an operator's local finish.

    The rows go in as one ``pyarrow.Table`` typed by ``schema``, which
    the JVM decodes itself. ``spark.createDataFrame(list, schema)``
    would instead ship them through ``sc.parallelize`` and a Python
    ``map``: a PythonRDD job whose first run in a session starts an RDD
    Python daemon and forks its workers (seconds, for a few hundred
    rows), and which ``spark.python_s`` does not count because it has no
    SQL Python node."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def zorder_key(
    x,  # Column: first dimension (non-negative int)
    y,  # Column: second dimension (non-negative int)
    bits: int = 16,
):
    """Z-order (Morton) curve key: interleave the low ``bits`` of two
    dimensions — the multi-dimension data-layout key behind Delta/
    Iceberg ``OPTIMIZE ZORDER BY``. Rows sorted by this key cluster in
    BOTH dimensions at once, so min/max file statistics prune scans on
    either predicate — the layout story for 100 TB fact tables queried
    by more than one column.

    Pure integer shift/mask expression (whole-stage codegen, and
    reproducible in any engine as the same 2·bits-term sum).

    Dimensions are taken FLOOR-mod ``2^bits`` (junk v2, round 10): a
    negative key under the old trunc-`%` stayed negative and the
    arithmetic right shift sign-extended it into a garbage Morton key —
    worse, Spark and SQL engines disagree on negative shifts, so the
    same junk row produced two DIFFERENT garbage keys. pmod wraps
    negatives into the ring identically everywhere.
    """
    from pyspark.sql import functions as F

    if isinstance(x, str) and isinstance(y, str):
        # SQL fast path (r12): the Column loop below costs ~8 py4j
        # round trips per bit (~130 per key, two keys per caller);
        # building the identical 2·bits-term sum as ONE SQL string is a
        # single JVM parse. Term order and types match the Column path
        # exactly (pinned: test_zorder_sql_twin_bitexact).
        xm = f"pmod({x}, {1 << bits})"
        ym = f"pmod({y}, {1 << bits})"
        terms = ["CAST(0 AS BIGINT)"]
        for j in range(bits):
            terms.append(
                f"shiftleft(CAST(shiftright({xm}, {j}) % 2 AS BIGINT), {2 * j})"
            )
            terms.append(
                f"shiftleft(CAST(shiftright({ym}, {j}) % 2 AS BIGINT), {2 * j + 1})"
            )
        return F.expr(" + ".join(terms))
    xm = F.pmod(x, F.lit(1 << bits))
    ym = F.pmod(y, F.lit(1 << bits))
    key = F.lit(0).cast("long")
    for j in range(bits):
        key = (
            key
            + F.shiftleft((F.shiftright(xm, j) % 2).cast("long"), 2 * j)
            + F.shiftleft((F.shiftright(ym, j) % 2).cast("long"), 2 * j + 1)
        )
    return key


def zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """The DuckDB-side twin of :func:`zorder_key` (same term order).
    Callers pass the RAW dimension expressions; the floor-mod ring map
    is applied here so it always matches the operator."""
    m = 1 << bits
    xm = f"((({x}) % {m} + {m}) % {m})"
    ym = f"((({y}) % {m} + {m}) % {m})"
    terms = []
    for j in range(bits):
        terms.append(f"((({xm} >> {j}) & 1)::BIGINT << {2 * j})")
        terms.append(f"((({ym} >> {j}) & 1)::BIGINT << {2 * j + 1})")
    return "(" + " + ".join(terms) + ")"
