"""Local finishes return Arrow-built frames (``local_frame``): the JVM
decodes them, so no Python worker starts to hand a driver-side result
back to Spark. A frame built with ``createDataFrame(list, schema)``
carries a PythonRDD in its lineage instead."""

import random

import pytest
from pyspark.sql import types as T

from yandex_tracker_exporter_spark.operators.clustering import kmeans_quantized
from yandex_tracker_exporter_spark.operators.dedup import duplicate_clusters
from yandex_tracker_exporter_spark.operators.graph import kcore, pagerank


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _kcore(spark):
    ring = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (2, 4), (4, 10)]
    return kcore(spark.createDataFrame(ring, "src long, dst long"), k=3)


def _pagerank(spark):
    edges = [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 5), (4, 1, 7)]
    return pagerank(
        spark.createDataFrame(edges, "src int, dst int, w long"),
        weight="w",
        iterations=4,
    )


def _duplicate_clusters(spark):
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    return duplicate_clusters(spark.createDataFrame(pairs, "a_id string, b_id string"))


def _kmeans(spark):
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-2.0, 2.0) for _ in range(8)]) for i in range(30)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return kmeans_quantized(
        spark.createDataFrame(rows, schema), k=3, iters=2, local_finish=True
    )


@pytest.mark.parametrize(
    "build",
    [_kcore, _pagerank, _duplicate_clusters, _kmeans],
    ids=["kcore", "pagerank", "duplicate_clusters", "kmeans_quantized"],
)
def test_local_finish_lineage_has_no_python_rdd(spark, build):
    out = build(spark)
    assert out.count() > 0
    assert "PythonRDD" not in _lineage(out)


ROUND_TRIP_CASES = {
    "long_ids_with_nulls": (
        T.StructType(
            [
                T.StructField("node", T.LongType()),
                T.StructField("core_deg", T.LongType()),
            ]
        ),
        [(3, 2), (1, None), (None, 7), (2**62, -1)],
    ),
    "int_ids": (
        T.StructType(
            [
                T.StructField("node", T.IntegerType()),
                T.StructField("rank_e9", T.LongType()),
            ]
        ),
        [(5, 111124608), (1, 0)],
    ),
    "string_ids_with_nulls": (
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("cluster_id", T.StringType()),
            ]
        ),
        [("b", "a"), ("a", "a"), ("ё", None), (None, "")],
    ),
    "zero_rows": (
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("cluster_id", T.LongType()),
            ]
        ),
        [],
    ),
    "kmeans_schema": (
        T.StructType(
            [
                T.StructField("vec_id", T.LongType(), False),
                T.StructField("cluster", T.LongType(), True),
                T.StructField("dist2", T.LongType(), True),
            ]
        ),
        [(10, 0, 25), (11, 2, 0), (12, 1, 3)],
    ),
}


@pytest.mark.parametrize("case", sorted(ROUND_TRIP_CASES))
def test_local_frame_matches_list_construction(spark, case):
    from yandex_tracker_exporter_spark.operators.partitioning import local_frame

    schema, rows = ROUND_TRIP_CASES[case]
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert sorted(new.collect(), key=repr) == sorted(old.collect(), key=repr)
    assert "PythonRDD" not in _lineage(new)
