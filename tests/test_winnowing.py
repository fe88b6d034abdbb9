"""Winnowing fingerprint dedup (Schleimer et al. 2003): kernel/expression
equality, the shared-substring guarantee, and the stop-fingerprint cap."""

import pytest
from pyspark.sql import functions as F

from tests.dedup_expr_reference import winnow_fingerprints_expr
from yandex_tracker_exporter_spark.operators.dedup import (
    winnow_duplicate_pairs,
    winnow_fingerprints,
)


def test_kernel_matches_expression_path(spark, documents_df):
    """The Arrow kernel and the pure-expression twin are bit-identical
    (sorted-distinct long arrays) over the real corpus."""
    kern = {
        r["doc_id"]: r["fingerprints"]
        for r in winnow_fingerprints(documents_df.limit(100)).collect()
    }
    expr = {
        r["doc_id"]: r["fingerprints"]
        for r in winnow_fingerprints_expr(documents_df.limit(100)).collect()
    }
    assert kern == expr


def test_shared_substring_guarantee(spark):
    """Winnowing's defining property: any shared substring of length
    >= k + window - 1 yields at least one shared fingerprint."""
    shared = "zqxjkvwpyzqx"  # 12 chars = k(9) + window(4) - 1
    rows = [
        (1, f"aaaa bbbb cccc {shared} dddd eeee"),
        (2, f"ffff gggg {shared} hhhh iiii jjjj"),
        (3, "totally unrelated content with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r["doc_id"]: set(r["fingerprints"]) for r in winnow_fingerprints(df).collect()}
    assert fps[1] & fps[2], "shared 12-char span must share a fingerprint"
    pairs = winnow_duplicate_pairs(df, max_df=10, min_shared=1).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(1, 2)}


def test_stop_fingerprint_cap(spark):
    """A span occurring in more than max_df documents is dropped — no
    pairs from boilerplate alone."""
    boiler = "common boilerplate span here"
    rows = [(i, f"doc {i} unique-{i}-padding {boiler}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # boilerplate fingerprints appear in all 6 docs > max_df=3 → no pairs
    got = winnow_duplicate_pairs(df, max_df=3, min_shared=1).collect()
    assert got == []


def test_min_shared_threshold(spark, documents_df):
    """Raising min_shared only removes pairs (monotone filter)."""
    lo = {
        (r["a_id"], r["b_id"]): r["shared_fps"]
        for r in winnow_duplicate_pairs(documents_df, min_shared=3).collect()
    }
    hi = {
        (r["a_id"], r["b_id"]): r["shared_fps"]
        for r in winnow_duplicate_pairs(documents_df, min_shared=10).collect()
    }
    assert set(hi) <= set(lo)
    assert all(v >= 10 for v in hi.values())
    assert all(lo[k] == v for k, v in hi.items())


def test_plan_has_no_cartesian(spark, documents_df):
    plan = winnow_duplicate_pairs(documents_df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
