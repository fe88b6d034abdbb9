"""Property-based tests (hypothesis) — invariants the golden vectors
can't cover exhaustively. Spark evaluation is batched per property run
(one createDataFrame + one collect for all examples) to keep JVM
round-trips off the hot path.
"""

import datetime as dt

from hypothesis import given, settings, strategies as st

from tests.business_reference import business_seconds_pandas_udf
from yandex_tracker_exporter_spark.functions.business import business_seconds
from yandex_tracker_exporter_spark.functions.datetimes import (
    from_human_time,
    to_human_time,
)


# --- P7/P8 round trip: format(seconds) re-parses to a value that
# formats identically (formatting is lossy at verbosity 2, but must be
# a fixed point after one round).
@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=30, deadline=None)
def test_human_time_fixed_point(seconds):
    import re as _re

    units = [("y", 31104000), ("mo", 2592000), ("w", 604800), ("d", 86400),
             ("h", 3600), ("m", 60), ("s", 1)]

    def fmt(s, verbosity=7):  # python replica of the expression
        if s == 0:
            return "0s"
        parts = []
        for n, c in units:
            v = s // c
            if v:
                parts.append(f"{v}{n}")
                s -= v * c
        return " ".join(parts[:verbosity])

    full = fmt(seconds, 7)
    # full-verbosity format must re-parse exactly (with the reference's
    # intentional y=360d format vs y=365d parse asymmetry excluded)
    if "y" not in full:
        assert from_human_time(full) == seconds or seconds == 0


def test_human_time_expression_matches_python(spark):
    # the Spark expression must agree with a direct python replica on a
    # broad sample incl. negatives and unit boundaries
    samples = (
        [0, 1, 59, 60, 61, 3599, 3600, 86399, 86400, 604800, 2592000, 31104000]
        + [-1, -60, -86401, 123456789, 10**10]
    )
    df = spark.createDataFrame([(s,) for s in samples], "v long")
    got = [r[0] for r in df.select(to_human_time("v", 2)).collect()]

    units = [("y", 31104000), ("mo", 2592000), ("w", 604800), ("d", 86400),
             ("h", 3600), ("m", 60), ("s", 1)]

    def py(sec):
        if sec == 0:
            return "0s"
        neg, s = sec < 0, abs(sec)
        parts = []
        for n, c in units:
            v = s // c
            if v:
                parts.append(f"{v}{n}")
                s -= v * c
        out = " ".join(parts[:2])
        return f"-{out}" if neg else out

    assert got == [py(s) for s in samples]


@given(
    st.datetimes(
        min_value=dt.datetime(2020, 1, 1), max_value=dt.datetime(2025, 12, 31)
    ),
    # spans up to ~4.5 years: the closed-form expression must keep
    # matching the day-expanding pandas UDF far beyond the old ~3-year
    # expansion cap (which returned null there)
    st.integers(min_value=0, max_value=1650 * 86400),
)
@settings(max_examples=12, deadline=None)
def _check_business_seconds_impls_agree(start, span_s):
    # expression form and pandas-UDF form are two independent
    # implementations of P6 — they must agree on arbitrary intervals
    spark = _check_business_seconds_impls_agree._spark
    start = start.replace(microsecond=0)
    end = start + dt.timedelta(seconds=span_s)
    df = spark.createDataFrame([(start, end)], "s timestamp, e timestamp")
    expr_val = df.select(business_seconds("s", "e")).collect()[0][0]
    udf_val = df.select(business_seconds_pandas_udf()("s", "e")).collect()[0][0]
    assert expr_val == udf_val
    assert 0 <= expr_val <= span_s


def test_business_seconds_impls_agree(spark):
    # hypothesis can't take fixtures; stash the session on the helper
    _check_business_seconds_impls_agree._spark = spark
    _check_business_seconds_impls_agree()
