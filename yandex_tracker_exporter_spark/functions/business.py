"""Business-hours interval duration (reference P6 — the hardest scalar).

The reference computes it per-row in Python with ``businesstimedelta`` +
``holidays.RU()`` (``helpers.py:40-73``). Here ``business_seconds`` is a
**pure Spark expression**, closed-form. Only the two boundary days need
clipping against the business window; every interior day contributes
the full window length iff its weekday is a workday and it is not a
holiday, so interior days are COUNTED (one O(1) weekday-count term per
configured workday, one containment term per configured holiday) rather
than expanded. Entirely JVM-side, whole-stage codegen, no arrays, no
shuffle, no Python — and constant cost for any span (the round-2
``sequence()`` expansion nulled out past ~3 years). It is rendered as
SQL text and parsed by one ``F.expr``. Two test-side references check
it: the Column-API form of the same closed form
(``tests/test_functions.py``) and an independent day-walking pandas UDF
(``tests/business_reference.py``).

Holidays are **data** (a broadcast-able literal array / dimension), not a
hardcoded country module — the reference's ``holidays.RU()`` is a config
default, not a semantic.

Semantics parity (``tests/test_helpers.py:50-86``): result is
``abs(int(seconds))`` — reversed intervals count positively; a Sunday
interval is 0; a 10:00→23:00 workday with 09-22 hours clips to 12h.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _qident(name: str) -> str:
    """Backtick-quote a column name for the SQL fast path."""
    return "`" + name.replace("`", "``") + "`"


def business_seconds_sql(
    start: str,
    end: str,
    workdays: tuple[int, ...],
    hour_start: int,
    hour_end: int,
    holiday_dates: tuple[str, ...],
) -> str:
    """SQL text of :func:`business_seconds` — the whole closed form
    rendered as ONE string parsed JVM-side in a single py4j call
    instead of ~800 Column-op round trips (r12 batch 6: construction
    profile showed 1,655 py4j round trips for the business-hours
    query, ~0.45 s of pure driver latency inside every timed bench
    sample). Every term is integer/date arithmetic, so results equal
    the test-side Column-API reference exactly (pinned:
    tests/test_functions.py::test_business_seconds_sql_twin_matches_column_path).
    """
    import datetime as _dt

    s0, e0 = _qident(start), _qident(end)
    s = f"least({s0}, {e0})"
    e = f"greatest({s0}, {e0})"
    window_len = (hour_end - hour_start) * 3600
    wd_arr = "array(" + ", ".join(str(d) for d in workdays) + ")"
    hol_arr = (
        "array("
        + ", ".join(f"CAST('{d}' AS DATE)" for d in holiday_dates)
        + ")"
    )

    def day_overlap(day: str) -> str:
        window_start = f"({day} + INTERVAL {hour_start} HOURS)"
        window_end = f"({day} + INTERVAL {hour_end} HOURS)"
        overlap = (
            f"(unix_timestamp(least({e}, {window_end})) - "
            f"unix_timestamp(greatest({s}, {window_start})))"
        )
        is_workday = f"array_contains({wd_arr}, weekday({day}))"
        not_holiday = (
            f"(NOT coalesce(array_contains({hol_arr}, to_date({day})), "
            "false))"
        )
        return (
            f"CASE WHEN {is_workday} AND {not_holiday} "
            f"THEN greatest({overlap}, 0) ELSE CAST(0 AS BIGINT) END"
        )

    d0, d1 = f"to_date({s})", f"to_date({e})"
    a = f"date_add({d0}, 1)"
    n_int = f"datediff({d1}, {a})"
    wa = f"weekday({a})"

    def weekday_count(w: int) -> str:
        r = f"((({w} - {wa}) % 7 + 7) % 7)"
        return (
            f"CAST(CASE WHEN {n_int} > {r} "
            f"THEN floor(({n_int} - 1 - {r}) / 7) + 1 "
            f"ELSE 0 END AS BIGINT)"
        )

    if workdays:
        interior_workdays = "(" + " + ".join(
            weekday_count(w) for w in workdays
        ) + ")"
    else:
        interior_workdays = "CAST(0 AS BIGINT)"

    interior_holidays = "CAST(0 AS BIGINT)"
    for h in holiday_dates:
        if _dt.date.fromisoformat(h).weekday() not in workdays:
            continue
        hd = f"CAST('{h}' AS DATE)"
        interior_holidays = (
            f"({interior_holidays} + CAST(CASE WHEN {hd} > {d0} AND "
            f"{hd} < {d1} THEN 1 ELSE 0 END AS BIGINT))"
        )

    d0t, d1t = f"date_trunc('DAY', {s})", f"date_trunc('DAY', {e})"
    total = (
        f"({day_overlap(d0t)} + "
        f"CASE WHEN {d1} > {d0} THEN {day_overlap(d1t)} "
        f"ELSE CAST(0 AS BIGINT) END + "
        f"CAST({window_len} AS BIGINT) * "
        f"({interior_workdays} - {interior_holidays}))"
    )
    # guard on s/e (least/greatest), NOT the raw columns: Spark's
    # least/greatest SKIP nulls, so a one-sided NULL leaves s = e =
    # the non-null endpoint and the closed form computes 0 for it —
    # the guard only fires when BOTH endpoints are NULL.
    return (
        f"CASE WHEN {s} IS NULL OR {e} IS NULL "
        f"THEN CAST(NULL AS BIGINT) ELSE {total} END"
    )


def business_seconds(
    start: str,
    end: str,
    workdays: tuple[int, ...] = (0, 1, 2, 3, 4),
    hour_start: int = 9,
    hour_end: int = 22,
    holiday_dates: tuple[str, ...] = (),
) -> Column:
    """Seconds of [start, end) that fall inside business hours.

    ``start`` and ``end`` are column names. ``workdays`` uses Python
    weekday numbering (Mon=0..Sun=6) to match the reference config
    (``config.py:193``). Closed-form: O(1) per row for any interval
    width — no span cap.
    """
    return F.expr(
        business_seconds_sql(start, end, workdays, hour_start, hour_end, holiday_dates)
    )

