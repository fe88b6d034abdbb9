"""Expression-level golden tests — vectors ported from the reference's
``tests/test_helpers.py`` (its only executable spec of P2-P9 semantics).
"""

import datetime as _dt

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from tests.business_reference import business_seconds_pandas_udf
from yandex_tracker_exporter_spark.functions import (
    business_seconds,
    from_human_time,
    parse_tracker_datetime,
    string_normalize,
    timedelta_seconds,
    to_human_time,
    to_snake_case,
)
from yandex_tracker_exporter_spark.functions.changelog import (
    MAX_TEXT_LEN,
    TEXT_TOO_LONG_SENTINEL,
    extract_changelog_value,
)
from yandex_tracker_exporter_spark.functions.datetimes import (
    HUMAN_TIME_UNITS,
    TRACKER_DT_FORMAT,
    TRACKER_DT_FORMAT_NOTZ,
)
from yandex_tracker_exporter_spark.functions.text import EMOJI_PATTERN, SNAKE_RULES


def _eval(spark, col, rows=None, schema="value string"):
    df = spark.createDataFrame(rows or [(None,)], schema)
    return [r[0] for r in df.select(col).collect()]


# --- P2 to_snake_case: the reference's 22-case table (test_helpers.py:138-166)
SNAKE_CASES = [
    ("русскаястрока", "русскаястрока"),
    ("РусскийВерблюд", "русский_верблюд"),
    ("русскийВерблюд2", "русский_верблюд_2"),
    ("Русские пробелы", "русские_пробелы"),
    ("русский-кебаб", "русский_кебаб"),
    ("РУССКИЕ_БОЛЬШИЕ", "русские_большие"),
    ("русская_змея", "русская_змея"),
    ("РусскийДлинныйВерблюдПлюсЧисло1", "русский_длинный_верблюд_плюс_число_1"),
    ("singlestring", "singlestring"),
    ("camelCase", "camel_case"),
    ("longCamelCase", "long_camel_case"),
    ("longCamelCaseWithNumber1", "long_camel_case_with_number_1"),
    ("PascalCase", "pascal_case"),
    ("LongPascalCase", "long_pascal_case"),
    ("LongPascalCaseWithNumber1", "long_pascal_case_with_number_1"),
    ("snake_case", "snake_case"),
    ("kebab-case", "kebab_case"),
    ("CONSTANT_CASE", "constant_case"),
    (
        "camelCase-kebab_snakePascalCaseCONSTANT_case",
        "camel_case_kebab_snake_pascal_case_constant_case",
    ),
    ("separated string case", "separated_string_case"),
    (None, None),
    (" ", ""),
]


def test_to_snake_case(spark):
    rows = [(t,) for t, _ in SNAKE_CASES]
    got = _eval(spark, to_snake_case("value"), rows)
    expected = [e for _, e in SNAKE_CASES]
    assert got == expected


# --- P3 string_normalize (test_helpers.py:235-243)
def test_string_normalize(spark):
    rows = [("normalized",), ("emoji\U0001f60e",), ("mid\U0001f680dle",)]
    got = _eval(spark, string_normalize("value"), rows)
    assert got == ["normalized", "emoji", "middle"]


# --- P4 convert_datetime (test_helpers.py:169-199) — engine-side the
# parse returns TimestampType; formatting checks the same instants.
def test_parse_tracker_datetime(spark):
    rows = [
        ("2023-01-01T10:00:00.123+0300",),
        ("2023-01-01T10:00:00.123+0000",),
        ("2023-01-01T10:00:00.123456+0000",),
        ("2023-01-01T10:00:00",),  # naive → UTC
        # literal 'Z' and colon offsets — Python's %z (the reference
        # parser) accepts both, so the Spark chain must too
        ("2023-01-01T10:00:00.123Z",),
        ("2023-01-01T10:00:00Z",),
        ("2023-01-01T10:00:00+03:00",),
        ("2023-01-01T10:00:00.123456Z",),
        (None,),
    ]
    col = F.date_format(
        parse_tracker_datetime("value"), "yyyy-MM-dd'T'HH:mm:ss.SSS"
    )
    got = _eval(spark, col, rows)
    assert got == [
        "2023-01-01T07:00:00.123",
        "2023-01-01T10:00:00.123",
        "2023-01-01T10:00:00.123",
        "2023-01-01T10:00:00.000",
        "2023-01-01T10:00:00.123",
        "2023-01-01T10:00:00.000",
        "2023-01-01T07:00:00.000",
        "2023-01-01T10:00:00.123",
        None,
    ]


def test_parse_tracker_datetime_tz_display(spark):
    # UTC instant rendered in Europe/Moscow — the reference's tz branch.
    rows = [("2023-01-01T10:00:00.123+0000",)]
    col = F.date_format(
        F.convert_timezone(
            F.lit("UTC"), F.lit("Europe/Moscow"), parse_tracker_datetime("value")
        ),
        "yyyy-MM-dd'T'HH:mm:ss.SSS",
    )
    assert _eval(spark, col, rows) == ["2023-01-01T13:00:00.123"]


def test_format_display_datetime_reference_vectors(spark):
    """P4 second half — the reference's own convert_datetime vectors
    (tests/test_helpers.py:169-199): parse → UTC → display tz → string.
    The reference's date_only output for 2023-01-01 UTC is '2023-01-01'
    only by coincidence of day==01: its format string is '%Y-%d-%m'
    (day/month swapped, helpers.py:142). We assert the NON-buggy ISO
    rendering, including a date where the swap would show."""
    from yandex_tracker_exporter_spark.functions.datetimes import (
        format_display_datetime,
    )

    cases = [
        # (input, tz, date_only, expected)
        ("2023-01-01T10:00:00.123+0000", "UTC", True, "2023-01-01"),
        ("2023-01-01T10:00:00.123+0300", "UTC", False, "2023-01-01T07:00:00.123"),
        ("2023-01-01T10:00:00.123+0000", "Europe/Moscow", False,
         "2023-01-01T13:00:00.123"),
        (None, "UTC", False, None),
        # date_only where %Y-%d-%m would yield 2023-05-03 instead
        ("2023-03-05T10:00:00.123+0000", "UTC", True, "2023-03-05"),
        # tz shift that crosses midnight moves the DATE too
        ("2023-03-05T22:30:00.000+0000", "Europe/Moscow", True, "2023-03-06"),
    ]
    for value, tz, date_only, expected in cases:
        col = format_display_datetime(
            parse_tracker_datetime("value"), tz, date_only=date_only
        )
        assert _eval(spark, col, [(value,)]) == [expected], (value, tz, date_only)


def test_format_for_display_export_edge(spark):
    """format_for_display applies EngineConfig.timezone to every
    timestamp/date column at the export edge; storage stays UTC."""
    import datetime as dt

    from yandex_tracker_exporter_spark.config import EngineConfig
    from yandex_tracker_exporter_spark.sources.clickhouse_compat import (
        format_for_display,
    )

    df = spark.createDataFrame(
        [("A", dt.datetime(2023, 1, 1, 10, 0, 0), dt.date(2023, 6, 1))],
        "k string, updated_at timestamp, deadline date",
    )
    out = format_for_display(df, EngineConfig()).collect()[0]
    assert out.updated_at == "2023-01-01T13:00:00.000"  # Moscow default
    assert out.deadline == "2023-06-01"  # ISO, not %Y-%d-%m
    utc = format_for_display(df, EngineConfig(timezone="UTC")).collect()[0]
    assert utc.updated_at == "2023-01-01T10:00:00.000"


# --- P5 get_timedelta (test_helpers.py:19-47)
def test_timedelta_seconds(spark):
    rows = [("2023-01-01 10:01:00", "2023-01-01 10:00:00")]
    df = spark.createDataFrame(rows, "end string, start string")
    got = df.select(
        timedelta_seconds(
            F.col("end").cast("timestamp"), F.col("start").cast("timestamp")
        )
    ).collect()[0][0]
    assert got == 60


# --- P6 calculate_time_spent (test_helpers.py:50-86)
BUSINESS_CASES = [
    # Sunday 30 min → 0 business seconds
    ("2023-01-01 10:00:00", "2023-01-01 10:30:00", 0),
    # Monday 10:00→23:00 with 09-22 window → 12h
    ("2023-10-16 10:00:00", "2023-10-16 23:00:00", 12 * 3600),
    # reversed interval → abs semantics
    ("2023-10-16 23:00:00", "2023-10-16 10:00:00", 12 * 3600),
    # full week Mon..Sun → 5 workdays × 13h
    ("2023-10-16 00:00:00", "2023-10-22 23:59:59", 5 * 13 * 3600),
]


@pytest.mark.parametrize("impl", ["expr", "pandas"])
def test_business_seconds(spark, impl):
    rows = [(s, e) for s, e, _ in BUSINESS_CASES]
    df = spark.createDataFrame(rows, "start string, end string").select(
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    if impl == "expr":
        col = business_seconds("start", "end")
    else:
        col = business_seconds_pandas_udf()("start", "end")
    got = [r[0] for r in df.select(col).collect()]
    assert got == [e for _, _, e in BUSINESS_CASES]


def test_business_seconds_four_year_span(spark):
    """The closed-form expression has no span cap: a 4-year interval
    (which the round-2 sequence() expansion nulled out) must equal the
    day-walking reference semantics (businesstimedelta over 09-22
    Mon-Fri, reference helpers.py:40-73), including interior holidays."""
    import datetime as dt

    start = dt.datetime(2020, 2, 14, 10, 0, 0)  # Friday
    end = dt.datetime(2024, 3, 18, 20, 30, 0)  # Monday
    holidays = ("2022-06-13", "2022-06-12")  # a Monday and a Sunday

    def day_walk(s, e, workdays={0, 1, 2, 3, 4}, hs=9, he=22, hol=()):
        hol = {dt.date.fromisoformat(h) for h in hol}
        total = 0
        day = s.date()
        while day <= e.date():
            if day.weekday() in workdays and day not in hol:
                ws = dt.datetime.combine(day, dt.time(hs))
                we = dt.datetime.combine(day, dt.time(he))
                total += max(0, int((min(e, we) - max(s, ws)).total_seconds()))
            day += dt.timedelta(days=1)
        return total

    expected = day_walk(start, end, hol=holidays)
    df = spark.createDataFrame([(start, end)], "start timestamp, end timestamp")
    got = df.select(
        business_seconds("start", "end", holiday_dates=holidays)
    ).collect()[0][0]
    assert got == expected
    assert got is not None and got > 3 * 365 * 0.7 * 13 * 3600  # sanity: non-null, plausible


def test_business_seconds_holiday(spark):
    # Mon 2023-10-16 marked as holiday → 0
    df = spark.createDataFrame(
        [("2023-10-16 10:00:00", "2023-10-16 23:00:00")], "start string, end string"
    ).select(
        F.col("start").cast("timestamp").alias("start"),
        F.col("end").cast("timestamp").alias("end"),
    )
    col = business_seconds("start", "end", holiday_dates=("2023-10-16",))
    assert df.select(col).collect()[0][0] == 0


def _business_seconds_ref(
    start: Column,
    end: Column,
    workdays: tuple[int, ...] = (0, 1, 2, 3, 4),
    hour_start: int = 9,
    hour_end: int = 22,
    holiday_dates: tuple[str, ...] = (),
) -> Column:
    """Column-API reference of ``business_seconds``: the same closed
    form built op by op (~800 py4j round trips), kept as the reference
    the SQL-text library kernel must equal."""
    s0, e0 = start, end
    # abs() semantics: order the endpoints.
    s = F.least(s0, e0)
    e = F.greatest(s0, e0)

    window_len = (hour_end - hour_start) * 3600

    # Spark weekday(): Mon=0..Sun=6 — same numbering as the config.
    workdays_arr = F.array(*[F.lit(d) for d in workdays])
    holidays_arr = F.array(*[F.lit(d).cast("date") for d in holiday_dates])

    def day_overlap(day: Column) -> Column:
        """Boundary-day clip: full [s, e) ∩ [day+hs, day+he), gated on
        workday/holiday — identical to expanding that single day."""
        window_start = day + F.expr(f"interval {hour_start} hours")
        window_end = day + F.expr(f"interval {hour_end} hours")
        overlap = F.unix_timestamp(F.least(e, window_end)) - F.unix_timestamp(
            F.greatest(s, window_start)
        )
        is_workday = F.array_contains(workdays_arr, F.weekday(day))
        not_holiday = ~F.coalesce(
            F.array_contains(holidays_arr, F.to_date(day)), F.lit(False)
        )
        return F.when(is_workday & not_holiday, F.greatest(overlap, F.lit(0))).otherwise(
            F.lit(0).cast("long")
        )

    d0, d1 = F.to_date(s), F.to_date(e)
    # interior days are (d0, d1) EXCLUSIVE: [a .. a+n_int-1]
    a = F.date_add(d0, 1)
    n_int = F.datediff(d1, a)  # count of interior days; <= 0 means none
    wa = F.weekday(a)

    # count of interior days whose weekday == w, closed form:
    # positions i in [0, n_int) with (wa + i) % 7 == w
    def weekday_count(w: int) -> Column:
        r = ((F.lit(w) - wa) % 7 + 7) % 7
        return F.when(
            n_int > r, F.floor((n_int - 1 - r) / 7) + 1
        ).otherwise(F.lit(0)).cast("long")

    interior_workdays = None
    for w in workdays:
        term = weekday_count(w)
        interior_workdays = term if interior_workdays is None else interior_workdays + term
    if interior_workdays is None:
        interior_workdays = F.lit(0).cast("long")

    # interior holidays that would otherwise count as workdays: the
    # holiday list is a config literal, so its weekday is known in Python
    interior_holidays = F.lit(0).cast("long")
    for h in holiday_dates:
        if _dt.date.fromisoformat(h).weekday() not in workdays:
            continue
        hd = F.lit(h).cast("date")
        interior_holidays = interior_holidays + F.when(
            (hd > d0) & (hd < d1), F.lit(1)
        ).otherwise(F.lit(0)).cast("long")

    d0t, d1t = F.date_trunc("DAY", s), F.date_trunc("DAY", e)
    total = (
        day_overlap(d0t)
        + F.when(d1 > d0, day_overlap(d1t)).otherwise(F.lit(0).cast("long"))
        + F.lit(window_len).cast("long") * (interior_workdays - interior_holidays)
    )
    return F.when(s.isNull() | e.isNull(), F.lit(None).cast("long")).otherwise(total)


def test_business_seconds_sql_twin_matches_column_path(spark):
    """r12 batch 6: the library renders the closed form as SQL text. It
    must equal the Column-API reference above on every shape —
    NULLs, reversed, weekend-only, multi-year spans, holidays incl. a
    weekend holiday, hour-boundary grazing — and on a non-default
    workday/hour config. All-integer arithmetic, so
    equality is exact."""
    import datetime as dt

    rows = [
        (dt.datetime(2023, 10, 16, 10, 0), dt.datetime(2023, 10, 16, 23, 0)),
        (dt.datetime(2023, 10, 16, 23, 0), dt.datetime(2023, 10, 16, 10, 0)),
        (dt.datetime(2023, 10, 21, 0, 0), dt.datetime(2023, 10, 22, 23, 59)),
        (dt.datetime(2020, 2, 14, 10, 0), dt.datetime(2024, 3, 18, 20, 30)),
        (None, dt.datetime(2023, 10, 16, 12, 0)),
        (dt.datetime(2023, 10, 16, 12, 0), None),
        (None, None),
        (dt.datetime(2023, 10, 16, 9, 0), dt.datetime(2023, 10, 16, 9, 0)),
        (dt.datetime(2023, 10, 16, 0, 0), dt.datetime(2023, 10, 16, 9, 0)),
        (dt.datetime(2023, 10, 16, 22, 0), dt.datetime(2023, 10, 17, 9, 0)),
        (dt.datetime(2022, 6, 10, 21, 59), dt.datetime(2022, 6, 14, 9, 1)),
    ]
    df = spark.createDataFrame(rows, "start timestamp, end timestamp")
    configs = [
        dict(),
        dict(holiday_dates=("2022-06-13", "2022-06-12", "2023-10-16")),
        dict(workdays=(0, 2, 5), hour_start=7, hour_end=19),
        dict(workdays=(), holiday_dates=("2023-10-17",)),
    ]
    for kw in configs:
        out = df.select(
            business_seconds("start", "end", **kw).alias("s"),
            _business_seconds_ref(F.col("start"), F.col("end"), **kw).alias("c"),
        ).collect()
        for r in out:
            assert r.s == r.c, (kw, r)


# --- P7 to_human_time (test_helpers.py:207-218)
HUMAN_CASES = [
    (60, 2, "1m"),
    (300, 2, "5m"),
    (320, 2, "5m 20s"),
    (86700, 2, "1d 5m"),
    (3200400, 3, "1mo 1w 1h"),
    (0, 2, "0s"),
    (-320, 2, "-5m 20s"),
]


def test_to_human_time(spark):
    for seconds, verbosity, expected in HUMAN_CASES:
        df = spark.createDataFrame([(seconds,)], "value long")
        got = df.select(to_human_time("value", verbosity)).collect()[0][0]
        assert got == expected, f"{seconds} v{verbosity}"


# --- P8 from_human_time (test_helpers.py:221-232)
@pytest.mark.parametrize(
    "timestr, expected",
    [("1m", 60), ("5m", 300), ("5m 20s", 320), ("1d 5m", 86700), ("1mo 1w 1h", 3200400)],
)
def test_from_human_time(timestr, expected):
    assert from_human_time(timestr) == expected


def test_from_human_time_invalid():
    with pytest.raises(ValueError):
        from_human_time("1x")


# --- P9 extract_changelog_value (helpers.py:261-298 semantics over
# JSON-encoded variants)
def test_extract_changelog_value(spark):
    long_text = "x" * 150
    rows = [
        ('"short text"', "short text"),
        (f'"{long_text}"', TEXT_TOO_LONG_SENTINEL),
        ('"2023-01-01T10:00:00.123+0300"', "2023-01-01T07:00:00.123"),
        (None, ""),
        ("null", ""),
        ("42", "42"),
        ("3.14", "3.14"),
        ('{"key": "TEST-1", "name": "Test"}', "TEST-1"),
        ('{"email": "User@Example.com"}', "user@example.com"),
        ('{"name": "Sprint 1"}', "Sprint 1"),
        ('{"id": "123"}', "123"),
        ('{"other": 1}', '{"other": 1}'),
        ('["a", "b"]', "a, b"),
    ]
    got = _eval(spark, extract_changelog_value("value"), [(r[0],) for r in rows])
    assert got == [r[1] for r in rows]


# --- Column-API references of the SQL-text datetime and changelog
# kernels: the expression each kernel renders, built op by op (~100 and
# ~1,200 py4j round trips per call) and without the first-character gate.
def _parse_tracker_datetime_ref(c: Column) -> Column:
    return F.coalesce(
        F.try_to_timestamp(c, F.lit(TRACKER_DT_FORMAT)),
        F.try_to_timestamp(c, F.lit(TRACKER_DT_FORMAT_NOTZ)),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSZ")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssZ")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
    )


def _normalize_scalar_string_ref(c: Column) -> Column:
    """The str branch: try datetime reformat, else length-guard."""
    parsed = _parse_tracker_datetime_ref(c)
    reformatted = F.date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss.SSS")
    return (
        F.when(parsed.isNotNull(), reformatted)
        .when(F.length(c) > MAX_TEXT_LEN, F.lit(TEXT_TOO_LONG_SENTINEL))
        .otherwise(c)
    )


def _extract_object_ref(c: Column) -> Column:
    """Reference-object extraction: key > lower(email) > name > id; other
    objects pass through as JSON text."""
    key = F.get_json_object(c, "$.key")
    email = F.lower(F.get_json_object(c, "$.email"))
    name = F.get_json_object(c, "$.name")
    id_ = F.get_json_object(c, "$.id")
    extracted = F.coalesce(key, email, name, id_)
    return F.when(extracted.isNotNull(), extracted).otherwise(c)


def _extract_changelog_value_ref(c: Column, _depth: int = 2) -> Column:
    first = F.substring(F.ltrim(c), 1, 1)

    scalar_string = _normalize_scalar_string_ref(F.get_json_object(c, "$"))

    if _depth > 0:
        # list branch: explode-free recursive transform + comma-join.
        # from_json to array<string> keeps each element's raw JSON text.
        elements = F.from_json(c, "array<string>")
        joined = F.array_join(
            F.transform(elements, lambda x: _extract_changelog_value_ref(x, _depth - 1)),
            ", ",
        )
    else:
        joined = c

    return (
        F.when(c.isNull() | (c == "null"), F.lit(""))
        .when(first == "[", joined)
        .when(first == "{", _extract_object_ref(c))
        .when(first == '"', scalar_string)
        # bare literal (number or unquoted string): same scalar treatment —
        # numbers survive it unchanged (datetime parse fails, length ≤ 100)
        .otherwise(_normalize_scalar_string_ref(c))
    )


_DT_VALUES = [
    # the eleven layouts
    "2023-01-01T10:00:00.123456+0300",
    "2023-01-01T10:00:00.123456",
    "2023-01-01T10:00:00.123+0300",
    "2023-01-01T10:00:00.123",
    "2023-01-01T10:00:00+0300",
    "2023-01-01T10:00:00",
    "2023-01-01T10:00:00.123456Z",
    "2023-01-01T10:00:00.123+03:00",
    "2023-01-01T10:00:00Z",
    "2023-01-01 10:00:00",
    "2023-01-01",
    # signed and wide years, full-width and other non-ASCII digits
    "+2023-01-01",
    "-2023-01-01",
    "+12023-01-01T10:00:00",
    "-0001-12-31 23:59:59",
    "２０２３-０１-０１",
    "٢٠٢٣-٠١-٠١",
    # whitespace around a datetime
    " 2023-01-01",
    "\t2023-01-01T10:00:00",
    "2023-01-01 ",
]
_ADVERSARIAL_VALUES = _DT_VALUES + [
    "",
    "null",
    None,
    " null",
    "Testing",
    "42",
    "-7",
    "+3",
    "3.14",
    "1e5",
    "20230101",
    "x" * 150,
    "2023-01-01" + "x" * (MAX_TEXT_LEN + 1),
    '"' + "y" * (MAX_TEXT_LEN + 1) + '"',
    '"Testing"',
    '"2023-01-01T10:00:00.123+0300"',
    '"2023-01-01"',
    '" 2023-01-01"',
    '"+12023-01-01T10:00:00"',
    ' "quoted after a space"',
    '"it\'s"',
    '{"key": "K-1", "name": "n"}',
    '{"email": "A@B.c"}',
    '{"name": "Sprint 1"}',
    '{"id": 5}',
    '{"display": "x", "id": "7"}',
    '{"other": 1}',
    "{}",
    ' {"key": "K-2"}',
    "{bad json",
    "[]",
    '["a", "b"]',
    '[["a", "b"], "c"]',
    '[[["a", "2023-01-01"]], "b"]',
    '[[[["deep"]]]]',
    '[{"key": "K"}, "2023-01-01T10:00:00Z", null, 42, "Testing"]',
    '  ["x", {"email": "E@F.g"}]',
    "[bad",
]


def test_tracker_kernels_match_column_references(spark):
    """The SQL-text kernels equal their Column-API references on
    adversarial values, with ANSI mode off, on, and on with double-quoted
    identifiers (so a double-quoted literal in the SQL text would turn
    into a column name and fail)."""
    df = spark.createDataFrame([(v,) for v in _ADVERSARIAL_VALUES], "value string")
    keys = ("spark.sql.ansi.enabled", "spark.sql.ansi.doubleQuotedIdentifiers")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for ansi, dq in (("false", "false"), ("true", "false"), ("true", "true")):
            spark.conf.set(keys[0], ansi)
            spark.conf.set(keys[1], dq)
            out = df.select(
                "value",
                F.unix_micros(parse_tracker_datetime("value")).alias("p"),
                F.unix_micros(_parse_tracker_datetime_ref(F.col("value"))).alias("p_ref"),
                extract_changelog_value("value").alias("e"),
                _extract_changelog_value_ref(F.col("value")).alias("e_ref"),
            ).collect()
            assert len(out) == len(_ADVERSARIAL_VALUES)
            for r in out:
                assert (r.p, r.e) == (r.p_ref, r.e_ref), (ansi, dq, r)
            # non-vacuous: every layout parses, and so do the signed years
            parsed = {r.value for r in out if r.p is not None}
            assert set(_DT_VALUES[:11]) | {"-2023-01-01", "+12023-01-01T10:00:00"} <= parsed
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# --- Column-API references of the SQL-text snake_case and human-time
# kernels: the expression each kernel renders, built op by op.
def _to_snake_case_ref(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pattern, replacement in SNAKE_RULES:
        out = F.regexp_replace(out, pattern, replacement)
    out = F.lower(out)
    return F.when(F.trim(c) == "", F.trim(c)).otherwise(out)


def _to_human_time_ref(col: Column | str, verbosity: int = 2) -> Column:
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    total = F.abs(c)
    parts = []
    remainder = total
    for name, count in HUMAN_TIME_UNITS:
        value = F.floor(remainder / F.lit(count)).cast("long")
        parts.append(F.struct(value.alias("v"), F.lit(name).alias("n")))
        remainder = remainder % F.lit(count)
    decomposed = F.filter(F.array(*parts), lambda x: x["v"] > 0)
    top = F.slice(decomposed, 1, verbosity)
    joined = F.array_join(
        F.transform(top, lambda x: F.concat(x["v"].cast("string"), x["n"])), " "
    )
    return (
        F.when(c == 0, F.lit("0s"))
        .when(c < 0, F.concat(F.lit("-"), joined))
        .otherwise(joined)
    )


_SNAKE_VALUES = [None, "", " ", "\t \n", "_", "-", "a b", "ab", "AB", "\U0001f680x"] + [
    # every lower/upper/digit boundary, Latin and Cyrillic on both sides
    a + b
    for a in ("a", "z", "A", "Z", "я", "ё", "Я", "Ё", "0", "9", "_", "-")
    for b in ("b", "B", "ж", "Ж", "ё", "Ё", "1", "0", " ", ".")
] + [t for t, _ in SNAKE_CASES] + ["x$1y", "a\\b", "Ünïcödé", "ÀbC1d"]
_SECONDS = [None, 0, 1, -1, -59, -60, -61, -86401, -31104000, -(10**12)] + [
    # unit boundaries, each side, and spans of a year or more
    n * count + d
    for _, count in HUMAN_TIME_UNITS
    for n in (1, 2)
    for d in (-1, 0, 1)
] + [31104000 + 2592000 + 604800 + 86400 + 3600 + 60 + 1, 10**10, 2**62]


def test_snake_case_and_human_time_kernels_match_column_references(spark):
    """The SQL-text ``to_snake_case``, ``string_normalize`` and
    ``to_human_time`` equal their Column-API references with ANSI mode
    off, on, and on with double-quoted identifiers."""
    words = spark.createDataFrame([(v,) for v in _SNAKE_VALUES], "value string")
    seconds = spark.createDataFrame([(v,) for v in _SECONDS], "value long")
    keys = ("spark.sql.ansi.enabled", "spark.sql.ansi.doubleQuotedIdentifiers")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for ansi, dq in (("false", "false"), ("true", "false"), ("true", "true")):
            spark.conf.set(keys[0], ansi)
            spark.conf.set(keys[1], dq)
            out = words.select(
                to_snake_case("value").alias("s"),
                _to_snake_case_ref(F.col("value")).alias("s_ref"),
                string_normalize("value").alias("n"),
                F.regexp_replace("value", EMOJI_PATTERN, "").alias("n_ref"),
            ).collect()
            assert len(out) == len(_SNAKE_VALUES)
            for r in out:
                assert (r.s, r.n) == (r.s_ref, r.n_ref), (ansi, dq, r)
            assert {r.s for r in out} >= {None, "", "a_1", "я_1", "9_b", "a_ж", "я_b"}
            for verbosity in (1, 2, 3, 7):
                out = seconds.select(
                    "value",
                    to_human_time("value", verbosity).alias("h"),
                    _to_human_time_ref(F.col("value"), verbosity).alias("h_ref"),
                ).collect()
                assert len(out) == len(_SECONDS)
                for r in out:
                    assert r.h == r.h_ref, (ansi, dq, verbosity, r)
            assert {r.h for r in out} >= {"0s", "-1s", "1y", "1y 1mo 1w 1d 1h 1m 1s"}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_chunk_tokens_boundaries(spark):
    """Chunk arithmetic: short docs yield one chunk; long docs overlap
    by exactly `overlap` tokens; no empty chunks ever."""
    import pytest as _pytest

    from yandex_tracker_exporter_spark.operators.text_analysis import chunk_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # < chunk_size
            (2, " ".join(f"t{i}" for i in range(40))),   # 2 chunks
            (3, " ".join(f"t{i}" for i in range(100))),  # 4 chunks
        ],
        "doc_id long, text string",
    )
    rows = chunk_tokens(docs, chunk_size=32, overlap=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 10
    assert len(by_doc[2]) == 2
    chunks2 = sorted(by_doc[2], key=lambda r: r.chunk_idx)
    # stride 24: chunk 1 starts at token 24 -> 8-token overlap
    assert chunks2[0].chunk_text.split()[24:] == chunks2[1].chunk_text.split()[:8]
    assert len(by_doc[3]) == 4
    assert all(r.n_chunk_tokens > 0 for r in rows)

    with _pytest.raises(ValueError, match="overlap"):
        chunk_tokens(docs, chunk_size=8, overlap=8)


def test_redact_pii_counts_and_placeholders(spark):
    from yandex_tracker_exporter_spark.operators.text_analysis import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org, call +1 555-000-1234 now"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].n_emails == 2 and got[1].n_phones == 1
    assert got[1].redacted == "mail <EMAIL> and <EMAIL>, call <PHONE> now"
    assert got[2].n_emails == 0 and got[2].n_phones == 0
    assert got[2].redacted == "no pii here"


# --- P14 bytes_to_human (reference helpers.py:301-320)
def test_bytes_to_human(spark):
    from yandex_tracker_exporter_spark.functions.datetimes import bytes_to_human

    def reference_impl(data, granularity=2):
        # verbatim re-derivation of the reference's python (helpers.py:301-320)
        _bytes = int(data)
        result = []
        sizes = (("TB", 1024**4), ("GB", 1024**3), ("MB", 1024**2),
                 ("KB", 1024), ("B", 1))
        if _bytes == 0:
            return "0"  # reference returns int 0; string form here
        for name, count in sizes:
            value = _bytes // count
            if value:
                _bytes -= value * count
                result.append(f"{value}{name}")
        return ", ".join(result[:granularity])

    samples = [0, 1, 999, 1024, 1536, 10**6, 1024**2, 5 * 1024**3 + 3 * 1024,
               1024**4 + 1024**3 + 7]
    df = spark.createDataFrame([(s,) for s in samples], "b long")
    got = [r[0] for r in df.select(bytes_to_human("b")).collect()]
    assert got == [reference_impl(s) for s in samples]
    got3 = [r[0] for r in df.select(bytes_to_human("b", granularity=3)).collect()]
    assert got3 == [reference_impl(s, 3) for s in samples]


class TestCanonicalizeText:
    def test_rules(self, spark):
        from yandex_tracker_exporter_spark.functions.text import (
            canonicalize_text,
        )
        from pyspark.sql import functions as F

        rows = [
            (1, "  Hello   WORLD  "),
            (2, "Café crème à Zürich"),
            (3, "tabs\tand\nnewlines"),
            (4, "already clean"),
        ]
        df = spark.createDataFrame(rows, "id long, t string")
        got = {r.id: r.c for r in df.select(
            "id", canonicalize_text("t").alias("c")
        ).collect()}
        assert got[1] == "hello world"
        assert got[2] == "cafe creme a zurich"
        assert got[3] == "tabs and newlines"
        assert got[4] == "already clean"

    def test_case_accent_spacing_variants_converge(self, spark):
        from yandex_tracker_exporter_spark.functions.text import (
            canonicalize_text,
        )

        variants = ["résumé  review", "RESUME REVIEW", " resume\treview "]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(variants)], "id long, t string"
        )
        canon = {r[0] for r in df.select(canonicalize_text("t")).collect()}
        assert canon == {"resume review"}
