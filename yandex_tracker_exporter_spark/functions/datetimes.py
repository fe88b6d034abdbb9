"""Datetime functions (reference P4/P5/P7/P8).

The reference shuttles ISO-8601 *strings* through the whole pipeline and
re-parses them at every step (``helpers.py:120-146``); here timestamps
are real ``TimestampType`` end-to-end and formatting happens only at the
edges. The session timezone is UTC (set in ``session.py``), matching the
reference's default storage timezone.

``parse_tracker_datetime`` and ``to_human_time`` are rendered as SQL text
and parsed JVM-side by one ``F.expr``: a Column-API chain of the same
expression costs ~100 py4j round trips per call. Their test-side
Column-API references live in ``tests/test_functions.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tracker API datetime format ``%Y-%m-%dT%H:%M:%S.%f%z``
#: (reference ``config.py:196``) in Spark pattern syntax.
TRACKER_DT_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ"
#: Same without zone — the reference substitutes UTC when tzinfo is
#: missing (``helpers.py:136-138``).
TRACKER_DT_FORMAT_NOTZ = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

#: Layouts ``parse_tracker_datetime`` tries, in order. The XXX arms take
#: a literal 'Z' and colon offsets ('+03:00'), both of which Python's %z
#: (the reference parser) accepts since 3.7; the Spark 'Z' pattern only
#: matches '+HHMM' forms.
TRACKER_DT_PATTERNS: tuple[str, ...] = (
    TRACKER_DT_FORMAT,
    TRACKER_DT_FORMAT_NOTZ,
    "yyyy-MM-dd'T'HH:mm:ss.SSSZ",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ssZ",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)

#: Every pattern above starts with the ``yyyy`` year field, which only
#: matches an ASCII digit or a year sign first: no other value can parse.
_DT_FIRST_CHARS = "0123456789+-"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal. Never a
    double-quoted one: under ``spark.sql.ansi.doubleQuotedIdentifiers``
    that would name a column."""
    return "'" + value.replace("'", "''") + "'"


def sql_in(expr: str, values) -> str:
    """``expr IN (values)`` as SQL text; ``false`` if empty, like ``isin()``."""
    return f"({expr}) IN ({', '.join(map(sql_string, values))})" if values else "false"


def parse_tracker_datetime_sql(expr: str) -> str:
    """SQL text of :func:`parse_tracker_datetime` over the SQL
    expression ``expr``.

    The arms run only when the first character can start a year: a value
    that is not a datetime (most changelog values are status names) would
    otherwise pay eleven failing parses.
    """
    first = ", ".join(sql_string(ch) for ch in _DT_FIRST_CHARS)
    arms = ", ".join(
        f"try_to_timestamp({expr}, {sql_string(p)})" for p in TRACKER_DT_PATTERNS
    )
    return f"CASE WHEN substr({expr}, 1, 1) IN ({first}) THEN coalesce({arms}) END"


def parse_tracker_datetime(expr: str) -> Column:
    """Parse a Tracker API datetime string to a UTC timestamp (P4).

    ``expr`` is SQL expression text: a column name (``"updatedAt"``) or
    a path (``"fields[1].`from`"``). Accepts offset-suffixed and naive
    strings (naive = UTC), plus plain dates / second-precision strings
    as a lenient fallback — the reference funnels every datetime through
    one strptime and a handful of formats appear in changelog values.
    """
    return F.expr(parse_tracker_datetime_sql(expr))


def format_display_datetime(
    col: Column | str, tz: str = "UTC", date_only: bool = False
) -> Column:
    """Format a UTC timestamp for display in ``tz`` (P4 second half,
    reference ``helpers.py:120-146`` + ``config.py:114``): storage stays
    UTC; only this edge shifts to the configured timezone and renders
    the reference's ClickHouse string format (``%Y-%m-%dT%H:%M:%S.%f``
    trimmed to milliseconds).

    Deliberately NOT reproduced: the reference's ``date_only`` format is
    ``"%Y-%d-%m"`` (``helpers.py:142``) — day and month swapped, a
    recorded upstream bug. We emit ISO ``yyyy-MM-dd``.
    """
    c = F.col(col) if isinstance(col, str) else col
    local = F.from_utc_timestamp(c, tz)
    if date_only:
        return F.date_format(local, "yyyy-MM-dd")
    return F.date_format(local, "yyyy-MM-dd'T'HH:mm:ss.SSS")


def timedelta_seconds(end: Column | str, start: Column | str) -> Column:
    """Whole seconds between two timestamps (P5, ``helpers.py:27-37``)."""
    e = F.col(end) if isinstance(end, str) else end
    s = F.col(start) if isinstance(start, str) else start
    return (F.unix_timestamp(e) - F.unix_timestamp(s)).cast("long")


#: Duration units of ``to_human_time`` (``helpers.py:201-209``): note the
#: reference's year is 360 days and month 30 days.
HUMAN_TIME_UNITS: tuple[tuple[str, int], ...] = (
    ("y", 31104000),
    ("mo", 2592000),
    ("w", 604800),
    ("d", 86400),
    ("h", 3600),
    ("m", 60),
    ("s", 1),
)


def to_human_time_sql(expr: str, verbosity: int = 2) -> str:
    """SQL text of :func:`to_human_time` over the SQL expression ``expr``."""
    c = f"CAST({expr} AS BIGINT)"
    remainder = f"abs({c})"
    parts = []
    for name, count in HUMAN_TIME_UNITS:
        value = f"CAST(floor({remainder} / {count}) AS BIGINT)"
        parts.append(f"named_struct('v', {value}, 'n', {sql_string(name)})")
        remainder = f"({remainder} % {count})"
    top = f"slice(filter(array({', '.join(parts)}), _u -> _u.v > 0), 1, {verbosity})"
    joined = f"array_join(transform({top}, _u -> concat(CAST(_u.v AS STRING), _u.n)), ' ')"
    return f"CASE WHEN {c} = 0 THEN '0s' WHEN {c} < 0 THEN concat('-', {joined}) ELSE {joined} END"


def to_human_time(expr: str, verbosity: int = 2) -> Column:
    """Seconds → ``"2w 3d"`` (top-``verbosity`` units, negative-aware; P7).

    ``expr`` is SQL expression text, e.g. a column name. Pure expression:
    greedy unit decomposition of ``abs(seconds)``, keep non-zero units in
    order, take the first ``verbosity``, join with spaces; 0 → ``"0s"``;
    negative gets a ``-`` prefix.
    """
    return F.expr(to_human_time_sql(expr, verbosity))


#: Binary-prefix units of ``bytes_to_human`` (``helpers.py:301-320``).
BYTE_UNITS: tuple[tuple[str, int], ...] = (
    ("TB", 1024**4),
    ("GB", 1024**3),
    ("MB", 1024**2),
    ("KB", 1024),
    ("B", 1),
)


def bytes_to_human(col: Column | str, granularity: int = 2) -> Column:
    """Bytes → ``"1MB, 24KB"`` (P14, reference ``helpers.py:301-320``):
    greedy binary-prefix decomposition, top ``granularity`` non-zero
    units joined with ``", "``. 0 bytes → ``"0"`` (the reference returns
    the int 0 there; this is its string form). Same decomposition as
    :func:`to_human_time`; exact for values below 2^53 (≈ 8 PB — the
    float division in ``floor`` is the only non-integer step).
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    parts = []
    remainder = c
    for name, count in BYTE_UNITS:
        value = F.floor(remainder / F.lit(count)).cast("long")
        parts.append(F.struct(value.alias("v"), F.lit(name).alias("n")))
        remainder = remainder % F.lit(count)
    decomposed = F.filter(F.array(*parts), lambda x: x["v"] > 0)
    top = F.slice(decomposed, 1, granularity)
    joined = F.array_join(
        F.transform(top, lambda x: F.concat(x["v"].cast("string"), x["n"])), ", "
    )
    return F.when(c == 0, F.lit("0")).otherwise(joined)


_HUMAN_TIME_PATTERNS: tuple[tuple[str, int], ...] = (
    (r"(\d+)y", 365 * 86400),
    (r"(\d+)mo", 30 * 86400),
    (r"(\d+)w", 7 * 86400),
    (r"(\d+)d", 86400),
    (r"(\d+)h", 3600),
    (r"(\d+)m", 60),
    (r"(\d+)s", 1),
)


def from_human_time(timestr: str) -> int:
    """``"1mo 1w 1h"`` → seconds (P8, ``helpers.py:219-244``).

    Driver-side helper (parses config range strings like ``"2h"``); note
    the intentional reference asymmetry: parsing uses a 365-day year
    while formatting uses 360 days.
    """
    total_seconds = 0
    remaining = timestr
    for pattern, multiplier in _HUMAN_TIME_PATTERNS:
        match = re.search(pattern, remaining)
        if match:
            total_seconds += int(match.group(1)) * multiplier
            remaining = re.sub(pattern, "", remaining)
    remaining = remaining.strip()
    if remaining:
        raise ValueError(f"Invalid format detected in the string: '{remaining}'")
    return total_seconds
