"""Polymorphic changelog value normalization (reference P9).

``extract_changelog_field`` (``helpers.py:261-298``) duck-types over
Python values: list → comma-join (recursive), str → try-parse-datetime
else truncate >100 chars, dict → json.dumps, None → "", numbers → str,
API Reference object → first of key/email/name/id.

In the typed engine the polymorphic value arrives as a **JSON-encoded
string** (see FIXTURES.md §2) and the dispatch becomes a first-character
``CASE`` over built-in JSON/string expressions — no Python, no UDF. An
object with any of key/email/name/id is treated as an API reference
(extracted); other objects keep their JSON text (≡ the reference's
``json.dumps`` branch, as the value already *is* its dump).

The whole dispatch, list recursion included, is rendered as SQL text
and parsed JVM-side by one ``F.expr``: the Column-API form of the
same expression costs ~1,200 py4j round trips per call. Its test-side
Column-API reference lives in ``tests/test_functions.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.functions.datetimes import (
    parse_tracker_datetime_sql,
    sql_string,
)

#: Max changed-value length before the truncation sentinel
#: (reference ``helpers.py:270-273``).
TEXT_TOO_LONG_SENTINEL = "text too long, see history in UI"
MAX_TEXT_LEN = 100
#: Rendering of a changelog value that parses as a datetime.
DISPLAY_DT_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSS"
#: List recursion bound: the reference recurses unboundedly, real
#: payloads nest ≤2 — deeper elements fall back to raw JSON text.
MAX_LIST_DEPTH = 2


def _scalar_sql(s: str) -> str:
    """The str branch: try datetime reformat, else length-guard.
    ``date_format`` of a non-null timestamp is never null, so a
    ``coalesce`` parses the value once."""
    reformatted = (
        f"date_format({parse_tracker_datetime_sql(s)}, "
        f"{sql_string(DISPLAY_DT_FORMAT)})"
    )
    guarded = (
        f"CASE WHEN length({s}) > {MAX_TEXT_LEN} "
        f"THEN {sql_string(TEXT_TOO_LONG_SENTINEL)} ELSE {s} END"
    )
    return f"coalesce({reformatted}, {guarded})"


def _object_sql(c: str) -> str:
    """Reference-object extraction: key > lower(email) > name > id; other
    objects pass through as JSON text."""
    return (
        f"coalesce(get_json_object({c}, '$.key'), "
        f"lower(get_json_object({c}, '$.email')), "
        f"get_json_object({c}, '$.name'), get_json_object({c}, '$.id'), {c})"
    )


def _value_sql(c: str, depth: int) -> str:
    first = f"substr(ltrim({c}), 1, 1)"
    if depth > 0:
        # list branch: explode-free recursive transform + comma-join.
        # from_json to array<string> keeps each element's raw JSON text.
        x = f"_v{depth}"
        joined = (
            f"array_join(transform(from_json({c}, 'array<string>'), "
            f"{x} -> {_value_sql(x, depth - 1)}), ', ')"
        )
    else:
        joined = c
    return (
        f"CASE WHEN {c} IS NULL OR {c} = 'null' THEN '' "
        f"WHEN {first} = '[' THEN {joined} "
        f"WHEN {first} = '{{' THEN {_object_sql(c)} "
        f"""WHEN {first} = '"' THEN {_scalar_sql(f"get_json_object({c}, '$')")} """
        # bare literal (number or unquoted string): same scalar treatment —
        # numbers survive it unchanged (datetime parse fails, length ≤ 100)
        f"ELSE {_scalar_sql(c)} END"
    )


def extract_changelog_value_sql(expr: str) -> str:
    """SQL text of :func:`extract_changelog_value` over the SQL
    expression ``expr``."""
    return _value_sql(expr, MAX_LIST_DEPTH)


def extract_changelog_value(expr: str) -> Column:
    """Flatten a JSON-encoded polymorphic changelog value to a string.

    ``expr`` is SQL expression text, e.g. ``"change.`from`"``.
    """
    return F.expr(extract_changelog_value_sql(expr))
