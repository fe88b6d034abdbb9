"""Scalar function library (SURVEY §2.3, P1-P14).

Every function here returns a Spark ``Column`` built from built-in
expressions — JVM-side, whole-stage-codegen-friendly, no Python in the
hot path, including the calendar-heavy business-hours duration.
"""

from yandex_tracker_exporter_spark.functions.text import (
    to_snake_case,
    string_normalize,
)
from yandex_tracker_exporter_spark.functions.datetimes import (
    parse_tracker_datetime,
    timedelta_seconds,
    to_human_time,
    from_human_time,
    bytes_to_human,
)
from yandex_tracker_exporter_spark.functions.business import business_seconds
from yandex_tracker_exporter_spark.functions.changelog import (
    extract_changelog_value,
)

__all__ = [
    "to_snake_case",
    "string_normalize",
    "parse_tracker_datetime",
    "timedelta_seconds",
    "to_human_time",
    "from_human_time",
    "bytes_to_human",
    "business_seconds",
    "extract_changelog_value",
]
