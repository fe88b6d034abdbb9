"""Status-time sessionization — the reference's core analytic (A1).

The reference accumulates per-(issue, status) time in a Python dict while
looping over each issue's changelog (``models/issue.py:169-224``). Here it
is one shuffle: filter → interval columns → ``groupBy(key, status)``.

Two variants:

- ``status_metrics`` — Tracker-shaped: workflow events carry both interval
  endpoints in ``fields[1]`` (from/to), so no window function is needed at
  all; the initial-status transition falls back to ``createdAt``
  (``issue.py:185``), corrupt events (null end) are dropped
  (``issue.py:188-194``), and the still-open current status is *not*
  emitted (``issue.py:226-241``).

- ``sessionize_events`` — generic event-stream shaped (the harness
  ``events`` table): intervals are reconstructed with ``lead() over
  (partitionBy(entity).orderBy(ts))`` — the SURVEY A1 fallback path. The
  final open interval per entity has no end and is excluded, mirroring
  "current status not counted".

Scale notes: the window and the aggregation share the same partitioning
key (entity), so AQE plans a single shuffle on entity; the aggregation
is a partial-agg-friendly hash agg. Skewed entities are handled by AQE
skew-split since each entity's event list is processed as a sorted run,
not materialized per-group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.config import DEFAULT_CONFIG, EngineConfig
from yandex_tracker_exporter_spark.functions.business import business_seconds_sql
from yandex_tracker_exporter_spark.functions.datetimes import (
    parse_tracker_datetime_sql,
    sql_in,
    sql_string,
    to_human_time_sql,
)
from yandex_tracker_exporter_spark.functions.text import to_snake_case_sql


def sessionize_events(
    events: DataFrame,
    entity_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-(entity, state) dwell-time metrics from a raw event stream.

    Each event opens a state session that closes at the entity's next
    event; the last (still open) session is excluded — the analogue of
    the reference never counting the current status.

    Output: entity, state_name, status_transitions_count, duration (sum
    of session seconds), last_seen (max session end).
    """
    # NB: aggregate on the ORIGINAL column names and alias only at the
    # end — renaming before the window hides the alias equivalence from
    # Spark's partitioning propagation and costs a second shuffle (the
    # window's hashpartitioning(entity) already satisfies the groupBy's
    # (entity, state) clustered distribution).
    w = Window.partitionBy(entity_col).orderBy(F.col(ts_col).asc(), F.col(state_col).asc())
    sessions = events.select(
        entity_col,
        state_col,
        F.col(ts_col).alias("_session_start"),
        F.lead(F.col(ts_col)).over(w).alias("_session_end"),
    ).where(F.col("_session_end").isNotNull())
    out = sessions.groupBy(entity_col, state_col).agg(
        F.count(F.lit(1)).alias("status_transitions_count"),
        F.sum(
            F.unix_timestamp("_session_end") - F.unix_timestamp("_session_start")
        ).alias("duration"),
        F.max("_session_end").alias("last_seen"),
    )
    return out.select(
        F.col(entity_col).alias("entity"),
        F.col(state_col).alias("state_name"),
        "status_transitions_count",
        "duration",
        "last_seen",
    )


def _status_transition_events(
    changelog: DataFrame, config: EngineConfig
) -> DataFrame:
    """F6+F7: keep workflow events whose first field change is the status."""
    return changelog.where(
        f"type = {sql_string(config.workflow_event_type)}"  # F6
        " AND size(fields) >= 2"  # F7
        " AND fields[0].field.id = 'status'"  # F7
    )


def _transition_intervals(
    changelog: DataFrame, issues: DataFrame | None, config: EngineConfig
) -> DataFrame:
    """Status transitions plus their interval: ``_start_ts``, ``_end_ts``
    and the F8 keep flag ``_has_interval`` (both endpoints parse).

    The initial-status transition has a null ``fields[1].from`` and
    starts at the issue's ``createdAt`` (``issue.py:185``), joined
    broadcast since it is only (key, createdAt); ``_end_ts`` has no
    fallback. The flag is never null, so ``status_metrics`` (keep) and
    ``corrupt_transition_events`` (NOT keep) partition the transitions.
    """
    transitions = _status_transition_events(changelog, config)
    start = parse_tracker_datetime_sql("fields[1].`from`")
    if issues is not None:
        created = F.broadcast(
            issues.selectExpr(
                "key AS issue_key",
                f"{parse_tracker_datetime_sql('createdAt')} AS _created_at",
            )
        )
        transitions = transitions.join(created, "issue_key", "left")
        start = f"coalesce({start}, _created_at)"
    return (
        transitions.selectExpr(
            "*",
            f"{start} AS _start_ts",
            f"{parse_tracker_datetime_sql('fields[1].`to`')} AS _end_ts",
        )
        .drop("_created_at")
        .selectExpr("*", "_start_ts IS NOT NULL AND _end_ts IS NOT NULL AS _has_interval")
    )


def status_metrics(
    changelog: DataFrame,
    issues: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    include_busdays: bool = True,
) -> DataFrame:
    """Tracker-parity per-(issue, status) cycle-time metrics (A1).

    ``changelog`` follows RAW_CHANGELOG_SCHEMA; ``issues`` (optional)
    provides ``createdAt`` for the initial-status fallback — joined
    broadcast since it is only (key, createdAt). Built from SQL text,
    kernels included.

    Output matches ISSUE_METRICS_SCHEMA minus ``version`` (added at the
    sink): issue_key, status_name, status_transitions_count, duration,
    human_readable_duration, busdays_duration,
    human_readable_busdays_duration, last_seen.
    """
    busdays = (
        business_seconds_sql(
            "start_ts",
            "end_ts",
            workdays=config.workdays,
            hour_start=config.business_hour_start,
            hour_end=config.business_hour_end,
            holiday_dates=config.holiday_dates,
        )
        if include_busdays
        else "CAST(0 AS BIGINT)"
    )
    per_status = (
        _transition_intervals(changelog, issues, config)
        # F8: drop corrupt events with no usable interval
        .where("_has_interval")
        .selectExpr(
            "issue_key",
            f"{to_snake_case_sql('lower(fields[0].`from`)')} AS status_name",
            "_start_ts AS start_ts",
            "_end_ts AS end_ts",
        )
        .selectExpr(
            "*",
            "CAST(abs(unix_timestamp(end_ts) - unix_timestamp(start_ts)) AS BIGINT) AS _duration",
            f"{busdays} AS _busdays",
        )
        .groupBy("issue_key", "status_name")
        .agg(
            F.expr("count(1) AS status_transitions_count"),
            F.expr("sum(_duration) AS duration"),
            F.expr("sum(_busdays) AS busdays_duration"),
            F.expr("max(end_ts) AS last_seen"),
        )
    )
    return per_status.selectExpr(
        "issue_key",
        "status_name",
        "status_transitions_count",
        "duration",
        f"{to_human_time_sql('duration')} AS human_readable_duration",
        "busdays_duration",
        f"{to_human_time_sql('busdays_duration')} AS human_readable_busdays_duration",
        "last_seen",
    )


def corrupt_transition_events(
    changelog: DataFrame,
    *,
    issues: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """F8 quarantine: EXACTLY the workflow status-transition events that
    ``status_metrics`` drops — routed to a DataFrame instead of log
    lines so bad data is queryable, not lost (SURVEY F8 mapping).

    Pass the same ``issues`` given to ``status_metrics``: both select
    on the one keep flag of ``_transition_intervals`` — ``coalesce(
    parse(from), createdAt) IS NOT NULL AND parse(to) IS NOT NULL`` —
    this one on its negation. So a null/unparseable ``from`` is only
    corrupt when no createdAt fallback exists, an unparseable ``to`` is
    always corrupt, and every transition lands in exactly one of the
    two outputs."""
    return (
        _transition_intervals(changelog, issues, config)
        .where("NOT _has_interval")
        .drop("_start_ts", "_end_ts", "_has_interval")
    )


def closed_at_refinement(
    changelog: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Latest transition INTO a closed status, per issue — the
    changelog half of the two-path closed_at definition
    (``issue.py:203-210``). Returns (issue_key, closed_at_candidate)
    to left-join onto issues.

    The other half — only apply the candidate while the issue
    CURRENTLY sits in a closed status, and prefer resolved_at for
    resolved issues — needs the flattened issue row and lives in the
    caller (``etl._apply_closed_at_refinement``); joining these
    candidates without that gate would set closed_at on issues that
    were later reopened.
    """
    return (
        _status_transition_events(changelog, config)
        .selectExpr(
            "issue_key",
            f"{to_snake_case_sql('lower(fields[0].`to`)')} AS _to_status",
            f"{parse_tracker_datetime_sql('fields[1].`to`')} AS _end_ts",
        )
        .where(f"{sql_in('_to_status', config.closed_statuses)} AND _end_ts IS NOT NULL")
        .groupBy("issue_key")
        .agg(F.expr("max(_end_ts) AS closed_at_candidate"))
    )
