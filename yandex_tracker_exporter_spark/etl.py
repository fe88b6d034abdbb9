"""End-to-end issue ETL (SURVEY §3) — the reference's pipeline, Spark-first.

The reference loops issues one at a time (``etl.py:127-191``), hydrating
attributes over HTTP and accumulating Python dicts. Here the whole run is
three declarative DataFrames built from two inputs (raw issues + raw
changelog, schemas in ``schemas.py``):

- ``transform_issues``    — the wide ~30-column projection
  (``TrackerIssue._transform``, ``models/issue.py:74-107``) as one
  ``selectExpr`` of SQL text (P1-P5, P10-P11), plus the
  changelog-derived moved-event (P12) and closed_at refinement
  (``issue.py:203-210``) as two small left joins.
- ``transform_changelog`` — the event-log flattening
  (``_convert_and_save_changelog``, ``issue.py:126-160``): explode
  fields, P9-normalize the polymorphic values, drop corrupt rows (F8).
- ``status_metrics``      — per-(issue,status) cycle times (A1), in
  ``operators/sessionize.py``.

All three are built from SQL text, the kernels included, so a build
sends at most a couple of hundred py4j commands, not thousands.

``run_etl`` wires them with the incremental search spec (F1), watermark
state (S8/ST2/ST7) and versioned sinks (O1/O2) — the full reference
lifecycle (``etl.py:203-264``) as one idempotent batch. One aggregate
job over the filtered raw issues decides both short-circuits (F4 empty,
F5 up to date); the three tables are independent, so each one is built
and written in its own driver thread, all at the same time.

Extension surface (U1, ``examples/extended_model/main.py:8-31``): pass
``extra_columns={name: Column}`` — appended to the projection exactly
like a ``TrackerIssue`` subclass adds attributes.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.config import DEFAULT_CONFIG, EngineConfig
from yandex_tracker_exporter_spark.functions.changelog import extract_changelog_value_sql
from yandex_tracker_exporter_spark.functions.datetimes import (
    parse_tracker_datetime,
    parse_tracker_datetime_sql,
    sql_in,
    sql_string,
)
from yandex_tracker_exporter_spark.functions.text import string_normalize_sql, to_snake_case_sql
from yandex_tracker_exporter_spark.operators.sessionize import (
    closed_at_refinement,
    status_metrics,
)
from yandex_tracker_exporter_spark.operators.watermark import (
    compute_watermark,  # noqa: F401 — perfbench's traced run wraps etl.compute_watermark
    is_up_to_date,
)
from yandex_tracker_exporter_spark.plans.search_spec import SearchSpec, apply_search
from yandex_tracker_exporter_spark.schemas import DEDUP_KEYS
from yandex_tracker_exporter_spark.sources.sinks import write_versioned
from yandex_tracker_exporter_spark.sources.state import FileStateStore


def transform_issues(
    raw_issues: DataFrame,
    raw_changelog: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    extra_columns: dict[str, Column] | None = None,
) -> DataFrame:
    """RAW_ISSUE_SCHEMA → ISSUES_SCHEMA wide projection (minus version).

    Every per-row Python getattr walk in the reference becomes a struct
    field access; missing structs yield null automatically (P1). Names
    are lowercased on extract (P1's ``validate_resource`` low=True). A
    malformed ``start``/``end``/``deadline`` becomes NULL under either
    ANSI mode (``try_cast``). The projection is SQL text, one
    ``selectExpr``, like ``transform_changelog``.
    """
    resolution = to_snake_case_sql("lower(resolution.name)")
    status = to_snake_case_sql("lower(status.name)")
    is_resolved = f"({resolution}) IS NOT NULL"
    resolved_at = parse_tracker_datetime_sql("resolvedAt")
    empty = "CAST(array() AS array<string>)"
    flat = raw_issues.selectExpr(
        "queue.key AS queue",
        "key AS issue_key",
        f"{string_normalize_sql('summary')} AS title",
        f"{to_snake_case_sql('lower(type.name)')} AS issue_type",
        "lower(priority.name) AS priority",
        "lower(assignee.email) AS assignee",
        "lower(createdBy.email) AS author",
        f"{status} AS status",
        f"{resolution} AS resolution",
        f"coalesce(tags, {empty}) AS tags",
        f"coalesce(transform(components, _c -> _c.name), {empty}) AS components",
        f"{is_resolved} AS is_resolved",
        f"{sql_in(status, config.closed_statuses)} OR {is_resolved} AS is_closed",
        f"{parse_tracker_datetime_sql('createdAt')} AS created_at",
        f"{parse_tracker_datetime_sql('updatedAt')} AS updated_at",
        f"{resolved_at} AS resolved_at",
        f"CASE WHEN {is_resolved} THEN {resolved_at} END AS closed_at",
        "try_cast(`start` AS DATE) AS start_date",
        "try_cast(`end` AS DATE) AS end_date",
        "try_cast(deadline AS DATE) AS deadline",
        "CAST(coalesce(storyPoints, 0.0D) AS FLOAT) AS story_points",
        "parent.key AS parent_issue_key",
        "epic.key AS epic_issue_key",
        "parent.key IS NOT NULL AS is_subtask",
        "lower(qaEngineer.email) AS qa_engineer",
        f"coalesce(aliases, {empty}) AS aliases",
        "lower(project.name) AS project",
        f"coalesce(transform(sprint, _s -> _s.name), {empty}) AS sprints",
    )

    if raw_changelog is not None:
        flat = _apply_moved_events(flat, raw_changelog, config)
        flat = _apply_closed_at_refinement(flat, raw_changelog, config)
    else:
        flat = flat.selectExpr("*", "false AS was_moved", "CAST(NULL AS TIMESTAMP) AS moved_at",
                               "CAST(NULL AS STRING) AS moved_by")

    for name, col in (extra_columns or {}).items():
        flat = flat.withColumn(name, col)
    return flat


def _apply_moved_events(
    issues_flat: DataFrame, raw_changelog: DataFrame, config: EngineConfig
) -> DataFrame:
    """P12: last IssueMoved event per issue → was_moved/moved_by/moved_at.

    The reference overwrites the fields on every moved event in loop
    order (``issue.py:162-167``) — "last event wins" = max event time.
    Moves at the same instant go to the first actor by name, so a retried
    task or a different input order picks the same row.
    """
    moved = (
        raw_changelog.where(f"type = {sql_string(config.moved_event_type)}")
        .selectExpr(
            "issue_key",
            f"{parse_tracker_datetime_sql('updatedAt')} AS _moved_at",
            "lower(updatedBy.email) AS _moved_by",
        )
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY issue_key "
            "ORDER BY _moved_at DESC, _moved_by ASC NULLS LAST) AS _rn",
        )
        .where("_rn = 1")
    )
    return issues_flat.join(moved, "issue_key", "left").select(
        issues_flat["*"],
        F.expr("_moved_at IS NOT NULL AS was_moved"),
        F.col("_moved_at").alias("moved_at"),
        F.col("_moved_by").alias("moved_by"),
    )


def _apply_closed_at_refinement(
    issues_flat: DataFrame, raw_changelog: DataFrame, config: EngineConfig
) -> DataFrame:
    """closed_at two-path definition (``issue.py:203-210``): resolved →
    resolved_at (already set); else latest transition into a closed
    status, only while the issue's current status is closed."""
    candidates = closed_at_refinement(raw_changelog, config)
    refined = (
        "CASE WHEN is_resolved THEN closed_at "
        f"WHEN {sql_in('status', config.closed_statuses)} THEN closed_at_candidate END"
    )
    return (
        issues_flat.join(candidates, "issue_key", "left")
        .withColumn("closed_at", F.expr(refined))
        .drop("closed_at_candidate")
    )


def transform_changelog(
    raw_changelog: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """RAW_CHANGELOG_SCHEMA → ISSUES_CHANGELOG_SCHEMA (minus version).

    Explode each event's field changes to one row per (event, field) and
    P9-normalize the polymorphic values; F8 drops rows with no field
    name or both values empty (``issue.py:149-151``). Built from SQL
    text, so construction costs a few dozen py4j round trips whatever the
    size of the kernels.
    """
    exploded = raw_changelog.selectExpr(
        "issue_key",
        "queue",
        f"{parse_tracker_datetime_sql('updatedAt')} AS event_time",
        "type AS event_type",
        "transport",
        "coalesce(lower(updatedBy.email), updatedBy.name, '') AS actor",
        "explode(fields) AS change",
    )
    normalized = exploded.selectExpr(
        "issue_key",
        "queue",
        "event_time",
        "event_type",
        "transport",
        "actor",
        "change.field.name AS changed_field",
        f"{extract_changelog_value_sql('change.`from`')} AS changed_from",
        f"{extract_changelog_value_sql('change.`to`')} AS changed_to",
    )
    return normalized.where(
        "changed_field IS NOT NULL AND (changed_from != '' OR changed_to != '')"
    )


def _run_concurrently(spark: SparkSession, tasks: list) -> None:
    """Call each task from its own driver thread, so their plan builds
    and Spark jobs overlap. The threads inherit the caller's job group,
    description and pool. Waits for every task, then raises the first
    failure in list order."""
    errors: list[BaseException | None] = [None] * len(tasks)

    def run(i: int) -> None:
        try:
            tasks[i]()
        except BaseException as exc:  # re-raised on the caller's thread
            errors[i] = exc

    threads = [InheritableThread(run, args=(i,), session=spark) for i in range(len(tasks))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc


@dataclass
class EtlResult:
    issues: int
    changelog: int
    metrics: int
    watermark: dt.datetime | None
    skipped: bool = False


def run_etl(
    raw_issues: DataFrame,
    raw_changelog: DataFrame,
    output_dir: str,
    state: FileStateStore | None = None,
    state_key: str = "issues",
    search: SearchSpec | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    extra_columns: dict[str, Column] | None = None,
) -> EtlResult:
    """One full incremental run (reference ``YandexTrackerETL.run``).

    Order of operations preserves the reference's exactly-once-ish
    contract (ST7): filter on the parsed ``updatedAt`` → one check job
    (row count and candidate watermark; F4/F5) → build and write all
    three tables at the same time, each in its own thread → only then
    commit the watermark. If a build or a write fails, the error is
    raised after the other writes finish and the watermark is left as
    it was.
    """
    if search is None and state is not None:
        search = SearchSpec(watermark=state.get(state_key))
    if search is not None:
        raw_issues = apply_search(raw_issues, search, queue_col="queue.key",
                                  updated_col=parse_tracker_datetime_sql("updatedAt"))
        # changelog follows the filtered issue set; a semi join ignores
        # duplicate keys, so no distinct (and its shuffle) is needed
        keys = raw_issues.select(F.col("key").alias("issue_key"))
        raw_changelog = raw_changelog.join(F.broadcast(keys), "issue_key", "left_semi")

    # F4 and F5 from one aggregate over the filtered raw issues, with the
    # ``updated_at`` expression ``transform_issues`` projects: the same
    # max as over the joined frame, which would cost extra jobs
    n, candidate = raw_issues.agg(
        F.count(F.lit(1)), F.max(parse_tracker_datetime("updatedAt"))
    ).first()
    if n == 0:  # F4 short-circuit
        return EtlResult(0, 0, 0, None, skipped=True)
    stored = state.get(state_key) if state is not None else None
    if is_up_to_date(candidate, stored):  # F5 short-circuit
        return EtlResult(0, 0, 0, stored, skipped=True)

    tables = {
        "issues": ("updated_at",
                   partial(transform_issues, raw_issues, raw_changelog, config, extra_columns)),
        "issues_changelog": ("event_time", partial(transform_changelog, raw_changelog, config)),
        "issue_metrics": ("last_seen", partial(status_metrics, raw_changelog, raw_issues, config)),
    }
    # A3 run counters ride the write jobs as observed metrics — no extra
    # counting actions (the reference pays a python statement per row).
    obs = {table: Observation(f"etl_{table}") for table in tables}
    version = F.current_timestamp()

    def write(table: str) -> None:  # in the table's own thread, build included
        ts_col, transform = tables[table]
        df = transform().observe(obs[table], F.count(F.lit(1)).alias("n"))
        write_versioned(df.withColumn("version", version), f"{output_dir}/{table}",
                        DEDUP_KEYS[table], ts_col)

    _run_concurrently(raw_issues.sparkSession, [partial(write, table) for table in tables])
    if state is not None:  # ST7 commit-after-write; a None candidate took F5
        state.set(state_key, candidate)
        state.flush()
    return EtlResult(*(obs[table].get["n"] for table in tables), candidate)
