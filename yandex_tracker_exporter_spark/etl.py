"""End-to-end issue ETL (SURVEY §3) — the reference's pipeline, Spark-first.

The reference loops issues one at a time (``etl.py:127-191``), hydrating
attributes over HTTP and accumulating Python dicts. Here the whole run is
three declarative DataFrames built from two inputs (raw issues + raw
changelog, schemas in ``schemas.py``):

- ``transform_issues``    — the wide ~30-column projection
  (``TrackerIssue._transform``, ``models/issue.py:74-107``) as one
  ``select`` of column expressions (P1-P5, P10-P11), plus the
  changelog-derived moved-event (P12) and closed_at refinement
  (``issue.py:203-210``) as two small left joins.
- ``transform_changelog`` — the event-log flattening
  (``_convert_and_save_changelog``, ``issue.py:126-160``): explode
  fields, P9-normalize the polymorphic values, drop corrupt rows (F8).
- ``status_metrics``      — per-(issue,status) cycle times (A1), in
  ``operators/sessionize.py``.

``run_etl`` wires them with the incremental search spec (F1), watermark
state (S8/ST2/ST7) and versioned sinks (O1/O2) — the full reference
lifecycle (``etl.py:203-264``) as one idempotent batch. One aggregate
job over the filtered raw issues decides both short-circuits (F4 empty,
F5 up to date); the three table writes are independent, so they run at
the same time, one driver thread each.

Extension surface (U1, ``examples/extended_model/main.py:8-31``): pass
``extra_columns={name: Column}`` — appended to the projection exactly
like a ``TrackerIssue`` subclass adds attributes.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.config import DEFAULT_CONFIG, EngineConfig
from yandex_tracker_exporter_spark.functions.changelog import extract_changelog_value_sql
from yandex_tracker_exporter_spark.functions.datetimes import (
    parse_tracker_datetime,
    parse_tracker_datetime_sql,
)
from yandex_tracker_exporter_spark.functions.text import string_normalize, to_snake_case
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


def _low(c: Column) -> Column:
    """P1's lowercase-on-extract semantic (``validate_resource`` low=True)."""
    return F.lower(c)


def transform_issues(
    raw_issues: DataFrame,
    raw_changelog: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    extra_columns: dict[str, Column] | None = None,
) -> DataFrame:
    """RAW_ISSUE_SCHEMA → ISSUES_SCHEMA wide projection (minus version).

    Every per-row Python getattr walk in the reference becomes a struct
    field access; missing structs yield null automatically (P1). A
    malformed ``start``/``end``/``deadline`` becomes NULL under either
    ANSI mode (``try_cast``).
    """
    resolution = to_snake_case(_low(F.col("resolution.name")))
    status = to_snake_case(_low(F.col("status.name")))
    is_resolved = resolution.isNotNull()
    is_closed = status.isin(*config.closed_statuses) | is_resolved
    resolved_at = parse_tracker_datetime("resolvedAt")

    flat = raw_issues.select(
        F.col("queue.key").alias("queue"),
        F.col("key").alias("issue_key"),
        string_normalize(F.col("summary")).alias("title"),
        to_snake_case(_low(F.col("type.name"))).alias("issue_type"),
        _low(F.col("priority.name")).alias("priority"),
        _low(F.col("assignee.email")).alias("assignee"),
        _low(F.col("createdBy.email")).alias("author"),
        status.alias("status"),
        resolution.alias("resolution"),
        F.coalesce(F.col("tags"), F.array().cast("array<string>")).alias("tags"),
        F.coalesce(
            F.transform(F.col("components"), lambda c: c["name"]),
            F.array().cast("array<string>"),
        ).alias("components"),
        is_resolved.alias("is_resolved"),
        is_closed.alias("is_closed"),
        parse_tracker_datetime("createdAt").alias("created_at"),
        parse_tracker_datetime("updatedAt").alias("updated_at"),
        resolved_at.alias("resolved_at"),
        F.when(is_resolved, resolved_at).alias("closed_at"),
        F.col("start").try_cast("date").alias("start_date"),
        F.col("end").try_cast("date").alias("end_date"),
        F.col("deadline").try_cast("date").alias("deadline"),
        F.coalesce(F.col("storyPoints"), F.lit(0.0)).cast("float").alias("story_points"),
        F.col("parent.key").alias("parent_issue_key"),
        F.col("epic.key").alias("epic_issue_key"),
        F.col("parent.key").isNotNull().alias("is_subtask"),
        _low(F.col("qaEngineer.email")).alias("qa_engineer"),
        F.coalesce(F.col("aliases"), F.array().cast("array<string>")).alias("aliases"),
        _low(F.col("project.name")).alias("project"),
        F.coalesce(
            F.transform(F.col("sprint"), lambda s: s["name"]),
            F.array().cast("array<string>"),
        ).alias("sprints"),
    )

    if raw_changelog is not None:
        flat = _apply_moved_events(flat, raw_changelog, config)
        flat = _apply_closed_at_refinement(flat, raw_changelog, config)
    else:
        flat = (
            flat.withColumn("was_moved", F.lit(False))
            .withColumn("moved_at", F.lit(None).cast("timestamp"))
            .withColumn("moved_by", F.lit(None).cast("string"))
        )

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
        raw_changelog.where(F.col("type") == config.moved_event_type)
        .select(
            "issue_key",
            parse_tracker_datetime("updatedAt").alias("_moved_at"),
            _low(F.col("updatedBy.email")).alias("_moved_by"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("issue_key").orderBy(
                    F.col("_moved_at").desc(), F.col("_moved_by").asc_nulls_last()
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return issues_flat.join(moved, "issue_key", "left").select(
        issues_flat["*"],
        F.col("_moved_at").isNotNull().alias("was_moved"),
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
    joined = issues_flat.join(candidates, "issue_key", "left")
    refined = F.when(F.col("is_resolved"), F.col("closed_at")).otherwise(
        F.when(
            F.col("status").isin(*config.closed_statuses),
            F.col("closed_at_candidate"),
        )
    )
    return joined.withColumn("closed_at", refined).drop("closed_at_candidate")


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


def _write_concurrently(spark: SparkSession, writes: list[tuple]) -> None:
    """``write_versioned(*args)`` for each entry, each from its own
    driver thread so Spark schedules the jobs at the same time. The
    threads inherit the caller's job group, description and pool. Waits
    for every write, then raises the first failure in list order."""
    errors: list[BaseException | None] = [None] * len(writes)

    def write(i: int) -> None:
        try:
            write_versioned(*writes[i])
        except BaseException as exc:  # re-raised on the caller's thread
            errors[i] = exc

    threads = [InheritableThread(write, args=(i,), session=spark) for i in range(len(writes))]
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
    contract (ST7): filter → one check job (row count and candidate
    watermark; F4/F5) → transform → write all three tables at the same
    time → only then commit the watermark. If a write fails, the error
    is raised after the other writes finish and the watermark is left
    as it was.
    """
    if search is None and state is not None:
        search = SearchSpec(watermark=state.get(state_key))
    if search is not None:
        raw_issues = apply_search(
            raw_issues, search, queue_col="queue.key", updated_col="updatedAt"
        )
        # changelog follows the filtered issue set
        keys = raw_issues.select(F.col("key").alias("issue_key")).distinct()
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

    tables = (
        ("issues", "issues", "updated_at",
         transform_issues(raw_issues, raw_changelog, config, extra_columns)),
        ("changelog", "issues_changelog", "event_time", transform_changelog(raw_changelog, config)),
        ("metrics", "issue_metrics", "last_seen", status_metrics(raw_changelog, raw_issues, config)),
    )
    # A3 run counters ride the write jobs as observed metrics — no extra
    # counting actions (the reference pays a python statement per row).
    obs = {name: Observation(f"etl_{name}") for name, *_ in tables}
    version = F.current_timestamp()
    _write_concurrently(
        raw_issues.sparkSession,
        [
            (
                df.observe(obs[name], F.count(F.lit(1)).alias("n")).withColumn("version", version),
                f"{output_dir}/{table}",
                DEDUP_KEYS[table],
                ts_col,
            )
            for name, table, ts_col, df in tables
        ],
    )
    if state is not None:  # ST7 commit-after-write; a None candidate took F5
        state.set(state_key, candidate)
        state.flush()
    return EtlResult(
        obs["issues"].get["n"],
        obs["changelog"].get["n"],
        obs["metrics"].get["n"],
        candidate,
    )
