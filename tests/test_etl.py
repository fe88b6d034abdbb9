"""End-to-end issue pipeline tests (the reference's stubbed
``tests/test_etl.py`` bodies, actually implemented)."""

import datetime as dt

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.etl import (
    EtlResult,
    run_etl,
    transform_changelog,
    transform_issues,
)
from yandex_tracker_exporter_spark.operators.dedup import latest_version_dedup
from yandex_tracker_exporter_spark.operators.sessionize import status_metrics
from yandex_tracker_exporter_spark.plans.search_spec import SearchSpec
from yandex_tracker_exporter_spark.schemas import (
    DEDUP_KEYS,
    RAW_CHANGELOG_SCHEMA,
    RAW_ISSUE_SCHEMA,
)
from yandex_tracker_exporter_spark.sources.sinks import read_latest
from yandex_tracker_exporter_spark.sources.state import FileStateStore


def test_transform_issues_wide_projection(spark, raw_issues, raw_changelog):
    flat = transform_issues(raw_issues, raw_changelog)
    rows = {r["issue_key"]: r for r in flat.collect()}

    t1 = rows["TEST-1"]
    assert t1["queue"] == "TEST"
    assert t1["title"] == "Implement the thing "  # emoji stripped
    assert t1["issue_type"] == "task"
    assert t1["priority"] == "critical"
    assert t1["assignee"] == "dev@example.com"  # lowered (P1)
    assert t1["status"] == "closed"
    assert t1["resolution"] is None
    assert t1["is_resolved"] is False
    assert t1["is_closed"] is True  # closed status without resolution
    assert t1["components"] == ["api", "db"]
    assert t1["sprints"] == ["Sprint 1"]
    assert t1["story_points"] == 5.0
    assert t1["is_subtask"] is False
    assert t1["epic_issue_key"] == "EPIC-1"
    # closed_at refinement: unresolved but closed → latest transition
    # into a closed status (17:00)
    assert t1["closed_at"] == dt.datetime(2023, 5, 1, 17, 0)

    t2 = rows["TEST-2"]
    # NB: the reference lowercases before snake_casing
    # (validate_resource low=True, issue.py:81) so camelCase type names
    # collapse: "subTask" → "subtask"
    assert t2["issue_type"] == "subtask"
    assert t2["status"] == "in_progress"
    assert t2["resolution"] == "fixed"
    assert t2["is_resolved"] is True
    assert t2["is_closed"] is True  # resolved implies closed
    assert t2["closed_at"] == t2["resolved_at"]
    assert t2["is_subtask"] is True
    assert t2["tags"] == []
    assert t2["story_points"] == 0.0  # null → 0 (issue.py:98)
    assert t2["assignee"] is None

    d1 = rows["DEV-1"]
    assert d1["was_moved"] is True
    assert d1["moved_by"] == "mover@example.com"
    assert d1["moved_at"] == dt.datetime(2023, 5, 3, 9, 30)
    assert d1["closed_at"] is None  # open status → no closed_at
    assert t1["was_moved"] is False


def test_transform_issues_extension_surface(spark, raw_issues):
    # U1: user-supplied extra columns (extended_model example parity)
    flat = transform_issues(
        raw_issues, extra_columns={"queue_lower": F.lower(F.col("queue"))}
    )
    row = flat.where(F.col("issue_key") == "TEST-1").first()
    assert row["queue_lower"] == "test"


def test_transform_changelog_flatten(spark, raw_changelog):
    log = transform_changelog(raw_changelog)
    rows = log.collect()
    # each workflow event explodes to 2 rows (status pair + datetime pair);
    # the corrupted event keeps its status row; moved/commented events
    # with no fields disappear.
    by_field = {}
    for r in rows:
        by_field.setdefault(r["changed_field"], []).append(r)
    assert "Status" in by_field
    status_rows = [r for r in by_field["Status"] if r["issue_key"] == "TEST-1"]
    assert {(r["changed_from"], r["changed_to"]) for r in status_rows} >= {
        ("Open", "In progress"),
        ("In progress", "Testing"),
    }
    # datetime pair values are reformatted ISO (P9 datetime branch)
    start_rows = by_field.get("Status start", [])
    assert any(r["changed_to"] == "2023-05-01T10:00:00.000" for r in start_rows)
    # actor fallback chain: email lowered
    assert all(r["actor"] == "actor@example.com" for r in status_rows)


def _construction_commands(spark, build) -> int:
    """py4j commands one warm ``build()`` sends (the first call resolves
    JVM classes)."""
    build()
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return len(sent)


def test_transform_changelog_construction_py4j_ceiling(spark, raw_changelog):
    """Building ``transform_changelog`` sends a fixed number of py4j
    commands: its kernels are SQL text, one ``F.expr`` each. The
    Column-API kernels sent ~2,500 (~1,200 per changelog value)."""
    sent = _construction_commands(spark, lambda: transform_changelog(raw_changelog))
    assert 0 < sent <= 60, sent


def test_transform_issues_construction_py4j_ceiling(spark, raw_issues, raw_changelog):
    """``transform_issues`` is built from SQL text, its ~30-column
    projection in one ``selectExpr``: 160 py4j commands on the fixtures,
    2,282 when its kernels and projection were Column-API chains."""
    sent = _construction_commands(spark, lambda: transform_issues(raw_issues, raw_changelog))
    assert 0 < sent <= 200, sent


def test_status_metrics_construction_py4j_ceiling(spark, raw_issues, raw_changelog):
    """``status_metrics`` is built from SQL text, its ``status_name`` and
    ``human_readable_*`` kernels included: 102 py4j commands on the
    fixtures, 2,885 when they were Column-API chains."""
    sent = _construction_commands(spark, lambda: status_metrics(raw_changelog, raw_issues))
    assert 0 < sent <= 130, sent


def test_moved_event_ties_pick_the_same_row(spark, raw_issues):
    """Two IssueMoved events at the same instant: the pick must not
    depend on input order or partitioning (a retried task may see
    either), so moved_by is the first actor by name."""
    from yandex_tracker_exporter_spark.schemas import RAW_CHANGELOG_SCHEMA

    def moved(ts, email):
        return {
            "issue_key": "DEV-1",
            "queue": "DEV",
            "updatedAt": ts,
            "type": "IssueMoved",
            "transport": "front",
            "updatedBy": None if email is None else {"email": email, "name": "M"},
            "fields": [],
        }

    late = "2023-05-04T09:30:00.000000+0000"
    events = [
        moved("2023-05-03T09:30:00.000000+0000", "Early@example.com"),
        moved(late, "Zed@example.com"),
        moved(late, None),
        moved(late, "Amy@example.com"),
        moved(late, "Mia@example.com"),
    ]
    issues = raw_issues.where(F.col("key") == "DEV-1")
    picks = set()
    for rows in (events, events[::-1]):
        for n in (1, 8):
            changelog = spark.createDataFrame(rows, RAW_CHANGELOG_SCHEMA).repartition(n)
            row = transform_issues(issues, changelog).collect()[0]
            picks.add((row["was_moved"], row["moved_at"], row["moved_by"]))
    assert picks == {(True, dt.datetime(2023, 5, 4, 9, 30), "amy@example.com")}


def test_run_etl_incremental_upsert(spark, raw_issues, raw_changelog, tmp_path):
    out = str(tmp_path / "warehouse")
    state = FileStateStore(str(tmp_path / "state.json"))

    # first run: no stored watermark yet → explicit backfill spec (the
    # fixture timestamps are in 2023, outside the default 1w backfill)
    result = run_etl(
        raw_issues,
        raw_changelog,
        out,
        state=state,
        search=SearchSpec(watermark=dt.datetime(2023, 1, 1)),
    )
    assert not result.skipped
    assert result.issues == 3
    assert result.metrics == 4
    assert result.watermark is not None

    issues = read_latest(spark, f"{out}/issues", DEDUP_KEYS["issues"])
    assert issues.count() == 3

    # second run: watermark is committed → up-to-date short-circuit (F5)
    again = run_etl(raw_issues, raw_changelog, out, state=state)
    assert again.skipped

    # state survives a new store instance (the JSON contract, S8)
    fresh = FileStateStore(str(tmp_path / "state.json"))
    assert fresh.get("issues") == result.watermark


BACKFILL = SearchSpec(watermark=dt.datetime(2023, 1, 1))  # before every fixture
TABLES = ("issues", "issues_changelog", "issue_metrics")


def _final_views(spark, out):
    """Each table's FINAL view minus ``version`` as sorted rows of
    strings (Python datetimes cannot hold year 0)."""
    views = {}
    for table in TABLES:
        view = read_latest(spark, f"{out}/{table}", DEDUP_KEYS[table]).drop("version")
        rows = view.select([F.col(c).cast("string") for c in view.columns]).collect()
        views[table] = sorted(repr(tuple(r)) for r in rows)
    return views


def test_run_etl_failed_write_waits_for_the_others_and_keeps_watermark(
    spark, raw_issues, raw_changelog, tmp_path
):
    """ST7 with the three writes running at the same time: when one
    fails, run_etl raises its error only after the other two finished,
    and the stored watermark does not move. With the blocker gone, a
    rerun gives the same FINAL views as a clean run."""
    out = tmp_path / "wh"
    out.mkdir()
    blocker = out / "issue_metrics"
    blocker.write_text("a regular file where the table directory goes")
    state_path = str(tmp_path / "state.json")
    stored = dt.datetime(2023, 1, 1)
    state = FileStateStore(state_path)
    state.set("issues", stored)
    state.flush()

    with pytest.raises(Exception, match="issue_metrics"):
        run_etl(raw_issues, raw_changelog, str(out), state=state)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    for table in ("issues", "issues_changelog"):
        assert (out / table / "_SUCCESS").exists(), table
    assert FileStateStore(state_path).get("issues") == stored

    blocker.unlink()
    rerun = run_etl(raw_issues, raw_changelog, str(out), state=FileStateStore(state_path))
    clean = run_etl(raw_issues, raw_changelog, str(tmp_path / "clean"), search=BACKFILL)
    assert rerun == clean
    assert FileStateStore(state_path).get("issues") == clean.watermark
    assert _final_views(spark, out) == _final_views(spark, tmp_path / "clean")


def test_run_etl_failed_build_waits_for_the_others_and_keeps_watermark(
    spark, raw_issues, raw_changelog, tmp_path
):
    """Each table's plan is built in its writer thread. When the issues
    build fails analysis, run_etl raises that error only after the
    changelog and metrics writes finished, and the stored watermark does
    not move."""
    out = tmp_path / "wh"
    state_path = str(tmp_path / "state.json")
    stored = dt.datetime(2023, 1, 1)
    state = FileStateStore(state_path)
    state.set("issues", stored)
    state.flush()

    with pytest.raises(AnalysisException, match="missing"):
        run_etl(
            raw_issues, raw_changelog, str(out), state=state,
            extra_columns={"x": F.col("missing")},
        )
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    for table in ("issues_changelog", "issue_metrics"):
        assert (out / table / "_SUCCESS").exists(), table
    assert not (out / "issues").exists()
    assert FileStateStore(state_path).get("issues") == stored


def test_run_etl_skips_empty_up_to_date_and_unparseable_batches(
    spark, raw_issues, raw_changelog, tmp_path
):
    """F4 and F5 from the one check job. An empty filtered batch skips
    with watermark None; an up-to-date batch returns the stored
    watermark; a non-empty batch whose updatedAt never parses has no
    candidate watermark, so it takes the F5 path. None writes a table."""
    out = tmp_path / "wh"
    future = SearchSpec(watermark=dt.datetime(2030, 1, 1))
    assert run_etl(raw_issues, raw_changelog, str(out), search=future) == EtlResult(
        0, 0, 0, None, skipped=True
    )

    state = FileStateStore(str(tmp_path / "state.json"))
    stored = dt.datetime(2023, 5, 12, 9, 0)  # the latest fixture updatedAt
    state.set("issues", stored)
    got = run_etl(raw_issues, raw_changelog, str(out), state=state, search=BACKFILL)
    assert got == EtlResult(0, 0, 0, stored, skipped=True)

    # a raw predicate replaces the updatedAt filter, so the rows survive it
    garbled = raw_issues.withColumn("updatedAt", F.lit("not a date"))
    every = SearchSpec(raw_predicate=F.lit(True))
    assert run_etl(garbled, raw_changelog, str(out)) == EtlResult(0, 0, 0, None, skipped=True)
    got = run_etl(garbled, raw_changelog, str(out), state=state, search=every)
    assert got == EtlResult(0, 0, 0, stored, skipped=True)
    assert not out.exists()


#: jobs one run_etl over the fixtures launches: 19 before the empty and
#: up-to-date checks became one aggregate, 18 before the semi-join keys
#: lost their distinct (one shuffle job per write plan)
RUN_JOBS = 15


def test_run_etl_jobs_carry_the_callers_job_group(spark, raw_issues, raw_changelog, tmp_path):
    """The write threads inherit the caller's job group: every job the
    run launches is in it, and the run needs fewer jobs than before."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def fence(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return tracker.getJobIdsForGroup(group)

    first = max(fence("etl-fence-before"))
    sc.setJobGroup("etl-run", "run_etl under a caller's job group")
    try:
        run_etl(raw_issues, raw_changelog, str(tmp_path / "wh"), search=BACKFILL)
        last = min(fence("etl-fence-after"))
    finally:
        sc._jsc.clearJobGroup()
    jobs = sorted(tracker.getJobIdsForGroup("etl-run"))
    assert jobs == list(range(first + 1, last))
    assert len(jobs) <= RUN_JOBS, len(jobs)


ANSI = "spark.sql.ansi.enabled"
#: Raw values that parse in neither mode or sit at the edges of the
#: calendar, for the ANSI-identity run.
EDGE_ISSUES = [
    {
        "key": "EDGE-1",
        "queue": {"key": "EDGE"},
        "status": {"name": "Closed"},
        "createdAt": "garbage",
        "updatedAt": "not a date",
        "resolvedAt": "2023-99-99T00:00:00.000000+0000",
        "start": "2023-05-01T10:00:00.000+0000",
        "storyPoints": float("nan"),
    },
    {
        "key": "EDGE-2",
        "queue": {"key": "EDGE"},
        "status": {"name": "Open"},
        "createdAt": "0000-01-01T00:00:00.000000+0000",
        "updatedAt": "9999-12-31T23:59:59.999999+0000",
        "storyPoints": float("inf"),
    },
]


def _edge_event(updated_at, start, end, value="Open"):
    return {
        "issue_key": "EDGE-2",
        "queue": "EDGE",
        "updatedAt": updated_at,
        "type": "IssueWorkflow",
        "transport": "api",
        "updatedBy": {"email": "Edge@Example.com", "name": "Edge"},
        "fields": [
            {"field": {"id": "status", "name": "Status"}, "from": value, "to": "In progress"},
            {"field": {"id": "statusStartTime", "name": "Status start"}, "from": start, "to": end},
        ],
    }


EDGE_EVENTS = [
    _edge_event("garbage", None, "garbage"),
    _edge_event("2023-05-02T10:00:00.000000+0000", "2023-99-99T00:00:00.000+0000", "garbage"),
    _edge_event(
        "2023-05-03T10:00:00.000000+0000",
        "0001-01-01T00:00:00.000000+0000",
        "9999-12-31T23:59:59.000000+0000",
        value="12345678901234567890123",
    ),
]


def test_run_etl_final_views_do_not_depend_on_ansi_mode(
    spark, raw_issues, raw_changelog, tmp_path
):
    """ROADMAP 5(b): run_etl end to end with ANSI off and on gives the
    same counts, watermark and FINAL views on the fixture corpus plus
    rows with unparseable, far-past and far-future datetimes, NaN and
    infinite story points and a 23-digit changelog value. No search
    spec, so no updatedAt filter runs (its difference is pinned below)."""
    before = spark.conf.get(ANSI)
    results, views = {}, {}
    try:
        for mode in ("false", "true"):
            spark.conf.set(ANSI, mode)
            issues = raw_issues.unionByName(spark.createDataFrame(EDGE_ISSUES, RAW_ISSUE_SCHEMA))
            changelog = raw_changelog.unionByName(
                spark.createDataFrame(EDGE_EVENTS, RAW_CHANGELOG_SCHEMA)
            )
            out = tmp_path / f"ansi_{mode}"
            results[mode] = run_etl(issues, changelog, str(out))
            views[mode] = _final_views(spark, out)
    finally:
        spark.conf.set(ANSI, before)
    assert results["false"] == results["true"]
    assert results["true"].issues == 5
    assert views["false"] == views["true"]


def test_ansi_mode_changes_malformed_dates_and_the_updated_filter(
    spark, raw_issues, raw_changelog, tmp_path
):
    """How ANSI mode treats a malformed raw value in run_etl (recorded
    under ROADMAP 7(b)): it no longer does. A malformed
    ``start``/``end``/``deadline`` becomes NULL under both modes
    (``try_cast``). The watermark search filter compares the parsed
    ``updatedAt``, so an unparseable one drops the issue under both
    modes; it used to cast the raw string, which raised
    CAST_INVALID_INPUT with ANSI on."""
    bad = (
        raw_issues.where(F.col("key") == "TEST-1")
        .withColumn("start", F.lit("2024-13-45"))
        .withColumn("end", F.lit("later"))
        .withColumn("deadline", F.lit("soon"))
        .withColumn("updatedAt", F.lit("garbage"))
    )
    dates = ("start_date", "end_date", "deadline")
    before = spark.conf.get(ANSI)
    try:
        for mode in ("false", "true"):
            spark.conf.set(ANSI, mode)
            got = [tuple(r[c] for c in dates) for r in transform_issues(bad).collect()]
            assert got == [(None, None, None)], mode
            got = run_etl(bad, raw_changelog, str(tmp_path / mode), search=BACKFILL)
            assert got == EtlResult(0, 0, 0, None, skipped=True), mode
    finally:
        spark.conf.set(ANSI, before)


def test_latest_version_dedup(spark):
    rows = [
        ("A", 1, "old"),
        ("A", 2, "new"),
        ("B", 1, "only"),
    ]
    df = spark.createDataFrame(rows, "issue_key string, version long, payload string")
    got = {
        r["issue_key"]: r["payload"]
        for r in latest_version_dedup(df, ["issue_key"]).collect()
    }
    assert got == {"A": "new", "B": "only"}


def test_latest_version_dedup_tiebreak_is_slim_and_deterministic(spark):
    """Version ties resolve via ONE cheap sort key (md5 of the row JSON
    by default, or a caller-named ingest id) — not every payload column."""
    import re

    from pyspark.sql import functions as F

    rows = [("A", 1, "x", 10), ("A", 1, "y", 20), ("B", 1, "z", 30)]
    schema = "issue_key string, version long, payload string, ingest_id long"
    df = spark.createDataFrame(rows, schema)

    # default tiebreak: md5(to_json(row)) — deterministic across runs
    first = latest_version_dedup(df, ["issue_key"]).collect()
    second = latest_version_dedup(df, ["issue_key"]).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    winner = {r.issue_key: r.payload for r in first}
    expected = max(
        ("x", "y"),
        key=lambda p: spark.sql(
            f"SELECT md5(to_json(struct('A' AS issue_key, 1L AS version, "
            f"'{p}' AS payload, {10 if p == 'x' else 20}L AS ingest_id)))"
        ).collect()[0][0],
    )
    assert winner["A"] == expected

    # explicit tiebreak column wins ties by that column
    got = {
        r.issue_key: r.ingest_id
        for r in latest_version_dedup(
            df, ["issue_key"], tiebreak_col="ingest_id"
        ).collect()
    }
    assert got == {"A": 20, "B": 30}

    # the window sort carries exactly two sort keys (version + tiebreak)
    plan = (
        latest_version_dedup(df, ["issue_key"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    spec = re.search(r"windowspecdefinition\((.*?)\)", plan)
    assert spec is not None
    assert spec.group(1).count("DESC") == 2, spec.group(1)


def test_search_spec_incremental_filter(spark, raw_issues, raw_changelog, tmp_path):
    # queue filter + watermark: only DEV issues updated after 2023-05-11
    spec = SearchSpec(
        queues="DEV,!TEST",
        watermark=dt.datetime(2023, 5, 11, 0, 0, 0),
    )
    out = str(tmp_path / "warehouse2")
    result = run_etl(raw_issues, raw_changelog, out, search=spec)
    assert result.issues == 1  # only DEV-1


def test_compact_rewrites_to_latest(spark, tmp_path):
    from yandex_tracker_exporter_spark.sources.sinks import compact

    path = str(tmp_path / "versioned")
    spark.createDataFrame(
        [("A", 1, "old"), ("B", 1, "b1")], "issue_key string, version long, p string"
    ).write.parquet(path)
    spark.createDataFrame(
        [("A", 2, "new")], "issue_key string, version long, p string"
    ).write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 3

    compact(spark, path, ["issue_key"])
    rows = {r["issue_key"]: r["p"] for r in spark.read.parquet(path).collect()}
    assert rows == {"A": "new", "B": "b1"}  # OPTIMIZE FINAL semantics


def test_compact_partition_scoped(spark, tmp_path):
    """months=[...] compacts only the named _month partitions (OPTIMIZE
    PARTITION semantics): the targeted month collapses to latest-per-key,
    untouched months keep their duplicate versions on disk, and
    read_latest stays correct across months either way."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.sources.sinks import (
        compact,
        read_latest,
        write_versioned,
    )

    path = str(tmp_path / "monthly")
    rows = [
        # key A: two versions in Jan (dup within partition) + one in Feb
        ("A", 1, dt.datetime(2024, 1, 10), "jan-old"),
        ("A", 2, dt.datetime(2024, 1, 20), "jan-new"),
        ("A", 3, dt.datetime(2024, 2, 5), "feb"),
        # key B: two versions in Feb
        ("B", 1, dt.datetime(2024, 2, 1), "feb-old"),
        ("B", 2, dt.datetime(2024, 2, 2), "feb-new"),
    ]
    df = spark.createDataFrame(
        rows, "issue_key string, version long, updated_at timestamp, p string"
    )
    write_versioned(df, path, ["issue_key"], partition_ts_col="updated_at")

    compact(spark, path, ["issue_key"], months=["202402"])

    feb = spark.read.parquet(f"{path}/_month=202402")
    assert sorted((r.issue_key, r.p) for r in feb.collect()) == [
        ("A", "feb"), ("B", "feb-new")
    ]
    jan = spark.read.parquet(f"{path}/_month=202401")
    assert jan.count() == 2  # untouched month keeps both versions
    # staging lives OUTSIDE the table root (an in-root dir with '=' in its
    # name would be discovered as a bogus partition) and is cleaned up
    assert all("__compact" not in e for e in os.listdir(path))
    assert [e for e in os.listdir(path) if "=" in e] == sorted(
        ["_month=202401", "_month=202402"]
    )
    assert not os.path.exists(path + ".__compact_staging__")

    # FINAL view is still latest-per-key ACROSS months
    latest = {r.issue_key: r.p for r in read_latest(spark, path, ["issue_key"]).collect()}
    assert latest == {"A": "feb", "B": "feb-new"}


def test_compact_swap_protocol_is_durable(spark, tmp_path):
    """compact() must never overwrite the directory it reads: it writes
    a temp sibling, swaps, and cleans up — including a stale old-copy
    left by a crashed previous run."""
    import os

    from yandex_tracker_exporter_spark.sources.sinks import compact

    path = str(tmp_path / "versioned")
    spark.createDataFrame(
        [("A", 1, "old"), ("A", 2, "new")],
        "issue_key string, version long, p string",
    ).write.parquet(path)

    # stale leftover from a crashed earlier compaction
    stale = path + ".__compact_old__"
    os.makedirs(stale)
    with open(os.path.join(stale, "junk"), "w") as fh:
        fh.write("stale")

    compact(spark, path, ["issue_key"])

    rows = {r["issue_key"]: r["p"] for r in spark.read.parquet(path).collect()}
    assert rows == {"A": "new"}
    # swap artifacts are gone: live dir only
    assert not os.path.exists(path + ".__compact_tmp__")
    assert not os.path.exists(path + ".__compact_old__")


def test_partition_compact_crash_is_invisible_to_readers_and_recovers(
    spark, tmp_path
):
    """The two partition-compaction crash windows:

    1. crash AFTER the staged tmp write — a full-table read must NOT
       ingest the staged copy as a bogus partition (the round-2 layout
       put ``_month=202402.__compact_tmp__`` inside the table root,
       which partition discovery parses as a real ``_month`` value);
    2. crash BETWEEN rename-aside and rename-into-place — the next
       compact() run must restore the partition from the old copy.
    """
    import datetime as dt
    import os
    import shutil

    from yandex_tracker_exporter_spark.sources.sinks import (
        compact,
        write_versioned,
    )

    path = str(tmp_path / "monthly")
    rows = [
        ("A", 1, dt.datetime(2024, 1, 10), "jan"),
        ("B", 1, dt.datetime(2024, 2, 1), "feb-old"),
        ("B", 2, dt.datetime(2024, 2, 2), "feb-new"),
    ]
    df = spark.createDataFrame(
        rows, "issue_key string, version long, updated_at timestamp, p string"
    )
    write_versioned(df, path, ["issue_key"], partition_ts_col="updated_at")
    staging = path + ".__compact_staging__"
    live = f"{path}/_month=202402"

    # window 1: staged tmp exists (crash before any rename) — readers of
    # the table root see exactly the live rows, not a duplicate month
    os.makedirs(staging, exist_ok=True)
    shutil.copytree(live, f"{staging}/202402.tmp")
    assert spark.read.parquet(path).count() == 3
    # and the next run discards the stale tmp, then compacts normally
    compact(spark, path, ["issue_key"], months=["202402"])
    assert sorted(
        (r.issue_key, r.p) for r in spark.read.parquet(live).collect()
    ) == [("B", "feb-new")]

    # window 2: live partition renamed aside, then crash — next compact
    # restores from the old copy before rewriting
    os.makedirs(staging, exist_ok=True)
    shutil.move(live, f"{staging}/202402.old")
    assert not os.path.exists(live)
    compact(spark, path, ["issue_key"], months=["202402"])
    assert {r.issue_key for r in spark.read.parquet(live).collect()} == {"B"}
    assert not os.path.exists(staging)


def test_merge_upsert_equals_append_plus_compact(spark, tmp_path):
    """merge_upsert == write_versioned(append) + compact(touched months),
    by definition — and it must not read or rewrite untouched months."""
    import datetime as dt

    from yandex_tracker_exporter_spark.sources.sinks import (
        compact,
        merge_upsert,
        read_latest,
        write_versioned,
    )

    schema = "issue_key string, version long, updated_at timestamp, p string"
    seed = [
        ("A", 1, dt.datetime(2024, 1, 10), "jan-a1"),
        ("B", 1, dt.datetime(2024, 1, 15), "jan-b1"),
        ("C", 1, dt.datetime(2024, 2, 3), "feb-c1"),
    ]
    updates = [
        ("B", 2, dt.datetime(2024, 2, 20), "feb-b2"),   # key moves month
        ("C", 2, dt.datetime(2024, 2, 21), "feb-c2"),   # in-month update
        ("D", 1, dt.datetime(2024, 3, 2), "mar-d1"),    # brand-new month
        ("C", 0, dt.datetime(2024, 2, 1), "feb-c0"),    # stale version loses
    ]
    seed_df = spark.createDataFrame(seed, schema)
    upd_df = spark.createDataFrame(updates, schema)

    merged_path = str(tmp_path / "merged")
    baseline_path = str(tmp_path / "baseline")
    for p in (merged_path, baseline_path):
        write_versioned(seed_df, p, ["issue_key"], partition_ts_col="updated_at")

    import os

    jan_dir = f"{merged_path}/_month=202401"
    jan_before = {
        f: os.path.getmtime(os.path.join(jan_dir, f)) for f in os.listdir(jan_dir)
    }

    touched = merge_upsert(
        spark, merged_path, upd_df, ["issue_key"], partition_ts_col="updated_at"
    )
    assert touched == ["202402", "202403"]

    # baseline: the append + partition-compact route
    write_versioned(upd_df, baseline_path, ["issue_key"], partition_ts_col="updated_at")
    compact(spark, baseline_path, ["issue_key"], months=touched)

    got = sorted(
        (r.issue_key, r.version, r.p)
        for r in read_latest(spark, merged_path, ["issue_key"]).collect()
    )
    expected = sorted(
        (r.issue_key, r.version, r.p)
        for r in read_latest(spark, baseline_path, ["issue_key"]).collect()
    )
    assert got == expected
    assert [k for k, _, _ in got] == ["A", "B", "C", "D"]
    assert ("C", 2, "feb-c2") in got  # stale v0 lost, v2 won

    # untouched month physically untouched (same files, same mtimes)
    jan_after = {
        f: os.path.getmtime(os.path.join(jan_dir, f)) for f in os.listdir(jan_dir)
    }
    assert jan_after == jan_before
    # no staging leftovers, no bogus partitions
    assert not os.path.exists(merged_path + ".__compact_staging__")
    assert sorted(e for e in os.listdir(merged_path) if "=" in e) == [
        "_month=202401", "_month=202402", "_month=202403",
    ]


def test_merge_upsert_unpartitioned_and_fresh_table(spark, tmp_path):
    from yandex_tracker_exporter_spark.sources.sinks import merge_upsert, read_latest

    schema = "issue_key string, version long, p string"
    path = str(tmp_path / "flat")
    # fresh table: merge into nothing == plain write
    merge_upsert(
        spark, path, spark.createDataFrame([("A", 1, "a1")], schema), ["issue_key"]
    )
    assert spark.read.parquet(path).count() == 1
    # second merge collapses to latest-per-key in place
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([("A", 2, "a2"), ("B", 1, "b1")], schema),
        ["issue_key"],
    )
    got = {r.issue_key: r.p for r in read_latest(spark, path, ["issue_key"]).collect()}
    assert got == {"A": "a2", "B": "b1"}
    assert (
        spark.read.parquet(path).count() == 2  # physically compacted, not appended
    )


def test_upsert_newer_version_wins(spark, raw_issues, raw_changelog, tmp_path):
    """O2 end-to-end: a re-exported issue with a newer updated_at
    replaces the old row in the latest view (ReplacingMergeTree+FINAL
    semantics across two runs)."""
    out = str(tmp_path / "wh_upsert")
    run_etl(raw_issues, raw_changelog, out,
            search=SearchSpec(watermark=dt.datetime(2023, 1, 1)))

    updated = raw_issues.withColumn(
        "summary",
        F.when(F.col("key") == "TEST-1", F.lit("Retitled")).otherwise(
            F.col("summary")
        ),
    ).withColumn(
        "updatedAt",
        F.when(
            F.col("key") == "TEST-1", F.lit("2023-06-01T12:00:00.000000+0000")
        ).otherwise(F.col("updatedAt")),
    )
    run_etl(updated, raw_changelog, out,
            search=SearchSpec(watermark=dt.datetime(2023, 1, 1)))

    latest = read_latest(spark, f"{out}/issues", DEDUP_KEYS["issues"])
    assert latest.count() == 3  # still one row per issue
    t1 = latest.where(F.col("issue_key") == "TEST-1").first()
    assert t1["title"] == "Retitled"
    assert t1["updated_at"] == dt.datetime(2023, 6, 1, 12, 0)


def test_read_latest_month_scope_prunes_partitions(spark, tmp_path):
    """read_latest(months=[...]) must reach the scan as a PARTITION
    filter (directory-level pruning, the 100 TB path for month-scoped
    reads) and apply ClickHouse-FINAL-on-partition semantics: latest
    version among the scoped months only."""
    import datetime as dt

    from yandex_tracker_exporter_spark.sources.sinks import (
        read_latest,
        write_versioned,
    )

    path = str(tmp_path / "monthly_scoped")
    rows = [
        ("A", 1, dt.datetime(2024, 1, 10), "jan-old"),
        ("A", 2, dt.datetime(2024, 1, 20), "jan-new"),
        ("A", 3, dt.datetime(2024, 2, 5), "feb"),
        ("B", 1, dt.datetime(2024, 1, 3), "jan"),
    ]
    df = spark.createDataFrame(
        rows, "issue_key string, version long, updated_at timestamp, p string"
    )
    write_versioned(df, path, ["issue_key"], partition_ts_col="updated_at")

    scoped = read_latest(spark, path, ["issue_key"], months=["202401"])
    # latest WITHIN January: A's Feb version is out of scope
    assert {(r.issue_key, r.p) for r in scoped.collect()} == {
        ("A", "jan-new"), ("B", "jan")
    }
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    filters = plan.split("PartitionFilters")[1][:200]
    assert "_month" in filters
    # only the scoped month's files are listed into the scan
    assert "_month=202402" not in plan


def test_full_table_compact_preserves_month_partitions(spark, tmp_path):
    """compact() without a month scope on a partitioned table must keep
    the _month layout: the old read_latest-based rewrite wrote flat
    parquet, after which partition-scoped compacts raised and
    merge_upsert produced a mixed layout."""
    import os

    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.sources.sinks import (
        compact,
        merge_upsert,
        read_latest,
        write_versioned,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 1, "2024-01-05"), (1, 2, "2024-02-05"), (2, 1, "2024-02-06")],
        "k long, version long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    write_versioned(df, path, ["k"], partition_ts_col="ts")
    compact(spark, path, ["k"])
    names = set(os.listdir(path))
    assert {"_month=202401", "_month=202402"} <= names, names
    # partition-scoped compact and month-scoped reads still work
    compact(spark, path, ["k"], months=["202402"])
    feb = read_latest(spark, path, ["k"], months=["202402"]).collect()
    assert {(r["k"], r["version"]) for r in feb} == {(1, 2), (2, 1)}
    # and a later merge_upsert keeps the partitioned layout
    upd = spark.createDataFrame(
        [(2, 3, "2024-02-07")], "k long, version long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert merge_upsert(spark, path, upd, ["k"], partition_ts_col="ts") == [
        "202402"
    ]
    rows = {(r["k"], r["version"]) for r in read_latest(spark, path, ["k"]).collect()}
    assert rows == {(1, 2), (2, 3)}


def test_merge_upsert_empty_updates_no_table_created(spark, tmp_path):
    """An empty update batch must not leave an empty table root that
    turns the next read into 'unable to infer schema'."""
    import os

    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "tbl")
    empty = spark.createDataFrame(
        [], "k long, version long, ts timestamp"
    )
    assert merge_upsert(spark, path, empty, ["k"], partition_ts_col="ts") == []
    assert not os.path.exists(path)
