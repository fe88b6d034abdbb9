"""U3/A3 observed run counters + F8 quarantine routing."""

from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.etl import transform_issues
from yandex_tracker_exporter_spark.observability import with_run_counters
from yandex_tracker_exporter_spark.operators.sessionize import (
    corrupt_transition_events,
    status_metrics,
)


def test_observed_counters_no_extra_pass(spark, raw_issues, raw_changelog):
    flat = transform_issues(raw_issues, raw_changelog)
    observed, obs = with_run_counters(flat)
    n = observed.count()  # ONE action computes rows AND metrics
    metrics = obs.get
    assert metrics["n_rows"] == n == 3
    assert metrics["null_keys"] == 0
    assert metrics["max_updated_at"] is not None


def test_corrupt_events_quarantined_not_lost(spark, raw_issues, raw_changelog):
    quarantine = corrupt_transition_events(raw_changelog, issues=raw_issues)
    rows = quarantine.collect()
    # exactly the one corrupted event (null end time) from the fixture
    assert len(rows) == 1
    assert rows[0]["issue_key"] == "TEST-1"
    assert rows[0]["fields"][1]["to"] is None

    # metrics + quarantine partition the transition stream: nothing lost
    metrics = status_metrics(raw_changelog, raw_issues)
    total_transitions = (
        raw_changelog.where(F.col("type") == "IssueWorkflow")
        .where(F.size("fields") >= 2)
        .where(F.col("fields")[0]["field"]["id"] == "status")
        .count()
    )
    kept = metrics.agg(F.sum("status_transitions_count")).collect()[0][0]
    assert kept + len(rows) == total_transitions


def test_quarantine_exactly_complements_metrics(spark):
    """The two shapes that used to escape the partition law: a null
    ``from`` with NO createdAt fallback must quarantine (it used to
    vanish from both outputs), and an unparseable ``from`` WITH a
    createdAt fallback must be kept, not double-counted."""
    from yandex_tracker_exporter_spark.schemas import RAW_CHANGELOG_SCHEMA

    def ev(key, frm, to):
        return {
            "issue_key": key,
            "queue": "DEV",
            "updatedAt": "2024-01-02T00:00:00.000000+0000",
            "type": "IssueWorkflow",
            "transport": "front",
            "updatedBy": {"email": "u@example.com", "name": "U"},
            "fields": [
                {"field": {"id": "status", "name": "Status"},
                 "from": "Open", "to": "Closed"},
                {"field": {"id": "resolution", "name": ""},
                 "from": frm, "to": to},
            ],
        }

    changelog = spark.createDataFrame(
        [
            ev("HAS-CREATED", None, "2024-01-03T00:00:00.000000+0000"),
            ev("HAS-CREATED", "garbage", "2024-01-04T00:00:00.000000+0000"),
            ev("NO-CREATED", None, "2024-01-03T00:00:00.000000+0000"),
            ev("NO-CREATED", "garbage", None),
        ],
        RAW_CHANGELOG_SCHEMA,
    )
    issues = spark.createDataFrame(
        [("HAS-CREATED", "2024-01-01T00:00:00.000+0000")],
        "key string, createdAt string",
    )
    kept = status_metrics(changelog, issues).agg(
        F.sum("status_transitions_count")
    ).collect()[0][0]
    quarantined = corrupt_transition_events(changelog, issues=issues).collect()
    # HAS-CREATED both kept (null from -> createdAt; garbage from ->
    # createdAt); NO-CREATED both quarantined (no fallback / null to)
    assert kept == 2
    assert sorted(r["issue_key"] for r in quarantined) == [
        "NO-CREATED", "NO-CREATED"
    ]
    assert kept + len(quarantined) == 4


def test_statsd_exporter_wire_format(spark):
    """DogStatsd datagrams received on a real UDP socket: counter,
    gauge, timing, tags, and the observation bridge."""
    import socket as socket_mod

    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.observability import (
        StatsdExporter,
        with_run_counters,
    )

    server = socket_mod.socket(socket_mod.AF_INET, socket_mod.SOCK_DGRAM)
    server.bind(("127.0.0.1", 0))
    server.settimeout(5)
    port = server.getsockname()[1]

    exp = StatsdExporter(port=port, prefix="yte", tags={"env": "test"})
    exp.count("issues.exported", 3, tags={"queue": "DEV"})
    exp.gauge("lag_seconds", 12.5)
    with exp.timed("cycle"):
        pass

    got = [server.recv(2048).decode() for _ in range(3)]
    assert got[0] == "yte.issues.exported:3|c|#env:test,queue:DEV"
    assert got[1] == "yte.lag_seconds:12.5|g|#env:test"
    assert got[2].startswith("yte.cycle:") and got[2].endswith("|ms|#env:test")

    # observation bridge: observed run counters ship as gauges
    df = spark.createDataFrame([("A-1",), (None,)], "issue_key string")
    observed, obs = with_run_counters(df, "run1")
    observed.count()
    exp.ship_observation(obs, run="etl")
    shipped = sorted(server.recv(2048).decode() for _ in range(2))
    assert any(s.startswith("yte.etl.n_rows:2|g") for s in shipped)
    assert any(s.startswith("yte.etl.null_keys:1|g") for s in shipped)

    # disabled exporter sends nothing and raises nothing
    off = StatsdExporter(port=port, enabled=False)
    off.count("x")
    server.settimeout(0.3)
    import pytest as _pytest

    with _pytest.raises(socket_mod.timeout):
        server.recv(2048)


def test_error_shipper_filters_and_ships():
    """Sentry-filter analogue (reference monitoring.py:80-89): events
    without an exception are dropped; TrackerError events are
    fingerprinted; other exceptions ship unmodified."""
    import pytest

    from yandex_tracker_exporter_spark.observability import (
        ErrorShipper,
        TrackerError,
    )

    shipped = []
    shipper = ErrorShipper(sink=shipped.append)

    # no exception -> filter drops the event entirely
    assert shipper.capture(None, {"run": "r1"}) is None
    assert shipped == []

    # tracker failure -> grouped fingerprint
    event = shipper.capture(TrackerError("rate limited"), {"run": "r2"})
    assert event is not None and event["fingerprint"] == ["tracker-error"]
    assert shipped[-1]["exc_type"] == "TrackerError"
    assert shipped[-1]["run"] == "r2"

    # ordinary exception -> ships, no fingerprint
    event = shipper.capture(ValueError("boom"), {"run": "r3"})
    assert event is not None and "fingerprint" not in event
    assert shipped[-1]["message"] == "boom"
    assert "ValueError: boom" in shipped[-1]["traceback"]

    # watch(): captures AND re-raises
    with pytest.raises(RuntimeError):
        with shipper.watch(run="r4"):
            raise RuntimeError("etl died")
    assert shipped[-1]["exc_type"] == "RuntimeError"
    assert shipped[-1]["run"] == "r4"

    # custom filter chain: a filter returning None drops the event
    muted = ErrorShipper(sink=shipped.append, filters=(lambda e, h: None,))
    assert muted.capture(ValueError("quiet"), {}) is None
    assert shipped[-1]["run"] == "r4"  # nothing new shipped
