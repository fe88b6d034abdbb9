"""Seeded Tracker-shaped corpus generator (pyarrow only, no Spark).

Lands ``RAW_ISSUE_SCHEMA`` / ``RAW_CHANGELOG_SCHEMA`` parquet for one
backfill and K incremental deltas, and computes — from its own records,
not from the engine — what ``run_etl`` must produce for every phase:

- per-phase input/output row counts and the committed watermark;
- the FINAL view of each versioned table after the phase, as a row
  count plus integer key sums the benchmark recomputes in Spark.

FIXTURES.md §2 edge cases ride along at fixed small rates: null-end
corrupt transitions, short (one-field) workflow events, non-status
workflow events, ``IssueMoved``, uninteresting event types, fields that
F8 drops, reopen loops, and intervals spanning weekends and holidays.

Time only moves forward: every delta lands strictly after everything
already landed, so each delta's ``updatedAt`` values are strictly after
the previous phase's watermark and no update is silently filtered out.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
CORPUS_START = dt.datetime(2024, 1, 1, tzinfo=UTC)
#: RU-style holidays inside the corpus span; passed to run_etl's config
#: so ``business_seconds`` has holidays to skip.
HOLIDAYS = (
    "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05",
    "2024-01-08", "2024-02-23", "2024-03-08", "2024-04-29", "2024-04-30",
    "2024-05-01", "2024-05-09", "2024-05-10", "2024-06-12", "2024-11-04",
)
WORKDAYS = (0, 1, 2, 3, 4)
BUSINESS_HOURS = (9, 22)

_FLOW = ["Open", "In progress", "Testing", "Ready for release", "Closed"]
_QUEUES = ["DEV", "SRE", "DATA", "OPS", "QA"]
_TYPES = ["task", "bug", "subTask", "newFeature", "epic"]
_PRIORITIES = ["Critical", "Normal", "Minor", "Blocker"]
_USERS = [f"user{i}@Example.com" for i in range(40)]
_VALUE_VARIANTS = (
    lambda r: json.dumps(r.choice(_USERS)),
    lambda r: json.dumps([r.choice(_QUEUES), r.choice(_QUEUES)]),
    lambda r: json.dumps("x" * r.randint(101, 140)),
    lambda r: json.dumps({"key": f"{r.choice(_QUEUES)}-{r.randint(1, 999)}"}),
    lambda r: json.dumps({"email": r.choice(_USERS)}),
    lambda r: str(r.randint(1, 40)),
    lambda r: str(round(r.random() * 10, 2)),
)

# --- pyarrow mirrors of schemas.RAW_ISSUE_SCHEMA / RAW_CHANGELOG_SCHEMA ---
_NAME = pa.struct([("name", pa.string())])
_KEY = pa.struct([("key", pa.string())])
_USER = pa.struct([("email", pa.string()), ("name", pa.string())])
ISSUE_SCHEMA = pa.schema(
    [
        ("key", pa.string()), ("summary", pa.string()), ("queue", _KEY),
        ("type", _NAME), ("priority", _NAME), ("status", _NAME),
        ("resolution", _NAME), ("assignee", _USER), ("createdBy", _USER),
        ("qaEngineer", _USER), ("tags", pa.list_(pa.string())),
        ("components", pa.list_(_NAME)), ("sprint", pa.list_(_NAME)),
        ("project", _NAME), ("createdAt", pa.string()),
        ("updatedAt", pa.string()), ("resolvedAt", pa.string()),
        ("start", pa.string()), ("end", pa.string()),
        ("deadline", pa.string()), ("storyPoints", pa.float32()),
        ("parent", _KEY), ("epic", _KEY), ("aliases", pa.list_(pa.string())),
    ]
)
_FIELD = pa.struct(
    [
        ("field", pa.struct([("id", pa.string()), ("name", pa.string())])),
        ("from", pa.string()),
        ("to", pa.string()),
    ]
)
CHANGELOG_SCHEMA = pa.schema(
    [
        ("issue_key", pa.string()), ("queue", pa.string()),
        ("updatedAt", pa.string()), ("type", pa.string()),
        ("transport", pa.string()), ("updatedBy", _USER),
        ("fields", pa.list_(_FIELD)),
    ]
)


def fmt(ts: dt.datetime | None) -> str | None:
    """Tracker API datetime string (``%Y-%m-%dT%H:%M:%S.%f%z``)."""
    return None if ts is None else ts.strftime("%Y-%m-%dT%H:%M:%S.%f%z")


def micros(ts: dt.datetime) -> int:
    return (ts - dt.datetime(1970, 1, 1, tzinfo=UTC)) // dt.timedelta(microseconds=1)


def crc(*parts: str) -> int:
    """Same value as Spark ``crc32(cast(concat_ws('|', ...) as binary))``."""
    return zlib.crc32("|".join(parts).encode())


def snake(status: str) -> str:
    return status.lower().replace(" ", "_")


def business_seconds(start: dt.datetime, end: dt.datetime) -> int:
    """Seconds of [start, end) inside business hours on non-holiday
    workdays (UTC) — the reference ``calculate_time_spent`` rule."""
    s, e = min(start, end), max(start, end)
    holidays = {dt.date.fromisoformat(d) for d in HOLIDAYS}
    total = 0
    day = s.date()
    while day <= e.date():
        if day.weekday() in WORKDAYS and day not in holidays:
            base = dt.datetime(day.year, day.month, day.day, tzinfo=UTC)
            lo = max(s, base + dt.timedelta(hours=BUSINESS_HOURS[0]))
            hi = min(e, base + dt.timedelta(hours=BUSINESS_HOURS[1]))
            if hi > lo:
                total += int((hi - lo).total_seconds())
        day += dt.timedelta(days=1)
    return total


@dataclass
class Event:
    time: dt.datetime
    type: str
    fields: list  # [(field_id, field_name, from, to)]
    # (status_from, start, end) for a valid status transition, else None
    interval: tuple | None = None

    @property
    def kept_fields(self) -> int:
        """Rows ``transform_changelog`` keeps (F8 drops nameless fields
        and fields whose both values are empty)."""
        return sum(
            1 for _, name, a, b in self.fields
            if name is not None and (a is not None or b is not None)
        )


@dataclass
class Issue:
    key: str
    queue: str
    created: dt.datetime
    status: str = "Open"
    step: int = 0  # index into _FLOW of the current status
    entered: dt.datetime | None = None  # None: still in the initial status
    updated: dt.datetime | None = None
    resolved: dt.datetime | None = None
    events: list = field(default_factory=list)
    static: dict = field(default_factory=dict)


class TrackerCorpus:
    """Grows one corpus phase by phase; see the module docstring."""

    def __init__(self, seed: int, root: str) -> None:
        self.rng = random.Random(seed)
        self.root = root
        self.issues: list[Issue] = []
        self.issue_rows: list[tuple[dt.datetime, str]] = []  # (updated, key)
        self.clock = CORPUS_START
        self.watermark: dt.datetime | None = None
        self.phase = 0
        self._final = {"issues": {}, "changelog": set(), "metrics": {}}
        for sub in ("issues", "changelog"):
            os.makedirs(os.path.join(root, sub), exist_ok=True)

    # --- event synthesis -------------------------------------------------
    def _gap(self, lo_h: float, hi_h: float) -> dt.timedelta:
        return dt.timedelta(seconds=int(self.rng.uniform(lo_h, hi_h) * 3600))

    def _transition(self, issue: Issue, t: dt.datetime, to_step: int) -> None:
        start = issue.entered  # initial status: fields[1].from is null
        to_status = _FLOW[to_step]
        ev = Event(
            t, "IssueWorkflow",
            [("status", "Status", issue.status, to_status),
             ("statusStartTime", "Status start", fmt(start), fmt(t))],
            (issue.status, start or issue.created, t),
        )
        issue.events.append(ev)
        issue.status, issue.step, issue.entered = to_status, to_step, t
        if to_status == "Closed" and self.rng.random() < 0.5:
            issue.resolved = t

    def _edge_event(self, issue: Issue, t: dt.datetime) -> None:
        """One FIXTURES.md §2 edge case (none of them makes a metric row)."""
        r, kind = self.rng, self.rng.randrange(7)
        if kind == 0:  # corrupt transition: null end time
            fields = [("status", "Status", issue.status, issue.status),
                      ("statusStartTime", "Status start", fmt(t), None)]
            ev = Event(t, "IssueWorkflow", fields)
        elif kind == 1:  # short workflow event (<2 fields)
            ev = Event(t, "IssueWorkflow", [("status", "Status", issue.status, "Closed")])
        elif kind == 2:  # non-status workflow event
            ev = Event(t, "IssueWorkflow",
                       [("assignee", "Assignee", json.dumps(r.choice(_USERS)),
                         json.dumps(r.choice(_USERS))),
                        ("x", "x", fmt(t - dt.timedelta(hours=1)), fmt(t))])
        elif kind == 3:  # IssueMoved: no fields, sets was_moved
            ev = Event(t, "IssueMoved", [])
        elif kind == 4:  # uninteresting type with a polymorphic value
            ev = Event(t, "IssueCommented",
                       [("comment", "Comment", None, r.choice(_VALUE_VARIANTS)(r))])
        elif kind == 5:  # F8: both values empty → dropped
            ev = Event(t, "IssueUpdated",
                       [("tags", "Tags", None, None),
                        ("priority", "Priority", json.dumps("minor"),
                         r.choice(_VALUE_VARIANTS)(r))])
        else:  # F8: nameless field → dropped
            ev = Event(t, "IssueUpdated",
                       [("ghost", None, '"a"', '"b"'),
                        ("storyPoints", "Story Points", None, str(r.randint(1, 13)))])
        issue.events.append(ev)

    def _advance(self, issue: Issue, t: dt.datetime, n_events: int) -> None:
        """Append ``n_events`` events, the first at ``t``."""
        for _ in range(n_events):
            if self.rng.random() < 0.08:
                self._edge_event(issue, t)
            elif issue.status == "Closed":
                # reopen loop: Closed → In progress
                issue.resolved = None
                self._transition(issue, t, 1)
            elif issue.status == "Testing" and self.rng.random() < 0.3:
                self._transition(issue, t, 1)  # reopen loop back to work
            else:
                self._transition(issue, t, issue.step + 1)
            t += self._gap(0.5, 60)  # spans nights, weekends, holidays

    def _new_issue(self, created: dt.datetime) -> Issue:
        r = self.rng
        n = len(self.issues)
        queue = _QUEUES[n % len(_QUEUES)]
        issue = Issue(f"{queue}-{n + 1}", queue, created)
        issue.static = {
            "summary": f"Issue {n + 1} " + ("\U0001f680 launch" if r.random() < 0.05 else "work"),
            "type": r.choice(_TYPES),
            "priority": r.choice(_PRIORITIES),
            "assignee": r.choice(_USERS) if r.random() < 0.9 else None,
            "author": r.choice(_USERS),
            "qa": r.choice(_USERS) if r.random() < 0.3 else None,
            "tags": [r.choice(["backend", "ui", "infra"])] if r.random() < 0.6 else None,
            "components": [{"name": r.choice(["api", "db", "web"])}],
            "sprint": [{"name": f"Sprint {r.randint(1, 30)}"}] if r.random() < 0.5 else None,
            "project": {"name": "Platform"} if r.random() < 0.7 else None,
            "points": float(r.randint(1, 13)) if r.random() < 0.6 else None,
            "parent": f"{queue}-{r.randint(1, n)}" if n and r.random() < 0.2 else None,
            "epic": f"EPIC-{r.randint(1, 50)}" if r.random() < 0.3 else None,
        }
        self.issues.append(issue)
        return issue

    def _issue_row(self, issue: Issue) -> dict:
        s = issue.static
        ref = lambda k: {"key": k} if k else None  # noqa: E731
        user = lambda e: {"email": e, "name": e.split("@")[0]} if e else None  # noqa: E731
        closed = issue.status == "Closed"
        return {
            "key": issue.key, "summary": s["summary"], "queue": {"key": issue.queue},
            "type": {"name": s["type"]}, "priority": {"name": s["priority"]},
            "status": {"name": issue.status},
            "resolution": {"name": "Fixed"} if closed and issue.resolved else None,
            "assignee": user(s["assignee"]), "createdBy": user(s["author"]),
            "qaEngineer": user(s["qa"]), "tags": s["tags"],
            "components": s["components"], "sprint": s["sprint"],
            "project": s["project"], "createdAt": fmt(issue.created),
            "updatedAt": fmt(issue.updated),
            "resolvedAt": fmt(issue.resolved) if closed else None,
            "start": issue.created.date().isoformat(), "end": None,
            "deadline": (issue.created + dt.timedelta(days=30)).date().isoformat(),
            "storyPoints": s["points"], "parent": ref(s["parent"]),
            "epic": ref(s["epic"]), "aliases": None,
        }

    def _event_row(self, issue: Issue, ev: Event) -> dict:
        actor = self.rng.choice(_USERS)
        return {
            "issue_key": issue.key, "queue": issue.queue, "updatedAt": fmt(ev.time),
            "type": ev.type, "transport": self.rng.choice(["front", "api"]),
            "updatedBy": {"email": actor, "name": actor.split("@")[0]},
            "fields": [
                {"field": {"id": i, "name": n}, "from": a, "to": b}
                for i, n, a, b in ev.fields
            ],
        }

    # --- phases ----------------------------------------------------------
    def _land(self, touched: list[Issue], n_events_before: dict[str, int]) -> None:
        """Write the touched issues' new row versions and new events."""
        # unique microsecond per landed row keeps every updatedAt distinct
        rows, events = [], []
        for issue in touched:
            last = max(e.time for e in issue.events) if issue.events else issue.created
            issue.updated = last + dt.timedelta(seconds=1, microseconds=len(self.issue_rows) % 999_983)
            if self.watermark is not None and issue.updated <= self.watermark:
                raise AssertionError("delta row not after the previous watermark")
            self.issue_rows.append((issue.updated, issue.key))
            rows.append(self._issue_row(issue))
            events += [self._event_row(issue, e) for e in issue.events[n_events_before.get(issue.key, 0):]]
        name = f"part-{self.phase:03d}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, ISSUE_SCHEMA),
                       os.path.join(self.root, "issues", name))
        pq.write_table(pa.Table.from_pylist(events, CHANGELOG_SCHEMA),
                       os.path.join(self.root, "changelog", name))
        # events carry whole seconds; only updatedAt has a microsecond part
        self.clock = max(i.updated for i in touched).replace(microsecond=0) + dt.timedelta(hours=1)

    def backfill(self, n_issues: int) -> dict:
        """Land the backfill corpus: ``n_issues`` issues over ~180 days."""
        span = dt.timedelta(days=180)
        touched = []
        for _ in range(n_issues):
            created = CORPUS_START + dt.timedelta(seconds=self.rng.randrange(int(span.total_seconds())))
            issue = self._new_issue(created)
            self._advance(issue, created + self._gap(0.2, 8), self.rng.randint(1, 8))
            touched.append(issue)
        self._land(touched, {})
        return self._expect()

    def delta(self, n_updated: int, n_new: int) -> dict:
        """Land one incremental delta after everything landed so far."""
        self.phase += 1
        t0 = self.clock
        holder = max(self.issue_rows)[1]  # the watermark row is re-read (>=)
        pool = [i for i in self.issues if i.key != holder]
        touched = self.rng.sample(pool, min(n_updated, len(pool)))
        before = {i.key: len(i.events) for i in touched}
        for issue in touched:
            self._advance(issue, t0 + self._gap(0, 20), self.rng.randint(1, 3))
        for _ in range(n_new):
            issue = self._new_issue(t0 + self._gap(0, 20))
            self._advance(issue, issue.created + self._gap(0.2, 4), self.rng.randint(1, 4))
            touched.append(issue)
        self._land(touched, before)
        return self._expect()

    def _expect(self) -> dict:
        """What ``run_etl`` must do for the phase just landed."""
        lower = self.watermark
        latest: dict[str, dt.datetime] = {}
        for updated, key in self.issue_rows:
            if lower is None or updated >= lower:
                latest[key] = max(updated, latest.get(key, updated))
        by_key = {i.key: i for i in self.issues}
        out = {"issues": len(latest), "events_in": 0, "changelog": 0,
               "dropped_f8": 0, "metrics": 0}
        fin = self._final
        for key, updated in latest.items():
            issue = by_key[key]
            fin["issues"][key] = micros(updated)
            groups: dict[str, list] = {}
            for ev in issue.events:
                out["events_in"] += 1
                out["changelog"] += ev.kept_fields
                out["dropped_f8"] += len(ev.fields) - ev.kept_fields
                for _, name, a, b in ev.fields:
                    if name is not None and (a is not None or b is not None):
                        fin["changelog"].add((key, micros(ev.time), ev.type, name))
                if ev.interval:
                    status, start, end = ev.interval
                    g = groups.setdefault(snake(status), [0, 0, 0, end])
                    g[0] += 1
                    g[1] += int(abs((end - start).total_seconds()))
                    g[2] += business_seconds(start, end)
                    g[3] = max(g[3], end)
            out["metrics"] += len(groups)
            for status, (n, dur, bus, last) in groups.items():
                fin["metrics"][(key, status, micros(last))] = (n, dur, bus)
        self.watermark = max(self.issue_rows)[0]
        out["watermark"] = self.watermark.replace(tzinfo=None).isoformat()
        out["final"] = self.final_view()
        return out

    def final_view(self) -> dict:
        """Row count and integer key sums of each table's FINAL view."""
        fin = self._final
        return {
            "issues": [len(fin["issues"]),
                       sum(crc(k) for k in fin["issues"]),
                       sum(fin["issues"].values())],
            "issues_changelog": [len(fin["changelog"]),
                                 sum(crc(k, t, f) for k, _, t, f in fin["changelog"]),
                                 sum(m for _, m, _, _ in fin["changelog"])],
            "issue_metrics": [len(fin["metrics"]),
                              sum(crc(k, s) for k, s, _ in fin["metrics"]),
                              sum(m for _, _, m in fin["metrics"]),
                              sum(v[0] for v in fin["metrics"].values()),
                              sum(v[1] for v in fin["metrics"].values()),
                              sum(v[2] for v in fin["metrics"].values())],
        }
