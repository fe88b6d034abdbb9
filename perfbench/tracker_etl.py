"""``tracker_etl``: the paper's pipeline, ``run_etl`` over a landed corpus.

One pass is a backfill (explicit ``SearchSpec`` watermark before the
corpus start) followed by incremental rounds driven by ``FileStateStore``
watermark state. Before each round the generator lands an untimed
delta; after each round one FINAL-view read (``read_latest`` on all
three tables) is aggregated to a row count, integer key sums the
generator predicts, and an order-independent checksum of every column
but ``version`` (pinned per seed in ``pins.json``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as dt
import json
import os
import shutil
import time

import tracker_corpus as corpus_mod

HERE = os.path.dirname(os.path.abspath(__file__))
BACKFILL_ISSUES = 3000
ROUNDS = 2
DELTA_UPDATED, DELTA_NEW = 80, 8
WARM_ISSUES = 30
TABLES = ("issues", "issues_changelog", "issue_metrics")


def _key_columns(F):
    """Spark twins of ``TrackerCorpus.final_view``'s integer sums."""
    crc = lambda *cols: F.crc32(F.concat_ws("|", *cols).cast("binary"))  # noqa: E731
    return {
        "issues": [crc("issue_key"), F.unix_micros("updated_at")],
        "issues_changelog": [
            crc("issue_key", "event_type", "changed_field"),
            F.unix_micros("event_time"),
        ],
        "issue_metrics": [
            crc("issue_key", "status_name"),
            F.unix_micros("last_seen"),
            F.col("status_transitions_count"),
            F.col("duration"),
            F.col("busdays_duration"),
        ],
    }


class TrackerEtlWorkload:
    """One closed-loop client: each ``run_etl`` phase and FINAL-view read
    starts after the previous one returned."""

    def __init__(self, seed: int, work_dir: str) -> None:
        from yandex_tracker_exporter_spark.config import DEFAULT_CONFIG

        self.seed = seed
        self.work = os.path.join(work_dir, "tracker_etl")
        self.config = dataclasses.replace(DEFAULT_CONFIG, holiday_dates=corpus_mod.HOLIDAYS)
        with open(os.path.join(HERE, "pins.json")) as fh:
            self.pins = json.load(fh).get(str(seed))
        self.checksums: dict[str, str] = {}
        self._tracer = None
        self._landed: tuple | None = None

    # --- set-up ------------------------------------------------------------
    def setup(self, spark) -> None:
        """Warm the whole path on a tiny corpus — one ``run_etl`` and one
        FINAL-view read — then land the first pass's backfill corpus."""
        warm = os.path.join(self.work, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        corpus = corpus_mod.TrackerCorpus(self.seed + 1_000_003, os.path.join(warm, "raw"))
        corpus.backfill(WARM_ISSUES)
        self._etl(spark, corpus, _state(warm), warm, search=True)
        self._read_views(spark, warm)
        self._landed = self._land(0)

    def _land(self, index: int) -> tuple:
        """Fresh pass directory with the backfill corpus landed."""
        base = os.path.join(self.work, f"pass{index}")
        shutil.rmtree(base, ignore_errors=True)
        corpus = corpus_mod.TrackerCorpus(self.seed, os.path.join(base, "raw"))
        return base, corpus, _state(base), corpus.backfill(BACKFILL_ISSUES)

    # --- engine calls --------------------------------------------------------
    def _etl(self, spark, corpus, state, base: str, search: bool = False):
        """``run_etl`` over everything landed so far; the backfill passes
        an explicit watermark before the corpus start."""
        from yandex_tracker_exporter_spark import etl
        from yandex_tracker_exporter_spark.plans.search_spec import SearchSpec

        spec = None
        if search:
            spec = SearchSpec(watermark=corpus_mod.CORPUS_START.replace(tzinfo=None) - dt.timedelta(days=1))
        issues, changelog = _raw(spark, corpus.root)
        return etl.run_etl(
            issues, changelog, os.path.join(base, "out"),
            state=state, search=spec, config=self.config,
        )

    def _read_views(self, spark, base: str) -> dict:
        """FINAL view of each table → [count, key sums...] + checksum."""
        from pyspark.sql import functions as F

        from yandex_tracker_exporter_spark.schemas import DEDUP_KEYS
        from yandex_tracker_exporter_spark.sources.sinks import read_latest

        sums = _key_columns(F)
        out = {}
        for table in TABLES:
            with self._span(f"sources.sinks.read_latest.{table}"):
                view = read_latest(spark, os.path.join(base, "out", table), DEDUP_KEYS[table])
                cols = [c for c in view.columns if c != "version"]
                row = view.agg(
                    F.count(F.lit(1)),
                    *[F.sum(c.cast("decimal(38,0)")) for c in sums[table]],
                    F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                ).first()
            out[table] = [int(v or 0) for v in row[:-1]]
            self.checksums[table] = str(row[-1])
        return out

    def _span(self, name: str):
        return self._tracer.span(name) if self._tracer is not None else contextlib.nullcontext()

    # --- one pass --------------------------------------------------------------
    def run_pass(self, spark, index: int, tracer=None, store=None) -> list[dict]:
        self._tracer = tracer
        base, corpus, state, expect = self._landed or self._land(index)
        self._landed = None
        restore = []
        if tracer is not None:
            from yandex_tracker_exporter_spark import etl

            tracer.wrap(state, "flush", "sources.state.flush")

            for attr, name in (
                ("apply_search", "plans.search_spec.apply_search"),
                ("transform_issues", "etl.transform_issues.build"),
                ("transform_changelog", "etl.transform_changelog.build"),
                ("status_metrics", "operators.sessionize.status_metrics.build"),
                ("compute_watermark", "operators.watermark.compute_watermark"),
            ):
                restore.append((etl, attr, getattr(etl, attr)))
                tracer.wrap(etl, attr, name)
            restore.append((etl, "write_versioned", etl.write_versioned))
            tracer.wrap(etl, "write_versioned",
                        lambda df, path, *a, **k: f"sources.sinks.write_versioned.{os.path.basename(path)}")
        try:
            run = (spark, base, corpus, state)
            records = [self._op(run, f"p{index}:backfill", "backfill", expect, store)]
            for r in range(ROUNDS):
                expect = corpus.delta(DELTA_UPDATED, DELTA_NEW)
                records.append(self._op(run, f"p{index}:round{r}", "round", expect, store))
                records.append(self._op(run, f"p{index}:read{r}", "read", expect, store,
                                        last=r == ROUNDS - 1))
        finally:
            for owner, attr, fn in restore:
                setattr(owner, attr, fn)
        self.last_corpus = corpus
        return records

    def _op(self, run: tuple, op_id: str, kind: str, expect: dict, store, last: bool = False) -> dict:
        spark, base, corpus, state = run
        sc = spark.sparkContext
        rec = {"op": op_id, "kind": kind, "ok": False}
        if kind != "read":
            rec["events_in"] = expect["events_in"]
            rec["expect"] = {k: expect[k] for k in ("issues", "changelog", "metrics", "dropped_f8")}
        if store is not None:
            files_before = _files(base)
            self._tracer.op = op_id
            sc.setJobGroup(op_id, kind)
        try:
            t0 = time.perf_counter()
            with self._span("etl.run_etl" if kind != "read" else "view_read"):
                if kind == "read":
                    got = self._read_views(spark, base)
                else:
                    got = self._etl(spark, corpus, state, base, search=kind == "backfill")
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = self._check(kind, got, expect, last)
            rec["ok"] = rec["error"] is None
            if kind != "read":
                rec["changelog_rows_out"] = got.changelog
        except Exception as exc:  # a failed operation, not a crashed run
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            if store is not None:
                sc.setJobGroup("", "")
                rec["spark"] = store.read(op_id)
                files_after = _files(base)
                rec["files_written"] = files_after[0] - files_before[0]
                rec["bytes_written"] = files_after[1] - files_before[1]
                rec["table_files"] = files_after[0]
        return rec

    def _check(self, kind: str, got, expect: dict, last: bool) -> str | None:
        if kind == "read":
            want = expect["final"]
            bad = [t for t in TABLES if got[t] != want[t]]
            if bad:
                return f"FINAL view mismatch in {bad}: {[got[t] for t in bad]} != {[want[t] for t in bad]}"
            if last and self.pins is not None and self.checksums != self.pins:
                return f"checksums {self.checksums} != pinned {self.pins}"
            return None
        if got.skipped:
            return "unexpected F4/F5 skip"
        counts = (got.issues, got.changelog, got.metrics)
        want = (expect["issues"], expect["changelog"], expect["metrics"])
        if counts != want:
            return f"(issues, changelog, metrics) {counts} != expected {want}"
        if got.watermark is None or got.watermark.isoformat() != expect["watermark"]:
            return f"watermark {got.watermark} != expected {expect['watermark']}"
        return None

    # --- traced-run probes -----------------------------------------------------
    def probes(self, spark) -> dict[str, float]:
        """Each transform alone on the last pass's landed corpus, into a
        noop sink. One timed run each: the traced run's three passes have
        already run these transforms."""
        from yandex_tracker_exporter_spark import etl

        issues, changelog = _raw(spark, self.last_corpus.root)
        cases = {
            "etl.transform_changelog_s": lambda: etl.transform_changelog(changelog, self.config),
            "etl.transform_issues_s": lambda: etl.transform_issues(issues, changelog, self.config),
            "operators.sessionize.status_metrics_s": lambda: etl.status_metrics(changelog, issues, self.config),
            "_status_metrics_no_busdays_s": lambda: etl.status_metrics(
                changelog, issues, self.config, include_busdays=False),
        }
        out = {}
        for name, build in cases.items():
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            out[name] = time.perf_counter() - t0
        out["functions.business.business_seconds_s"] = (
            out["operators.sessionize.status_metrics_s"] - out.pop("_status_metrics_no_busdays_s")
        )
        return out


def _state(base: str):
    from yandex_tracker_exporter_spark.sources.state import FileStateStore

    return FileStateStore(os.path.join(base, "state.json"))


def _raw(spark, root: str):
    """The landed raw issues and changelog, re-listed on every call."""
    from yandex_tracker_exporter_spark.schemas import RAW_CHANGELOG_SCHEMA, RAW_ISSUE_SCHEMA

    return (
        spark.read.schema(RAW_ISSUE_SCHEMA).parquet(os.path.join(root, "issues")),
        spark.read.schema(RAW_CHANGELOG_SCHEMA).parquet(os.path.join(root, "changelog")),
    )


def _files(base: str) -> tuple[int, int]:
    """(parquet file count, bytes) under the pass's output tables."""
    n = size = 0
    for root, _, files in os.walk(os.path.join(base, "out")):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size
