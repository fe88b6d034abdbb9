"""The traced run and the per-layer metrics it yields.

Layers are named after the engine's modules. Spark-level numbers come
from the status store, read per operation (``spans.StatusStore``).

``PER_LAYER`` are the metrics every workload measures; they form the
result line of a traced run. The workload-specific layers (each contract
module's build/exec, the ``tracker_etl`` spans, probes and counts) do
not exist on the other workloads, so they go to stderr and the sidecar.
"""

from __future__ import annotations

import sys

from spans import StatusStore, Tracer

#: (name, unit) of the per-layer metrics every workload reports.
PER_LAYER = (
    ("driver.build_s", "s"),
    ("driver.construct_s", "s"),
    ("driver.build_jobs", "count"),
    ("driver.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.outside_stage_s", "s"),
    ("spark.slot_utilization", "ratio"),
    ("trace.overhead_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
)
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
ETL_SPANS = (
    "etl.run_etl",
    "etl.transform_issues.build",
    "etl.transform_changelog.build",
    "operators.sessionize.status_metrics.build",
    "plans.search_spec.apply_search",
    "operators.watermark.compute_watermark",
    "sources.sinks.write_versioned.issues",
    "sources.sinks.write_versioned.issues_changelog",
    "sources.sinks.write_versioned.issue_metrics",
    "sources.state.flush",
    "sources.sinks.read_latest.issues",
    "sources.sinks.read_latest.issues_changelog",
    "sources.sinks.read_latest.issue_metrics",
)
#: Driver-side plan construction inside ``run_etl``.
ETL_BUILD_SPANS = ("etl.transform_issues.build", "etl.transform_changelog.build",
                   "operators.sessionize.status_metrics.build",
                   "plans.search_spec.apply_search")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "MB" if name.endswith("_mb") else "count"


class _Sums(dict):
    def add(self, name: str, value: float) -> None:
        self[name] = self.get(name, 0.0) + value


def _spark(out: _Sums, stats: dict, wall_s: float) -> None:
    for k in SPARK_KEYS:
        out.add(f"spark.{k}", stats[k])
    out.add("spark.outside_stage_s", max(0.0, wall_s - stats["stage_wall_s"]))


def _total(records: list[dict]) -> float:
    return sum(r.get("latency_s", 0.0) for r in records)


def traced_run(name: str, workload, spark):
    """Run the traced protocol; returns (every record, {metric: (value,
    unit)}, spans).

    ``trace.overhead_s`` is the traced minus the untraced time of the same
    work at the same warmth. A contract pass pairs a second traced
    execution of each query with an untraced one (``contract.py``).
    ``tracker_etl`` cannot repeat a stateful round in place, so it runs
    three passes, each on a fresh copy of the corpus: untraced, traced and
    untraced, and compares the traced pass with the one after it. The
    first pass only warms the JVM at full size: in two traced runs it
    took 1.1x and 1.4x as long as the passes after it.
    """
    tracer, store = Tracer(), StatusStore(spark)
    if name == "tracker_etl":
        warm = workload.run_pass(spark, 0)
        records = workload.run_pass(spark, 1, tracer=tracer, store=store)
        after = workload.run_pass(spark, 2)
        probes = workload.probes(spark)
        overhead = _total(records) - _total(after)
        every = warm + records + after
    else:
        records = workload.run_pass(spark, 0, tracer=tracer, store=store)
        overhead = sum(r.get("overhead_s", 0.0) for r in records)
        every = records
    out = _Sums()
    wall = 0.0
    if name == "tracker_etl":
        for r in records:
            _spark(out, r["spark"], r.get("latency_s", 0.0))
            wall += r.get("latency_s", 0.0)
            out.add("sources.sinks.files_written", r["files_written"])
            out.add("sources.sinks.bytes_written_mb", r["bytes_written"] / 2**20)
            if r["kind"] != "read":
                out.add("etl.events_in", r["events_in"])
                out.add("etl.rows_dropped_f8", r["expect"]["dropped_f8"])
                out.add("etl.changelog_rows_out", r.get("changelog_rows_out", 0))
        out["sources.sinks.table_files"] = records[-1]["table_files"]
        # spans of the incremental rounds and reads; the backfill is
        # covered by the probes and by throughput_per_s
        for r in records:
            if r["kind"] == "backfill":
                continue
            totals = tracer.totals(r["op"])
            for span in ETL_SPANS:
                out.add(f"{span}_s", totals.get(span, 0.0))
            build = sum(totals.get(s, 0.0) for s in ETL_BUILD_SPANS)
            out.add("driver.build_s", build)
            out.add("driver.construct_s", build)
            out.add("driver.exec_s", r.get("latency_s", 0.0) - build)
            if r["kind"] == "round":
                out.add("etl.run_etl_self_s", tracer.self_time("etl.run_etl", r["op"]))
        out["driver.build_jobs"] = 0
        out.update(probes)
    else:
        for r in records:
            if "latency_s" not in r:
                continue
            b, e = r["build"], r["exec"]
            wall += r["latency_s"]
            out.add("driver.build_s", r["build_s"])
            out.add("driver.exec_s", r["exec_s"])
            out.add("driver.build_jobs", b["jobs"])
            out.add("driver.build_job_s", b["job_wall_s"])
            out.add("driver.construct_s", max(0.0, r["build_s"] - b["job_wall_s"]))
            out.add(f"{r['module']}.build_s", r["build_s"])
            out.add(f"{r['module']}.exec_s", r["exec_s"])
            out.add("spark.python_s", r["python_s"])
            _spark(out, {k: b[k] + e[k] for k in b}, r["latency_s"])
        if store.python_nodes and not store.python_metric_seen:
            print("# no 'time to run Python workers' SQL metric was exposed", file=sys.stderr)
    cores = spark.sparkContext.defaultParallelism
    out["spark.slot_utilization"] = out["spark.executor_run_s"] / (wall * cores) if wall else 0.0
    out["trace.overhead_s"] = overhead
    return every, {k: (v, "ratio" if k == "spark.slot_utilization" else _unit(k))
                   for k, v in out.items()}, tracer.spans
