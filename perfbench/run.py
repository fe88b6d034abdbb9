"""Repository benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see README.md in this directory):

- ``tracker_etl``      — backfill + incremental ``run_etl`` rounds +
                         FINAL-view reads over a seeded Tracker corpus;
- ``contract_floor``   — contract queries dominated by the fixed
                         per-query cost;
- ``contract_kernels`` — contract queries dominated by executor work.

Each run times one set-up — package imports, a cold JVM and session
start, and the workload's warm-up and corpus generation — as ``setup_s``,
then measures one pass over the workload. Outputs are checked; a wrong
result is a failed operation. ``--trace 1`` runs the traced protocol of
``layers.traced_run`` and reports the per-layer metrics instead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Per-operation detail goes to a sidecar JSON under
``.bench_build/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tracker_etl", "contract_floor", "contract_kernels")


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine's modules importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def start_session():
    from yandex_tracker_exporter_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # a quarter of physical RAM: leave room for other processes
            "spark.driver.memory": f"{max(1, min(4, int(ram_gb // 4)))}g",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def _children(pid: int) -> list[int]:
    """Direct children of ``pid`` (Python worker daemons of the JVM)."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, ValueError, IndexError):
                continue
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for them."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def make_workload(name: str, seed: int):
    if name == "tracker_etl":
        from tracker_etl import TrackerEtlWorkload

        return TrackerEtlWorkload(seed, WORK)
    from contract import ContractWorkload

    return ContractWorkload(name)


def _gmean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(name: str, records: list[dict], setup_s: float) -> dict:
    """The end-to-end metrics of one untraced pass.

    A typical operation is the geometric mean of the unit operations'
    latencies, as TPC-H's power metric averages query times: every query
    of a contract workload counts in proportion, whereas the median of a
    handful of unlike queries tracks whichever one lands in the middle.
    """
    ops = [r for r in records if "latency_s" in r]
    if name == "tracker_etl":
        unit = [r["latency_s"] for r in ops if r["kind"] == "round"]
        reads = [r["latency_s"] for r in ops if r["kind"] == "read"]
        # raw changelog events per second through the backfill
        rate = statistics.median(
            r["events_in"] / r["latency_s"] for r in ops if r["kind"] == "backfill"
        )
    else:
        unit = [r["latency_s"] for r in ops]
        reads = [r["exec_s"] for r in ops]
        # result rows per second of timed execution: build time excluded
        rate = sum(r["rows"] for r in ops) / sum(reads)
    return {
        "setup_s": (setup_s, "s"),
        "total_s": (sum(r["latency_s"] for r in ops), "s"),
        "op_gmean_s": (_gmean(unit), "s"),
        "read_gmean_s": (_gmean(reads), "s"),
        "throughput_per_s": (rate, "1/s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for a uniform command line; a run is one pass of fixed work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("yandex_tracker_exporter_spark", "__spark_entry__.py", "bench.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found in {ROOT}", file=sys.stderr)
        return 2

    _environment()
    t0 = time.perf_counter()
    import bench  # leftover-JVM kill and contention stamping, shared with bench.py

    imports_s = time.perf_counter() - t0
    other_jvms = bench._kill_leftover_jvms()
    with open("/proc/loadavg") as fh:
        loadavg = float(fh.read().split()[0])

    # set-up: the imports above, then workload, cold JVM + session, warm-up
    t0 = time.perf_counter()
    workload = make_workload(args.workload, args.seed)
    spark = start_session()
    workload.setup(spark)
    setup_s = imports_s + time.perf_counter() - t0
    wall = {"imports": imports_s, "setup": setup_s}

    t0 = time.perf_counter()
    sidecar = {"args": vars(args), "setup_s": setup_s, "wall_s": wall,
               "other_jvms": other_jvms, "loadavg_1m_at_start": loadavg}
    if args.trace:
        import layers

        ops, layer_metrics, spans = layers.traced_run(args.workload, workload, spark)
        # VmHWM spreads 6-26% between runs (heap growth follows GC timing),
        # too wide to bound as an end-to-end metric
        layer_metrics["jvm.peak_rss_mb"] = (_vm_hwm_mb(_jvm_pid()), "MB")
        sidecar.update(records=ops, spans=spans, layers=layer_metrics)
        # the result line holds the layers every workload has; stderr and
        # the sidecar also carry the workload-specific ones
        shown = layer_metrics
        result = {k: layer_metrics[k] for k, _ in layers.PER_LAYER}
    else:
        ops = workload.run_pass(spark, 0)
        shown = result = end_to_end(args.workload, ops, setup_s)
        sidecar["records"] = ops
    wall["run"] = time.perf_counter() - t0
    sidecar["peak_rss_mb"] = _vm_hwm_mb(_jvm_pid())

    t0 = time.perf_counter()
    stop_session(spark)
    wall["stop"] = time.perf_counter() - t0
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(sidecar, fh, default=str)
    failed = sum(not r["ok"] for r in ops)
    for r in ops:
        if not r["ok"]:
            print(f"# FAILED {r['op']}: {r.get('error')}", file=sys.stderr)
    for k, (v, u) in shown.items():
        print(f"# {k} = {v:.6g} {u}", file=sys.stderr)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result.items()}
    print(f"# failed_ops_ratio = {failed / len(ops):.6g} ({failed}/{len(ops)})", file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
