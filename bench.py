"""The contract's one measurement harness: runs every query of
``__spark_entry__.queries()`` at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) and prints ONE JSON line {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec, ...}, "sf":
...}. The FULL per-query map lives in BENCH_SUMMARY.json next to this
file; the stdout line carries only the slowest queries so it stays well
under 2,000 characters — a consumer that tail-captures a bounded slice
of stdout (observed: 2,000 chars) can always parse it, and
`queries_file` points at the complete map.

Modes:

    python bench.py                     # every query → BENCH_SUMMARY.json
    python bench.py --only q1,q2        # a spot check: prints the full
                                        # record, writes no sidecar
    python bench.py --plans DIR [--only q1,q2]
                                        # DIR/<query>.txt: the formatted
                                        # explain of each query, no timing

Session: local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may
run on), shuffle partitions = CPUs, a driver heap of half the physical
RAM. ``start_session`` and ``time_query`` are shared with
tools/scale_check.py and tools/neardup_auto_scale.py.

Timing counts full execution of each query (count() on the executors)
after a warm-up pass of the session AND of the Python UDF workers (the
first pandas-UDF query otherwise pays ~5 s of worker spin-up that is not
the query's cost). Per query: $SPARK_GRAFT_BENCH_PASSES (default 3)
minutes-apart sweeps, each an un-timed codegen-warming run followed by
($SPARK_GRAFT_BENCH_RUNS - 1) timed runs (see the sampling-scheme
comment in measure()). The headline ``value``/``value_minima`` is the
sum of per-query minima across all samples (the in-artifact noise
floor); ``value_median`` is the typical-run total; the spread
distribution + ``minima_trusted`` gate make the artifact
self-adjudicating under this host's up-to-35% invisible outside load
(VERDICT r7 #2).

Layers: each timed sample is split into ``build_s`` (``fn(spark,
sf_dir)``: plan construction plus any jobs the query runs while it is
built) and ``exec_s`` (``.count()``); their sum is the sample. Each
execution runs under its own job group, and after each sample, outside
its timer, the sidecar's ``layers[query]`` is filled from the Spark
status store (``perfbench/spans.StatusStore``) for the query's fastest
sample: jobs, stages, tasks, executor run and CPU time, GC, shuffle
read/write, spill, job and stage wall time, and Python-worker time.
Streaming queries run their micro-batch jobs on their own threads, so
those jobs are not in the group; their Python time is still counted.

Hygiene: leftover JVMs from earlier experiments inflate timings 2-4× —
the harness kills our own leftover Spark JVMs at startup, warns on
stderr about any other live java process, and stamps ``"contended":
true`` into the JSON so a polluted run is never mistaken for a
regression. Between queries the cache is cleared and the JVM GC'd so
one query's leftovers aren't billed to the next.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd

import __spark_entry__ as entry_mod
from yandex_tracker_exporter_spark.session import get_spark

SUMMARY_PATH = os.path.join(HERE, "BENCH_SUMMARY.json")


def _other_jvms() -> list[int]:
    """PIDs of LIVE java processes not descended from this bench run.

    Zombies (state Z) are excluded: a just-exited Spark session's JVM
    lingers as an unkillable zombie until its parent reaps it, holds no
    CPU or memory, and was the recurring false-positive behind
    ``contended: true, other_jvms: 1`` artifacts — back-to-back bench
    invocations always see the previous run's corpse for a second."""
    pids = []
    try:
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                comm = stat[stat.index("(") + 1: stat.rindex(")")]
                state = stat[stat.rindex(")") + 2: stat.rindex(")") + 3]
                if comm == "java" and state != "Z":
                    pids.append(int(entry))
            except (OSError, ValueError):
                continue
    except OSError:
        pass
    return pids


def _jvm_info(pid: int) -> dict:
    """pid / ppid / uid / first 120 chars of cmdline for a java process
    — enough to adjudicate WHAT a surviving JVM is (the r6 artifact
    reported ``other_jvms: 1`` with no identity, so the contention flag
    could never be resolved as 'permanent harness property' vs 'stray')."""
    info: dict = {"pid": pid, "ppid": None, "uid": None, "cmdline": ""}
    try:
        info["uid"] = os.stat(f"/proc/{pid}").st_uid
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # field 4 of /proc/pid/stat, after the parenthesized comm
            info["ppid"] = int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            raw = fh.read().replace(b"\x00", b" ").strip()
        info["cmdline"] = raw[:120].decode("utf-8", "replace")
    except OSError:
        pass
    return info


def _spark_jvms() -> list[int]:
    """The subset of :func:`_other_jvms` whose cmdline identifies a
    Spark JVM (spark-submit / pyspark launcher / Spark driver class)
    AND which belongs to the current user. Only these are safe to
    kill: on a shared host a bare 'java' comm could be an IDE, a build
    daemon, or another service's JVM, and even a Spark cmdline owned
    by a DIFFERENT user is someone else's live job, not our leftover."""
    pids = []
    uid = os.getuid()
    for pid in _other_jvms():
        try:
            if os.stat(f"/proc/{pid}").st_uid != uid:
                continue
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"spark" in fh.read().lower():
                    pids.append(pid)
        except OSError:
            continue
    return pids


def _kill_leftover_jvms() -> list[int]:
    """Best-effort TERM (then KILL) of OUR OWN user's Spark JVMs left
    over from earlier sessions. bench.py runs before our own JVM
    exists, so every live same-uid Spark JVM at this point is a
    leftover that would inflate timings 2-4x. Non-Spark java processes
    and other users' JVMs are never signalled — they are reported as
    contention (with pid/ppid/cmdline identity), not treated as ours
    to kill. Opt out with SPARK_GRAFT_NO_KILL=1. Returns the java PIDs
    still alive afterwards (Spark or not: they all contend)."""
    import signal

    targets = _spark_jvms()
    if not targets or os.environ.get("SPARK_GRAFT_NO_KILL") == "1":
        return _other_jvms()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in targets:
            try:
                os.kill(pid, sig)
            except (OSError, ProcessLookupError):
                pass
        deadline = time.time() + (5.0 if sig == signal.SIGTERM else 2.0)
        while time.time() < deadline and _spark_jvms():
            time.sleep(0.2)
        if not _spark_jvms():
            break
    survivors = _other_jvms()
    if survivors:
        for pid in survivors[:5]:
            info = _jvm_info(pid)
            print(
                f"# WARNING: surviving JVM pid={info['pid']} "
                f"ppid={info['ppid']} uid={info['uid']} "
                f"cmdline={info['cmdline']!r}",
                file=sys.stderr,
            )
    else:
        print(
            f"# killed {len(targets)} leftover Spark JVM(s) before benching",
            file=sys.stderr,
        )
    return survivors


def _spread_stats(samples: dict[str, list[float]]) -> tuple[float, float, float]:
    """(p50, p90, max) of the per-query best-vs-second-best spread —
    the trust gate's input, shared by the final artifact fields and the
    mid-run retry decision."""
    spread = sorted(
        s2 - s1
        for s in samples.values()
        if len(s) > 1
        for s1, s2 in [sorted(s)[:2]]
    )
    if not spread:
        return 0.0, 0.0, 0.0
    return (
        round(spread[len(spread) // 2], 3),
        round(spread[int(len(spread) * 0.9)], 3),
        round(spread[-1], 3),
    )


def _minima_trusted(samples: dict[str, list[float]]) -> bool:
    """The r7 trust gate: second-best samples must corroborate the
    minima — spread p90 within 0.25 s and no query above 1.0 s."""
    _, p90, mx = _spread_stats(samples)
    return bool(p90 <= 0.25 and mx <= 1.0)


def _failed_tasks_for_group(sc, group: str) -> int:
    """Failed-task count for every job submitted under ``group``, read
    from the status tracker RIGHT AFTER the query runs (the store
    retains only ~1000 recent stages, so a whole-run sweep at the end
    would silently lose early queries). VERDICT r9 "What's wrong" #2:
    the r9 artifact's tail carried an unattributed DAGScheduler stack
    fragment — a recovered task retry with no owner. This counter makes
    a retry attributable: per-query counts land in the artifact, so a
    stack fragment in the tail names its query instead of reading as
    either noise or silence."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        ji = st.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                n += si.numFailedTasks
    return n


def _wait_for_tasks(sc, timeout_s: float = 60.0) -> None:
    """Block until no task runs on any executor, whatever its job group.
    A task still running when the query returns (a killed stage's task
    ends asynchronously) would report to accumulators that the
    ``System.gc()`` after the query lets the ContextCleaner drop; its
    update is then lost with "attempted to access non-existent
    accumulator"."""
    tracker = sc._jsc.sc().statusTracker()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(
        e.numRunningTasks() > 0 for e in tracker.getExecutorInfos()
    ):
        time.sleep(0.01)


def session_size(
    env=os.environ, cpus_available: int | None = None, ram_bytes: int | None = None
) -> tuple[int, str]:
    """(cores, driver heap) of a local session: cores from
    $SPARK_GRAFT_CPUS, else the CPUs this process may run on; the heap is
    half of physical RAM, so it never exceeds the machine."""
    cpus = env.get("SPARK_GRAFT_CPUS") or cpus_available
    if not cpus:
        cpus = len(os.sched_getaffinity(0))
    if ram_bytes is None:
        ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(cpus), f"{max(1, ram_bytes // 2**21)}m"


def start_session(app_name: str):
    """The local session of every contract measurement; returns
    ``(spark, cpus)``."""
    cpus, heap = session_size()
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": heap,
            # progress bars write \r-terminated fragments that can splice
            # into the summary line and break the driver's JSON parse
            # (observed: BENCH_r04.json "parsed": null) — keep stdout clean
            "spark.ui.showConsoleProgress": "false",
            # StatusStore.python_s finds executions by their position in
            # the SQL store: once the store evicts (default 1,000), the
            # Python layer would silently read nothing
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def warm_session(spark, sf_dir: str, cpus: int) -> None:
    """Warm the JVM + file listing so the first query isn't penalized,
    and the Python UDF worker pool (first pandas-UDF use costs ~5 s of
    fork/import that belongs to the session, not to any one query)."""
    entry_mod.queries()["point_lookup"](spark, sf_dir).collect()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(cpus * 4).repartition(cpus).select(_warm("id")).count()


def time_query(spark, fn, sf_dir: str, runs: int, group: str, store=None):
    """One un-timed warm run of ``fn(spark, sf_dir).count()``, then
    ``runs`` timed samples, each split into build (``fn``) and execute
    (``.count()``). Executions run under the job groups ``{group}:warm``
    and ``{group}:{k}``; with a ``StatusStore``, each sample's layers are
    read after its timer stops. Returns ``(samples, rows)``, samples
    being ``(build_s, exec_s, layers or None)`` tuples."""
    sc = spark.sparkContext
    sc.setJobGroup(f"{group}:warm", group)
    fn(spark, sf_dir).count()  # un-timed: warm codegen/JIT
    if store is not None:
        store.python_s()  # the warm run's Python time is not a layer
    samples, rows = [], 0
    for k in range(runs):
        sc.setJobGroup(f"{group}:{k}", group)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.count()  # full execution; count avoids driver skew
        t2 = time.perf_counter()
        layers = None
        if store is not None:
            layers = store.read(f"{group}:{k}")
            layers["python_s"] = store.python_s()
        samples.append((t1 - t0, t2 - t1, layers))
    sc.setJobGroup("", "")
    return samples, rows


def _loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return None


def _parse_args(argv: list[str]):
    """``--only q1,q2`` (or ``--only=q1,q2``) selects queries in contract
    order; an unknown name exits. ``--plans DIR`` writes plans instead of
    timing."""
    import argparse

    p = argparse.ArgumentParser(prog="bench", description=__doc__.splitlines()[0])
    p.add_argument(
        "--only",
        default=None,
        help="comma-separated query names (both --only q1,q2 and --only=q1,q2)",
    )
    p.add_argument("--plans", default=None, metavar="DIR",
                   help="write DIR/<query>.txt plans, no timing")
    a = p.parse_args(argv)
    names = list(entry_mod.queries())
    if a.only is not None:
        only = {x for x in a.only.split(",") if x}
        unknown = sorted(only - set(names))
        if unknown or not only:
            p.error(f"unknown queries: {unknown}" if unknown else "--only names no query")
        names = [n for n in names if n in only]
    a.names = names
    return a


def write_plans(spark, sf_dir: str, names: list[str], outdir: str) -> None:
    """Build each query and write its formatted explain to
    ``outdir/<query>.txt``. Building some queries runs real jobs
    (streaming pipeline, checkpoint probes), so a full sweep takes
    minutes. A before/after pair is two directories, each written by its
    own process; ``plan_id=N`` shifts between runs of the same code after
    a query whose build runs a job, so diff with it masked."""
    qs = entry_mod.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # capture the failure, keep sweeping
            plan = f"ERROR building/explaining {name}: {exc!r}\n"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(f"# wrote {name}.txt", file=sys.stderr)


def measure(
    spark, sf_dir: str, names: list[str], runs: int, passes: int, max_extra: int
) -> dict:
    """Time ``names`` in ``passes`` sweeps (plus up to ``max_extra``
    retries) and return the summary record, ``layers`` included."""
    from perfbench.spans import StatusStore

    store = StatusStore(spark)
    qs = entry_mod.queries()
    # Sampling scheme: `passes` (>=2, default 3) full-suite sweeps,
    # each taking the min of
    # `runs - 1` back-to-back executions (plus one un-timed warm run at
    # the head of each group — generated-code JIT state does NOT
    # survive a full sweep, because Spark's codegen cache is bounded
    # and 80+ distinct plans evict it, so the first execution in any
    # sweep is 2-3× cold).  Why minutes-apart sweeps: this box's
    # OUTSIDE load
    # oscillates with a ~5 min period (shorter than a sweep), and with
    # a single consecutive group every sample of a query can sit in the
    # same wave — observed as 2-5 random per-query "regressions" per
    # artifact, different queries each run, all re-measuring fine solo.
    # Minutes-apart sweeps make a wave survive the min() only if it
    # spans all of them; three sweeps (r8) give every query >=3 samples
    # so the spread fields can price the noise the min() absorbed.
    # A pure pass-interleaved scheme (one execution per
    # pass) was tried and REJECTED: it re-pays the codegen-cold first
    # run in every pass and inflated JIT-heavy queries 2-3×.
    # Trusted-window retry (VERDICT r10 #1): both r10 artifacts shipped
    # `minima_trusted: false` — the round's official number was climate-
    # inflated and the cross-round record fell back to worktree A/Bs.
    # Instead of committing an untrusted artifact, run up to
    # `max_extra` ADDITIONAL
    # minutes-apart sweeps when the spread gate fails after the planned
    # passes: extra samples can only LOWER per-query minima and tighten
    # best-vs-second-best spread, so each retry strictly improves the
    # artifact, and the host's ~5-min load wave usually passes within
    # one extra sweep. If the box never quiets, the artifact still
    # says `minima_trusted: false` (plus how hard it tried) — the gate
    # refuses to LABEL noise as signal, not to report at all (the
    # driver needs its one JSON line every round).
    samples: dict[str, list[float]] = {}
    layers: dict[str, dict] = {}
    task_failures: dict[str, int] = {}
    loadavg_per_pass: list[float] = []
    per_pass = max(1, runs - 1)
    pass_idx, planned = 0, passes
    while pass_idx < planned:
        load = _loadavg()
        if load is not None:
            loadavg_per_pass.append(load)
        for name in names:
            # job groups bench:p{pass}:{query}:{warm|k}: every job this
            # query submits — warm run included — is attributable in the
            # status tracker
            group = f"bench:p{pass_idx}:{name}"
            timed, rows = time_query(
                spark, qs[name], sf_dir, per_pass, group, store
            )
            for build, execute, layer in timed:
                if not samples.get(name) or build + execute < min(samples[name]):
                    layers[name] = {
                        "build_s": round(build, 4),
                        "exec_s": round(execute, 4),
                        **{k: round(v, 4) for k, v in layer.items()},
                    }
                samples.setdefault(name, []).append(build + execute)
            # read failures NOW, before the tracker evicts these stages
            nf = sum(
                _failed_tasks_for_group(spark.sparkContext, f"{group}:{k}")
                for k in ["warm", *range(per_pass)]
            )
            if nf:
                task_failures[name] = task_failures.get(name, 0) + nf
            if pass_idx >= passes - 1:
                print(
                    f"# {name}: {min(samples[name]):.3f}s ({rows} rows)",
                    file=sys.stderr,
                )
            # isolation between queries: drop cached relations and collect
            # garbage so one query's leftovers (cache entries, broadcast
            # blocks, codegen classes) don't turn into GC pauses billed to
            # the NEXT query (measured: multi-second spikes on trivial
            # queries late in the run without this)
            _wait_for_tasks(spark.sparkContext)
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        pass_idx += 1
        if pass_idx >= planned and not _minima_trusted(samples):
            if planned < passes + max_extra:
                p50, p90, mx = _spread_stats(samples)
                print(
                    f"# minima not trusted after {pass_idx} sweeps "
                    f"(spread p90={p90}s max={mx}s) — retrying with an "
                    "extra minutes-apart sweep",
                    file=sys.stderr,
                )
                planned += 1
    if store.python_nodes and not store.python_metric_seen:
        print("# no 'time to run Python workers' SQL metric was exposed",
              file=sys.stderr)
    # Per-query MINIMUM across all samples (>=passes of them): the
    # noise floor. With >=3 minutes-apart samples this is robust to
    # the host's ~5-min load waves — an outside-noise spike must hit
    # every sweep to survive the min(). `value` keeps its historical
    # definition (sum of per-query minima) so the BENCH_r* series
    # stays comparable; `value_minima` names the same total explicitly
    # as the claim-grade noise floor, and `value_median` is the
    # honest typical-run total the noise CAN reach.
    timings = {name: round(min(s), 3) for name, s in samples.items()}
    medians = {
        name: round(sorted(s)[len(s) // 2], 3) for name, s in samples.items()
    }
    # best-vs-second-run spread per query: on a contended box the min()
    # can still be inflated, and the spread is the tell — a query whose
    # second-best is far above its best was racing outside load, so a
    # per-query "regression" vs an earlier artifact is interpretable
    # without re-running. Lives only in the sidecar (full map).
    spread = {
        name: round(sorted(s)[1] - sorted(s)[0], 3)
        for name, s in samples.items()
        if len(s) > 1
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    spread_p50, spread_p90, spread_max = _spread_stats(samples)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "value_minima": total,
        "value_median": round(sum(medians.values()), 3),
        # VERDICT r11 #3: the caveat travels WITH the artifact so no
        # committed record invites a median-to-median comparison
        "median_caveat": (
            "value_median rides the box's load waves (r11: 116.9 vs "
            "96.0 s on byte-identical code, same day); cross-round "
            "comparisons must quote value_minima only — see "
            "tools/bench_diff.py"
        ),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "bench_runs": runs,
        "bench_passes": passes,
        # trusted-window retry accounting (VERDICT r10 #1): passes_run >
        # bench_passes means the gate failed mid-run and extra sweeps
        # were spent hunting a quiet window; the per-pass loadavg series
        # shows the wave the retries were dodging.
        "bench_passes_run": pass_idx,
        "bench_extra_passes": pass_idx - passes,
        "samples_per_query": pass_idx * per_pass,
        "n_queries": len(timings),
        # spread distribution + trust gate (VERDICT r7 #2): a committed
        # minima claim is only quotable when the second-best samples
        # corroborate the minima — p90 within 0.25 s and no query's
        # spread above 1.0 s. Otherwise the artifact says so itself.
        "spread_p50": spread_p50,
        "spread_p90": spread_p90,
        "spread_max": spread_max,
        "minima_trusted": _minima_trusted(samples),
        "loadavg_per_pass": loadavg_per_pass,
    }
    # task retries (VERDICT r9 #2): expected 0 on a quiet host; nonzero
    # names the query whose stack fragment may appear in a captured
    # tail. Streaming queries run their micro-batch jobs on their own
    # threads (job groups are thread-local), so their retries — if any —
    # are not attributed here; batch queries are fully covered.
    out["task_failures"] = sum(task_failures.values())
    if task_failures:
        out["task_failures_by_query"] = task_failures
    out["queries_spread"] = spread
    out["queries_median"] = medians
    if spread:
        out["max_spread_query"] = max(spread, key=spread.get)
        out["max_spread_sec"] = spread[out["max_spread_query"]]
    out["layers"] = layers
    return out


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(sys.argv[1:] if argv is None else argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # runs=N means each sweep times N-1 executions after an un-timed
    # warming run (see the sampling-scheme comment in measure()), so
    # the default 2 costs 2 executions per query per sweep. Raise to 3
    # for tighter minima when wall time is not a concern.
    runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # N minutes-apart sweeps (VERDICT r7 #2): this host injects up to
    # 35% invisible outside noise (seven same-code r7 runs spanned
    # 74.6-101 s with the guest idle), and best-of-2 samples cannot
    # price that. Three sweeps give every query >=3 samples, so the
    # per-query minimum is a reproducible in-artifact noise floor
    # instead of a cross-artifact NOTES claim.
    passes = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    max_extra = max(
        0, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA_PASSES", "2"))
    )

    # contention guard BEFORE our own JVM exists — kill leftovers first
    # (they are always strays from an earlier session in this container)
    leftover = _kill_leftover_jvms()
    loadavg_start = _loadavg()
    if leftover:
        print(
            f"# WARNING: {len(leftover)} other JVM(s) running ({leftover[:5]}…) — "
            "timings will be inflated; rerun on a quiet box",
            file=sys.stderr,
        )

    spark, cpus = start_session("yte-spark-bench")
    if args.plans:
        write_plans(spark, sf_dir, args.names, args.plans)
        spark.stop()
        return
    warm_session(spark, sf_dir, cpus)
    out = measure(spark, sf_dir, args.names, runs, passes, max_extra)
    out["contended"] = bool(leftover)
    out["other_jvms"] = len(leftover)
    # identity of every surviving JVM (pid/ppid/uid/cmdline head) so a
    # contended artifact is adjudicable: "the driver's own runner" is a
    # permanent harness property, a stray is a bug to chase
    out["other_jvm_info"] = [_jvm_info(p) for p in leftover[:5]]
    # External (non-JVM) load inflates timings uniformly and is invisible
    # to the leftover-JVM guard — stamp the pre-run 1-min load average so
    # an inflated artifact is self-documenting (quiet box ≈ 1-2 here).
    if loadavg_start is not None:
        out["loadavg_1m_at_start"] = loadavg_start
    if args.only:
        # a spot check: the full record on stdout, the committed-style
        # sidecar left as it is
        line = json.dumps(out)
    else:
        line = _write_summary(out)
    # …the JSON as the absolute last stdout line: flush both streams,
    # lead with a newline so any unterminated \r fragment can't prefix it.
    sys.stderr.flush()
    sys.stdout.flush()
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()
    spark.stop()


def _write_summary(out: dict) -> str:
    """Write the full record to BENCH_SUMMARY.json and return the compact
    stdout line."""
    # Durable FULL copy first: the complete per-query map lives here; it
    # survives even if stdout is spliced or the process dies mid-print.
    try:
        with open(SUMMARY_PATH, "w") as fh:
            fh.write(json.dumps(out) + "\n")
    except OSError:
        pass
    # The stdout line must stay under a consumer's bounded tail capture
    # (observed: last 2,000 chars) — the full 151-query map is ~4,000
    # chars and can NEVER parse from such a tail. Print a compact line:
    # totals + the slowest queries only, with a pointer to the sidecar.
    compact = dict(out)
    # full-map fields live only in the sidecar — they'd blow the
    # bounded tail capture the compact line exists to fit
    for key in ("queries_spread", "queries_median", "other_jvm_info", "layers"):
        compact.pop(key, None)
    ranked = sorted(out["queries"].items(), key=lambda kv: kv[1], reverse=True)
    # Shrink the slowest-queries map until the line fits the consumer's
    # tail capture — never die (or no-op under -O) on an oversized line:
    # a missing final JSON line is the exact failure this path prevents.
    for keep in range(min(12, len(ranked)), -1, -1):
        compact["queries"] = dict(ranked[:keep])
        compact["queries_truncated_to_slowest"] = keep
        compact["queries_file"] = "BENCH_SUMMARY.json"
        line = json.dumps(compact)
        if len(line) < 1800:
            break
    return line


if __name__ == "__main__":
    main()
