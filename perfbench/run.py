#!/usr/bin/env python3
"""Run one benchmark workload with one seed and print its metrics.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 12 --trace 0

Run from the repository root.  One client process drives a Spark
session on ``local[N]`` (N = min(4, usable cores)) in a closed loop:
each op starts when the previous one ends.  An op order is a seeded
shuffle of the workload's op list (one pass); the timed window runs
``round(--seconds / PASS_S)`` passes (at least one; ``PASS_S`` is the
workload's typical pass length), so every run of a workload times the
same op mix.

Set-up (session start, input staging, one warm pass that also builds
the derived caches) is reported as ``setup_s``.  Op results are checked
after the window.  With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` the session writes a plain-JSON
event log and layer timers wrap the engine's public functions, and the
line carries the per-layer metrics instead.  Diagnostics, the noise
evidence and the per-op log go to stderr and to
``.bench_build/perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = min(4, len(os.sched_getaffinity(0)))
PACKAGE = "data_ingest_utils_spark"
#: JVM heap cap.  sf0.1 needs far less; a fixed cap keeps peak memory
#: from tracking the host's RAM and GC timing.
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ("analytics_mix", "ingest_stream")

END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "cpu_ms_per_krow": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "spark.outside_sql_s": "s",
    "spark.sql_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.slot_util": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.deser_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "readers.read_s": "s",
    "pipeline.build_s": "s",
    "ingest.keep_ratio": "ratio",
    "writers.write_s": "s",
    "writers.files": "count",
    "writers.mb": "MB",
    "writers.out_bytes_per_in_byte": "ratio",
    "dedup.call_s": "s",
    "dedup.jobs": "count",
    "similarity.call_s": "s",
    "similarity.jobs": "count",
    "stream.drain_s": "s",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_commit_ms": "ms",
    "stream.late_dropped": "count",
    "trace.op_p50_s": "s",
    "trace.rows_per_s": "1/s",
}


@dataclass
class Record:
    op: object
    seq: int
    t0: float
    t1: float
    wall: float
    build_s: float | None
    result: object
    error: str | None


@dataclass
class Window:
    records: list[Record]
    seconds: float
    cpu_s: float
    noise: dict
    last_seq: int


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs, n: int) -> float:
    return float(sum(xs)) / n if n else 0.0


def isolate(run_dir: str) -> dict[str, str]:
    """Point every place Spark and the engine write to inside the run
    directory, so derived caches start cold and nothing leaves the
    checkout.  Returns the static session confs that go with it."""
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ["TZ"] = "UTC"  # collected timestamps convert in the session's zone
    time.tzset()
    # Python workers unpickle engine functions, so they import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_confs(run_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def run_op(spark, op, seq: int) -> Record:
    spark.sparkContext.setJobGroup(f"op{seq}", op.name)
    t0, p0 = time.time(), time.perf_counter()
    try:
        result, build_s = op.run(seq)
        error = None
    except Exception as e:  # an op that fails is counted, not fatal
        result, build_s, error = None, None, f"{type(e).__name__}: {e}".splitlines()[0][:300]
    wall = time.perf_counter() - p0
    return Record(op, seq, t0, time.time(), wall, build_s, result, error)


def timed_window(
    spark, wl, control, seconds: float, rng: random.Random, seq: int, root_pid: int
) -> Window:
    """Whole seeded passes for about ``seconds``, bracketed by the
    control op and the host-steal counter of ``bench.py``'s noise gate.
    The pass count comes from the workload's nominal pass length, not
    from the clock, so host noise never changes the op mix."""
    import bench
    from probes import tree_cpu_s

    jiff0 = bench._cpu_jiffies()
    control_first = run_op(spark, control, 0).wall
    cpu0 = tree_cpu_s(root_pid)
    records: list[Record] = []
    p0 = time.perf_counter()
    for _ in range(max(1, round(seconds / wl.PASS_S))):
        for op in rng.sample(wl.ops, len(wl.ops)):
            seq += 1
            records.append(run_op(spark, op, seq))
    window_s = time.perf_counter() - p0
    cpu_s = tree_cpu_s(root_pid) - cpu0
    control_last = run_op(spark, control, 0).wall
    jiff1 = bench._cpu_jiffies()
    steal = None
    if jiff0 and jiff1:
        steal = round(100.0 * (jiff1[0] - jiff0[0]) / max(1, jiff1[1] - jiff0[1]), 3)
    noise = {
        "control": bench.CONTROL,
        "control_first_s": round(control_first, 4),
        "control_last_s": round(control_last, 4),
        "steal_pct": steal,
    }
    noise["accepted"] = bench._window_accepted(noise)
    return Window(records, window_s, cpu_s, noise, seq)


def end_to_end(records, window_s: float, cpu_s: float, setup_s: float, rss_mb: float) -> dict:
    walls = [r.wall for r in records]
    rows = sum(r.op.rows_in for r in records)
    p90 = statistics.quantiles(walls, n=10, method="inclusive")[-1] if len(walls) > 1 else walls[0]
    return {
        "setup_s": setup_s,
        "rows_per_s": rows / window_s,
        "op_p50_s": _median(walls),
        "op_p90_s": p90,
        "cpu_ms_per_krow": cpu_s * 1000.0 / max(rows / 1000.0, 1e-9),
        "peak_rss_mb": rss_mb,
    }


def per_layer(records, window_s: float, session: dict, timers, elog: dict, outputs) -> dict:
    """Per-layer metrics of one traced window (see README.md)."""
    from probes import covered_s, jobs_between

    n = len(records)
    e2e = end_to_end(records, window_s, 0.0, 0.0, 0.0)
    out = {
        "session.start_s": session["start_s"],
        "session.warm_s": session["warm_s"],
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.rows_per_s": e2e["rows_per_s"],
    }
    built = [r for r in records if r.build_s is not None]
    out["plans.build_s"] = _median([r.build_s for r in built])

    op_jobs = {r.seq: jobs_between(elog, r.t0, r.t1, f"op{r.seq}") for r in records}
    jobs = elog["jobs"]
    out["plans.eager_jobs"] = _mean(
        [sum(1 for j in op_jobs[r.seq] if jobs[j]["t"] <= r.t0 + r.build_s) for r in built],
        len(built),
    )
    sql_s = [covered_s(elog["sql"], r.t0, r.t1) for r in records]
    out["spark.sql_s"] = _median(sql_s)
    out["spark.outside_sql_s"] = _median([r.t1 - r.t0 - s for r, s in zip(records, sql_s)])
    all_jobs = [j for js in op_jobs.values() for j in js]
    stages = {s for j in all_jobs for s in jobs[j]["stages"]} & elog["completed_stages"]
    tasks = [t for t in elog["tasks"] if t["stage"] in stages]
    out["spark.jobs"] = _mean([len(js) for js in op_jobs.values()], n)
    out["spark.stages"] = len(stages) / n
    out["spark.tasks"] = len(tasks) / n
    run_s = sum(t["run_s"] for t in tasks)
    out["spark.slot_util"] = run_s / (window_s * SLOTS)
    for key, field, scale in (
        ("spark.task_run_s", "run_s", 1.0),
        ("spark.task_cpu_s", "cpu_s", 1.0),
        ("spark.gc_s", "gc_s", 1.0),
        ("spark.deser_s", "deser_s", 1.0),
        ("spark.shuffle_read_mb", "shuffle_read_b", 1 / 2**20),
        ("spark.shuffle_write_mb", "shuffle_write_b", 1 / 2**20),
        ("spark.spill_mb", "spill_b", 1 / 2**20),
    ):
        out[key] = sum(t[field] for t in tasks) * scale / n

    def span_s(layer: str, fn: str | None = None) -> float:
        return sum(
            s[3] - s[2]
            for r in records
            for s in timers.between(layer, r.t0, r.t1)
            if fn is None or s[1] == fn
        )

    def span_jobs(layer: str) -> int:
        return sum(
            1
            for r in records
            for s in timers.between(layer, r.t0, r.t1)
            for j in op_jobs[r.seq]
            if s[2] <= jobs[j]["t"] <= s[3]
        )

    out["readers.read_s"] = span_s("readers") / n
    out["pipeline.build_s"] = span_s("pipeline") / n
    out["writers.write_s"] = span_s("writers", "write_partitioned") / n
    for layer in ("dedup", "similarity"):
        out[f"{layer}.call_s"] = span_s(layer) / n
        out[f"{layer}.jobs"] = span_jobs(layer) / n

    loads = [(r, o) for r in records
             if outputs and r.error is None and (o := outputs(r.op, r.result)) is not None]
    out["writers.files"] = _mean([o[0] for _, o in loads], len(loads))
    out["writers.mb"] = _mean([o[1] / 2**20 for _, o in loads], len(loads))
    in_bytes = sum(r.op.bytes_in for r, _ in loads)
    out["writers.out_bytes_per_in_byte"] = sum(o[1] for _, o in loads) / in_bytes if in_bytes else 0.0
    in_rows = sum(r.op.rows_in for r, _ in loads)
    out["ingest.keep_ratio"] = sum(o[2] for _, o in loads) / in_rows if in_rows else 0.0

    drains = [
        (s[3] - s[2], s[5] or [])
        for r in records
        for s in timers.between("stream", r.t0, r.t1)
        if s[1] == "run_available_now"
    ]
    batches = [p for _, prog in drains for p in prog]

    def state(p: dict, field: str) -> int:
        return sum(so.get(field, 0) for so in p.get("stateOperators", []))

    out["stream.drain_s"] = _median([d for d, _ in drains])
    out["stream.batches"] = _mean([len(prog) for _, prog in drains], len(drains))
    out["stream.batch_p50_ms"] = _median([p["durationMs"].get("triggerExecution", 0) for p in batches])
    out["stream.add_batch_ms"] = _median([p["durationMs"].get("addBatch", 0) for p in batches])
    out["stream.wal_commit_ms"] = _median([p["durationMs"].get("walCommit", 0) for p in batches])
    out["stream.state_commit_ms"] = _median([state(p, "commitTimeMs") for p in batches])
    out["stream.state_rows"] = _mean(
        [state(prog[-1], "numRowsTotal") for _, prog in drains if prog], len(drains)
    )
    out["stream.late_dropped"] = _mean(
        [sum(state(p, "numRowsDroppedByWatermark") for p in prog) for _, prog in drains],
        len(drains),
    )
    return out


def result_line(metrics: dict, units: dict, attempted: int, failed: int) -> str:
    """The run's verdict: the last line of stdout."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def jvm_pid() -> int:
    """The driver JVM: ``spark-submit`` execs into it."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its workers to end."""
    from pyspark import SparkContext

    from probes import process_tree

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while (left := [p for p in process_tree(os.getpid()) if p != os.getpid()]) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"needs the {PACKAGE} package in {ROOT}")
        return 2
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    # before any engine import: the engine reads its scratch path at import
    confs = isolate(run_dir)
    if args.trace:
        confs.update(event_log_confs(run_dir))
    sys.path.insert(0, ROOT)
    try:
        from workloads import SF_DIR

        from data_ingest_utils_spark.session import get_session

        if not os.path.isdir(SF_DIR):
            log(f"needs the sf0.1 fixture tables in {SF_DIR}")
            return 2
        p0 = time.perf_counter()
        spark = get_session("perfbench", master=f"local[{SLOTS}]", extra_confs=confs)
        start_s = time.perf_counter() - p0
        try:
            return measure(args, spark, random.Random(args.seed), run_dir, start_s)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spark, rng, run_dir, start_s) -> int:
    import bench
    import probes
    from workloads import WORKLOADS, Op, _registry_op, _table_rows

    from data_ingest_utils_spark import pipeline
    from data_ingest_utils_spark.operators import dedup, similarity
    from data_ingest_utils_spark.plans import QUERIES
    from data_ingest_utils_spark.sources import readers, writers
    from data_ingest_utils_spark.streaming import runner

    root_pid = os.getpid()
    wl = WORKLOADS[args.workload](spark, run_dir, rng)
    control = Op(bench.CONTROL, _registry_op(spark, QUERIES, bench.CONTROL))

    p0 = time.perf_counter()
    wl.stage()
    stage_s = time.perf_counter() - p0
    p0 = time.perf_counter()
    # Warm pass: JIT, codegen, file listings and the derived caches.  It
    # also learns each registry op's input rows from the tables it loads.
    loads = probes.LayerTimers({"readers": [readers]}, PACKAGE)
    loads.install()
    try:
        seq = 0
        warm_walls = {}
        for op in [control, *wl.ops]:
            seq += 1
            rec = run_op(spark, op, seq)
            warm_walls[op.name] = round(rec.wall, 3)
            if rec.error:
                log(f"warm op {op.name} failed: {rec.error}")
            if not op.rows_in:
                tables = {s[4][2] for s in loads.between("readers", rec.t0, rec.t1)
                          if s[1] == "load_table"}
                op.rows_in = sum(_table_rows(t) for t in tables)
    finally:
        loads.uninstall()
    warm_s = time.perf_counter() - p0
    setup_s = probes.process_age_s()
    log(f"setup {setup_s:.2f}s: session {start_s:.2f}s, staging {stage_s:.2f}s, "
        f"warm pass {warm_s:.2f}s")

    timers = None
    if args.trace:
        timers = probes.LayerTimers(
            {
                "readers": [readers],
                "pipeline": [pipeline],
                "writers": [writers],
                "dedup": [dedup],
                "similarity": [similarity],
                "stream": [runner],
            },
            PACKAGE,
        )
        timers.install()
    try:
        windows = [timed_window(spark, wl, control, args.seconds, rng, seq, root_pid)]
        if not windows[0].noise["accepted"]:
            # bench.py's rule: measure a window that fails the gate once
            # more, and keep the first accepted or else the least-robbed
            log(f"window failed the steal/control gate, measuring again: {windows[0].noise}")
            windows.append(
                timed_window(spark, wl, control, args.seconds, rng, windows[0].last_seq, root_pid)
            )
        win = min(windows, key=lambda w: (not w.noise["accepted"], w.noise["steal_pct"] or 0.0))
        records, window_s, cpu_s, noise = win.records, win.seconds, win.cpu_s, win.noise
        rss_mb = probes.peak_rss_mb([root_pid, jvm_pid()])
    finally:
        if timers:
            timers.uninstall()
    if not noise["accepted"]:
        log(f"NOISY window kept (no window passed the gate): {noise}")

    p0 = time.perf_counter()
    failed = 0
    for r in records:
        reason = r.error or wl.check(r.op, r.result)
        if reason:
            failed += 1
            log(f"FAIL op {r.seq} {r.op.name}: {reason}")
    log(f"checked {len(records)} op results in {time.perf_counter() - p0:.2f}s")

    if args.trace:
        # only after stop is the event log complete
        stop_spark(spark)
        files = os.listdir(os.path.join(run_dir, "eventlog"))
        elog = probes.read_event_log(os.path.join(run_dir, "eventlog", files[0]))
        metrics = per_layer(
            records, window_s, {"start_s": start_s, "warm_s": warm_s}, timers, elog,
            getattr(wl, "outputs", None),
        )
        units = PER_LAYER_UNITS
    else:
        metrics = end_to_end(records, window_s, cpu_s, setup_s, rss_mb)
        units = END_TO_END_UNITS

    walls = sorted(r.wall for r in records)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "slots": SLOTS,
        "ops": len(records),
        "window_s": window_s,
        "warm_walls": warm_walls,
        "noise": noise,
        "windows": [w.noise for w in windows],
        "op_walls": {f"{r.seq}:{r.op.name}": round(r.wall, 4) for r in records},
        "metrics": metrics,
    }
    runs = os.path.join(os.path.dirname(run_dir), "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(summary, f, indent=1)
    log(f"{len(records)} ops (the op_p90_s sample count) in {window_s:.2f}s; "
        f"op walls {walls[0]:.3f}..{walls[-1]:.3f}s; "
        f"noise accepted={noise['accepted']} steal={noise['steal_pct']}%")
    print(result_line(metrics, units, len(records), failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
