"""Measurement taken from outside the engine: process CPU and memory
from ``/proc``, timers around each layer module's public functions, and
a reader for Spark's plain-JSON event log.

Nothing here edits the engine.  A layer timer replaces a function object
in every module namespace that holds it (``from x import f`` copies the
reference, so patching only the defining module would miss those calls)
and puts the original back on :meth:`LayerTimers.uninstall`.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from types import ModuleType

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- /proc


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, its launcher and
    the Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree.  Reaped children
    fold into their parent's ``cutime``/``cstime``, so summing all four
    fields over the live tree stays continuous as workers exit."""
    total = 0
    for pid in process_tree(root):
        st = _proc_stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, 0-based 11-14 after comm
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
                    break
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    start_ticks = int(_proc_stat(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


# -------------------------------------------------------------- layer timers


class LayerTimers:
    """Wall-clock spans around the public functions of layer modules.

    ``layers`` maps a layer name to the modules whose public functions
    (defined in that module, name not starting with ``_``) are timed.
    Only the outermost call per layer opens a span, so a public
    function calling another of its own layer is not counted twice.
    Each span records ``(layer, function, start, end, args, result)``
    with epoch-second times, comparable to Spark's event-log clock.
    """

    def __init__(self, layers: dict[str, list[ModuleType]], package: str):
        self.layers = layers
        self.package = package
        self.spans: list[tuple[str, str, float, float, tuple, object]] = []
        self._depth = {layer: 0 for layer in layers}
        self._patched: list[tuple[ModuleType, str, object]] = []

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.time()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                self._depth[layer] -= 1
                self.spans.append((layer, fn.__name__, t0, time.time(), args, result))

        return timed

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for layer, modules in self.layers.items():
            for mod in modules:
                for name, fn in vars(mod).items():
                    if (
                        not name.startswith("_")
                        and callable(fn)
                        and getattr(fn, "__module__", None) == mod.__name__
                        and not isinstance(fn, type)
                    ):
                        wrappers[id(fn)] = (fn, self._wrap(layer, fn))
        for mod in list(sys.modules.values()):
            if mod is None or not mod.__name__.startswith(self.package):
                continue
            for name, value in list(vars(mod).items()):
                hit = wrappers.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, value))

    def uninstall(self) -> None:
        for mod, name, value in reversed(self._patched):
            setattr(mod, name, value)
        self._patched.clear()

    def between(self, layer: str, t0: float, t1: float) -> list[tuple]:
        return [s for s in self.spans if s[0] == layer and t0 <= s[2] <= t1]


# ----------------------------------------------------------------- event log


def read_event_log(path: str) -> dict:
    """Jobs, completed stages, tasks and SQL executions from one
    uncompressed, non-rolling Spark event log.  Times are epoch seconds;
    skipped stages never complete, so they are not counted."""
    jobs: dict[int, dict] = {}
    completed: set[int] = set()
    tasks: list[dict] = []
    sql: dict[int, list[float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t": ev["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "deser_s": m.get("Executor Deserialize Time", 0) / 1000.0,
                        "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql.setdefault(ev["executionId"], [0.0, 0.0])[0] = ev["time"] / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                sql.setdefault(ev["executionId"], [0.0, 0.0])[1] = ev["time"] / 1000.0
    return {
        "jobs": jobs,
        "completed_stages": completed,
        "tasks": tasks,
        "sql": [(a, b) for a, b in sql.values() if a and b],
    }


def covered_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def jobs_between(log: dict, t0: float, t1: float, group: str | None = None) -> list[int]:
    """Jobs submitted inside ``[t0, t1]`` or tagged with ``group``.  The
    client runs one op at a time, so the window identifies an op's jobs,
    including those a streaming query submits under its own group."""
    return [
        j
        for j, info in log["jobs"].items()
        if t0 <= info["t"] <= t1 or (group is not None and info["group"] == group)
    ]
