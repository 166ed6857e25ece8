"""Spans around layer calls, Spark event-log roll-ups and /proc readings.

A span is ``(name, start, end, parent)``; entering one also makes it the
Spark job group of the calling thread, so every Spark job a layer call
starts is tagged with that layer. Once Spark's event logger has stopped, its
log is read back and task metrics are summed per job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

LAYER_FIELDS = (
    ("wall_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("input_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("spark_jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
)
_MB = 1024.0 * 1024.0


class Tracer:
    """Keeps spans in memory; ``span`` also sets the Spark job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{name}#{len(self.spans)}"
        rec = {"id": sid, "name": name, "parent": (self._stack or [None])[-1],
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1] if self._stack else None)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Sum task metrics per job group over every application log under
    ``log_dir`` (uncompressed, not rolled). Returns ``{group: totals}``."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}

    def tot(g: str) -> dict:
        return totals.setdefault(g, dict.fromkeys(
            ("cpu_ns", "gc_ms", "input_b", "shuffle_b", "spill_b", "jobs",
             "stages", "tasks", "failed"), 0))

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[ev["Job ID"]] = g
                    tot(g)["jobs"] += 1
                    for st in ev["Stage IDs"]:
                        stage_group.setdefault(st, g)
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        tot(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    t = tot(g)
                    t["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        t["failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    t["input_b"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    t["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                    t["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    return totals


def layer_metrics(tracer: Tracer, totals: dict[str, dict],
                  layer: str) -> dict[str, float]:
    """The nine per-layer figures of ``layer``: span wall time plus task
    metrics of every job group opened under that name (nested spans count
    toward their own layer only)."""
    groups = [s["id"] for s in tracer.spans if s["name"] == layer]
    agg = dict.fromkeys(("cpu_ns", "gc_ms", "input_b", "shuffle_b",
                         "spill_b", "jobs", "tasks", "failed"), 0)
    for g in groups:
        for k in agg:
            agg[k] += totals.get(g, {}).get(k, 0)
    return {
        "wall_s": sum(tracer.walls(layer)),
        "task_cpu_s": agg["cpu_ns"] / 1e9,
        "gc_s": agg["gc_ms"] / 1e3,
        "input_mb": agg["input_b"] / _MB,
        "shuffle_write_mb": agg["shuffle_b"] / _MB,
        "spill_mb": agg["spill_b"] / _MB,
        "spark_jobs": agg["jobs"],
        "tasks": agg["tasks"],
        "failed_tasks": agg["failed"],
    }


# ------------------------------------------------------------------ /proc

def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: memory shared between forked Python
    workers (and with their daemon) is split between them, not counted
    once per process as resident size would be."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class MemorySampler:
    """Peak summed PSS of this process's descendants (the driver JVM and
    the Python UDF workers it forks), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_mb(descendants(me)))
            self._stop.wait(self.period)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class ProcessClock:
    """Seconds since this process started, so interpreter start-up and
    imports count: the start offset is read from /proc once (clock-tick
    resolution) and ``perf_counter`` measures from there."""

    def __init__(self) -> None:
        with open("/proc/self/stat") as fh:
            stat = fh.read()
        start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        self._base = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        self._t0 = time.perf_counter()

    def age(self) -> float:
        return self._base + time.perf_counter() - self._t0
