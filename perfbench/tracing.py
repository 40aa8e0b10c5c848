"""Spans around the engine's public calls, Spark job groups, event-log
parsing and host-noise readings.

A disabled :class:`Tracer` costs one context-manager entry per call, so the
untraced run measures the engine and nothing else.  An enabled one tags every
Spark job launched inside a span with the job group ``pb|<layer>|<span id>``;
after the session stops, :func:`parse_event_log` folds the event log's task
metrics into per-group totals, which :func:`group_totals` joins back onto the
spans.  Spans are kept in memory and written once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# RDD scope names of plans that run Python UDFs on the executors: a query
# whose job group launched one was scored by the distributed path
PY_SCOPES = ("InPandas", "InArrow", "EvalPython", "ArrowPython")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent inside span enter/exit

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "layer": layer, "op": op,
               "parent": self._stack[-1]["id"] if self._stack else None}
        rec["group"] = f"pb|{layer}|{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["cpu0"] = time.process_time()
        rec["t0"] = time.perf_counter()
        self.bookkeeping_s += rec["t0"] - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["t1"] = t_out
            rec["cpu1"] = time.process_time()
            self._stack.pop()
            # a top-level span leaves its group set: every Spark call of
            # the run is inside some span, so the next span's entry is the
            # only place the group must change (one JVM call per span)
            if self._stack:
                self._sc.setJobGroup(self._stack[-1]["group"],
                                     self._stack[-1]["name"])
            self.bookkeeping_s += time.perf_counter() - t_out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def parse_event_log(events_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU seconds, input bytes,
    shuffle read/write bytes, and whether any stage ran Python UDFs."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def _g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "cpu_s": 0.0, "input_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "python": False})

    for path in sorted(glob.glob(f"{events_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "unspanned"
                    g = _g(group)
                    g["jobs"] += 1
                    for st in ev["Stage Infos"]:
                        stage_group[st["Stage ID"]] = group
                        for rdd in st["RDD Info"]:
                            if any(s in rdd.get("Scope", "")
                                   for s in PY_SCOPES):
                                g["python"] = True
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = _g(stage_group.get(ev["Stage ID"], "unspanned"))
                    g["tasks"] += 1
                    g["cpu_s"] += m["Executor CPU Time"] / 1e9
                    g["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    sr = m["Shuffle Read Metrics"]
                    g["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                                + sr["Local Bytes Read"])
                    g["shuffle_write_bytes"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
    return groups


def group_totals(spans: list[dict], groups: dict[str, dict]) -> None:
    """Attach each span's own Spark totals (its job group's) in place."""
    empty = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "input_bytes": 0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
             "python": False}
    for rec in spans:
        rec["spark"] = groups.get(rec["group"], empty)


# --- host-noise readings ----------------------------------------------------


def host_load() -> float:
    """1-minute host-wide load average (-1.0 where /proc is unavailable)."""
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks() -> tuple[int, int, int]:
    """Host-wide (busy, steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0, 0
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return total - idle - steal, steal, total


def kernel_control(spark) -> float:
    """PINNED pure-JVM probe (the tokenize-shaped dataflow of
    BENCH/scaling.py's kernel at 1/4 size, in-session): its time measures
    what the host is actually giving this JVM, independent of any engine
    code — round-over-round, a slower control with unchanged plans means
    neighbor steal, not regression.  Do not change the probe's shape or
    size; its only value is comparability across rounds."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, numPartitions=64).select(
        F.col("id"),
        F.concat_ws(" ", F.array_repeat(F.concat(
            F.lit("tokVal"), (F.col("id") % 977).cast("string"),
            F.lit("_suffix kw")), 200)).alias("c"))
    df = df.cache()
    df.count()
    t0 = time.perf_counter()
    (df.select(F.explode(F.split(F.regexp_replace(F.lower(F.regexp_replace(
        F.col("c"), "([a-z0-9])([A-Z])", "$1 $2")), "[0-9_]", " "), " "))
       .alias("t"))
       .filter("t <> ''").groupBy("t").count().count())
    dt = time.perf_counter() - t0
    df.unpersist()
    return dt


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM and its Python workers), plus the descendants they reaped."""
    ticks = os.sysconf("SC_CLK_TCK")
    stats: dict[int, tuple[int, list[str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = (int(f[1]), f)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        f = stats.get(pid, (0, None))[1]
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo += [c for c, (ppid, _) in stats.items() if ppid == pid]
    return total / ticks


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith(".") and not name.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, name))
    return total
