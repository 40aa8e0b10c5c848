#!/usr/bin/env python3
"""Run one benchmark workload of the searchengine_spark engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  The line before it is the run's full
report (every figure of README.md's metric map that the workload produced,
plus host readings and the first failures).  Everything the run writes
stays under ``perfbench/.work/<pid>`` (removed by the next run) and
``perfbench/.results`` (one file per untraced run, read by the traced run of
the same workload and seed to report the tracing overhead).  Exit status 0
only with a result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORK = BENCH / ".work" / str(os.getpid())
RESULTS = BENCH / ".results"

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
"""


def _prepare(trace: bool) -> None:
    """Confine the run to the checkout and make the workers import the
    engine from it.  Must run before pyspark starts the JVM."""
    for old in WORK.parent.glob("*"):   # work dirs of runs that have ended
        if old.name.isdigit() and not _alive(int(old.name)):
            shutil.rmtree(old, ignore_errors=True)
    for sub in ("tmp", "conf", "events", "spark-local"):
        (WORK / sub).mkdir(parents=True)
    RESULTS.mkdir(exist_ok=True)
    conf = [
        f"spark.local.dir {WORK}/spark-local",
        f'spark.driver.extraJavaOptions "-Djava.io.tmpdir={WORK}/tmp" '
        "-XX:-UsePerfData",
        f"spark.sql.warehouse.dir {WORK}/warehouse",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
            f"spark.eventLog.dir file://{WORK}/events",
        ]
    (WORK / "conf" / "spark-defaults.conf").write_text("\n".join(conf) + "\n")
    (WORK / "conf" / "log4j2.properties").write_text(LOG4J)
    os.environ["SPARK_CONF_DIR"] = str(WORK / "conf")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    sys.path.insert(0, str(ROOT))


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()   # the gateway JVM exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except Exception:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 30
        for pid in procs:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)
        for pid in procs:       # reap our own direct children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _finite(x: float) -> float:
    return x if math.isfinite(x) else 1e12


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "searchengine_spark" / "__init__.py").is_file():
        print(f"perfbench: no searchengine_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    trace = bool(args.trace)
    _prepare(trace)

    from concurrent.futures import ThreadPoolExecutor

    from perfbench import tracing
    from perfbench.workloads import (
        Run,
        end_to_end,
        prepare,
        report,
        run_workload,
    )
    from searchengine_spark.session import get_spark

    load0, ticks0 = tracing.host_load(), tracing.cpu_ticks()
    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(prepare, args.workload, args.seed, str(WORK))
        spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
    try:
        rows, oracle = inputs.result()
        tracer = tracing.Tracer(spark, trace)
        run = Run(spark, tracer, str(WORK), args.seed, args.seconds,
                  args.workload)
        host = {}
        run_workload(run, rows, oracle)
        if trace:
            # the pinned probe warms the JVM, so it runs after the workload
            with tracer.span("kernel_control", "host"):
                host["host.kernel_s"] = tracing.kernel_control(spark)
    except Exception:
        traceback.print_exc()
        _shutdown(spark)
        return 1
    _shutdown(spark)
    ticks1 = tracing.cpu_ticks()
    total = max(1, ticks1[2] - ticks0[2])
    host.update({
        "host.load_before": load0, "host.load_after": tracing.host_load(),
        "host.busy_share": (ticks1[0] - ticks0[0]) / total,
        "host.steal_share": (ticks1[1] - ticks0[1]) / total,
    })

    full = report(run)
    full.update(host)
    full["run_wall_s"] = time.perf_counter() - t_start
    e2e = end_to_end(run)
    baseline = RESULTS / f"{args.workload}-{args.seed}.json"
    if trace:
        from perfbench.layers import per_layer

        tracer.write(str(WORK / "spans.jsonl"))
        groups = tracing.parse_event_log(str(WORK / "events"))
        untraced = (json.loads(baseline.read_text())
                    if baseline.exists() else None)
        values = per_layer(run, tracer, groups, e2e, untraced)
        values.update(host)
        full.update(values)
        wanted = spec["per_layer"]
    else:
        baseline.write_text(json.dumps(
            {k: run.values[k] for k in ("build_s", "batch_s")
             if k in run.values}))
        values = e2e
        wanted = spec["end_to_end"]
    full["errors"] = run.errors
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "report": full}, sort_keys=True))
    metrics = {m["name"]: {"value": _finite(float(values[m["name"]])),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
