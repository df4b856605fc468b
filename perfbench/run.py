"""Layered benchmark for the engine.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 1 --trace 0

Runs one workload from this single process on ``local[nproc]`` and
prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it list the
same metrics by name with their units. ``BENCHMARK.json`` at the
repository root names the metrics each kind of run reports.

An untraced run (``--trace 0``) measures the end-to-end metrics in CPU
seconds, user plus system, of this process and every process under it
(the JVM, its launcher and the Python workers):

- ``cpu_s``: the first pass over the workload, in the session that
  launches the JVM, every output fully materialized and every engine
  memo empty, as a scheduled run pays.
- ``setup_s``: the start of that session (``session.get_spark``,
  which launches the JVM) plus one small warm-up job, once per run
  just before the pass.

CPU time rather than wall time, because on a machine shared with other
tenants the wall time of the same pass swings by up to a factor of two
with their load, while the CPU time the pass needs moves far less. The
wall times are logged on standard error, and a traced run reports them.

Each run measures that one pass whatever ``--seconds`` says; the pass
takes longer than the ``run_seconds`` that ``BENCHMARK.json`` sets.

A traced run (``--trace 1``) makes the same first pass with spans
around the calls into each layer, py4j counting and an uncompressed
Spark event log, and prints the per-layer metrics. A traced pass
between two untraced ones, in fresh sessions of the warm JVM, then
gives ``trace.overhead_s``.

Outputs are checked after the timed pass; a failed or wrong query or
tick counts in ``failed``. Everything the run writes stays under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``; put the engine package on the path."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def start_session(app: str, event_log: str | None = None):
    """A session from ``session.get_spark`` plus one small warm-up job;
    returns it with the start and warm-up wall times and the CPU time
    of both."""
    from etl_geonet_quakes_spark.session import get_spark

    conf = {
        # the driver JVM writes only under TMPDIR, and no hsperfdata file
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        # the session builder keeps options between sessions: say it each time
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update({"spark.eventLog.compress": "false", "spark.eventLog.dir": event_log})
    n = cores()
    c0, t0 = cpu_s(), time.perf_counter()
    spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(64).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1, cpu_s() - c0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor has given to other guests, all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and
    every process under it (the JVM, its launcher and Python workers):
    live ones from /proc, ended ones through the reaped-children counts
    of their parents."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="latin-1") as fh:
                stat = fh.read()
        except OSError:
            continue  # ended while we looked
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLK_TCK


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    return (vm_hwm_kb("self") + vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024.0


def shutdown() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def timed(fn, *args) -> tuple[float, float]:
    """Wall and CPU seconds of one call."""
    c0, t0 = cpu_s(), time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0, cpu_s() - c0


def traced_pass(wl, label: str, work: str):
    """One pass in a fresh session with an event log, spans around the
    calls into each layer and py4j counting. Returns the live session,
    its start and warm-up times, the pass wall time from a timer of its
    own, the recorder and the event-log directory."""
    from spans import Recorder, count_py4j

    event_log = os.path.join(work, f"eventlog-{label}")
    os.makedirs(event_log)
    rec = Recorder()
    undo = [count_py4j(rec)] + wl.trace_hooks(rec)
    try:
        spark, start_s, warm_s, _ = start_session(f"perfbench-{label}", event_log)
        t0 = time.perf_counter()
        with rec.span("pass"):
            wl.run_pass(spark, label, rec)
        wall = time.perf_counter() - t0
    finally:
        for fn in undo:
            fn()
    return spark, start_s, warm_s, wall, rec, event_log


def reconcile(rec, wall: float) -> None:
    """Log the pass's self time per span name, the share of the pass
    each takes, and how far their sum is from the pass wall time taken
    by a separate timer (tolerance: 1%)."""
    by_name: dict[str, float] = {}
    for i in [0] + rec.descendants(0):
        name = rec.spans[i].name
        by_name[name] = by_name.get(name, 0.0) + rec.self_time(i)
    err = abs(sum(by_name.values()) - wall) / wall
    shares = ", ".join(f"{n} {t:.3f}s ({t / wall:.1%})" for n, t in sorted(by_name.items()))
    log(f"self time: {shares}; sum off the pass wall by {err:.2%}")
    if err > 0.01:
        log("WARNING: layer self times miss the pass wall time by more than 1%")


def measure(args, work: str):
    import workloads
    from spans import EventLog

    wl = workloads.make(args.workload, args.seed, work)
    log("inputs ready")
    # The first pass runs in the session that launches the JVM: nothing
    # but the set-up's warm-up job has run in the JVM, and no engine memo
    # is filled, as in a scheduled run.
    if args.trace:
        spark, start_s, warm_s, wall, rec, event_log = traced_pass(wl, "first", work)
    else:
        stolen = steal_s()
        spark, start_s, warm_s, setup_cpu = start_session("perfbench-first")
        wall, pass_cpu = timed(wl.run_pass, spark, "first", None)
        log(f"set-up {setup_cpu:.2f} CPU s, first pass {pass_cpu:.2f} CPU s; "
            f"{steal_s() - stolen:.2f} s stolen by the hypervisor")
    log(f"JVM launched in {start_s:.2f}s, warm-up {warm_s:.2f}s; first pass {wall:.2f}s {wl.times}")
    spark.sparkContext.setJobGroup("check", "output check")
    attempted, failed, reasons = wl.check()
    spark.stop()
    log("checked")
    if not args.trace:
        return {"setup_s": setup_cpu, "cpu_s": pass_cpu}, attempted, failed, reasons

    reconcile(rec, wall)
    metrics = wl.layer_metrics(rec, EventLog.read(event_log), "first", cores())
    metrics["mem.peak_rss_mb"] = peak_rss_mb()
    # Tracing overhead: a traced pass between two untraced ones, each in
    # a fresh session of the warm JVM; the mean of the untraced passes
    # cancels the JVM's warming from pass to pass.
    untraced = []
    for label in ("untraced-0", "retraced", "untraced-1"):
        if label == "retraced":
            spark, _, _, retraced, _, _ = traced_pass(wl, label, work)
        else:
            spark, _, _, _ = start_session(f"perfbench-{label}")
            untraced.append(timed(wl.run_pass, spark, label, None)[0])
        spark.stop()

    metrics.update({
        "pass.wall_s": wall,
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "trace.overhead_s": retraced - statistics.fmean(untraced),
        "trace.harness_s": sum(
            rec.self_time(i) for i in [0] + rec.descendants(0)
            if rec.spans[i].name in ("pass", "query")
        ),
    })
    return metrics, attempted, failed, reasons


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        measured, attempted, failed, reasons = measure(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
        log("stopped")
    # Every metric BENCHMARK.json lists for this kind of run; a layer the
    # workload does not exercise reads 0.
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    unlisted = set(measured) - set(units)
    if unlisted:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unlisted)}")
    metrics = {name: measured.get(name, 0) for name in units}
    for r in reasons:
        print(f"output check failed: {r}", file=sys.stderr)
    for name, value in metrics.items():
        print(f"{name:32s} {value:>16.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
