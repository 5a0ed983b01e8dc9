"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The session comes from
``session.get_spark`` on ``local[<cpus>]``; all scratch data lives under
``.bench_work/`` in the checkout and is removed when the run ends; traced
runs leave their spans in ``.bench_out/``. The last line of stdout is the
result: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics untraced and the per-layer metrics traced.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "binance_futures_data_lake_spark"
SETUP_BUILDS = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = str(tmp)


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this driver process's own."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """(parent pid, CPU ticks incl. reaped children) of every live process."""
    parent, times = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        parent[int(d)] = int(fields[1])
        times[int(d)] = sum(int(x) for x in fields[11:15])
    return parent, times


def tree(root_pid: int, parent: dict[int, int]) -> list[int]:
    """``root_pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root_pid``
    and every process below it: the JVM and its Python workers."""
    parent, times = proc_table()
    return sum(times.get(p, 0) for p in tree(root_pid, parent)) / os.sysconf("SC_CLK_TCK")


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process below this one
    (the JVM's Python workers), and wait until each has ended: a process
    left behind would serve, or slow, the next run."""
    from pyspark import SparkContext

    me = os.getpid()
    below = set(tree(me, proc_table()[0])) - {me}
    try:
        if spark is not None:
            spark.stop()
    finally:
        below |= set(tree(me, proc_table()[0])) - {me}
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:  # the JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 10
        while any(alive(p) for p in below) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in below:
            if alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        deadline = time.monotonic() + 10
        while any(alive(p) for p in below) and time.monotonic() < deadline:
            time.sleep(0.05)


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def measure(w, seconds: float) -> dict:
    """Closed loop, one client: whole rounds of operations until ``seconds``
    passed and at least ``w.min_rounds`` rounds ran. Each operation's output
    is checked after it, outside its timing.

    Each operation is timed three ways: wall time; wall time net of
    hypervisor steal (the per-CPU average of the CPU time stolen while it
    ran is subtracted); and CPU seconds of the driver, the JVM and its
    Python workers. On a shared host a noisy neighbour slows every core for
    minutes at a time, through stolen time and shared caches, and both wall
    times move with it by more than the CPU time does.
    """
    ncpu = len(os.sched_getaffinity(0))
    wall: dict[str, list[float]] = {k: [] for k in w.kinds}
    net: dict[str, list[float]] = {k: [] for k in w.kinds}
    cpu: dict[str, list[float]] = {k: [] for k in w.kinds}
    attempted = failed = rounds = 0
    t_start, steal_start = time.perf_counter(), steal_s()
    while rounds < w.min_rounds or time.perf_counter() - t_start < seconds:
        for kind in w.order(rounds):
            attempted += 1
            try:
                c, s, t = tree_cpu_s(os.getpid()), steal_s(), time.perf_counter()
                w.op(kind, attempted - 1)
                dt = time.perf_counter() - t
                wall[kind].append(dt)
                net[kind].append(dt - (steal_s() - s) / ncpu)
                cpu[kind].append(tree_cpu_s(os.getpid()) - c)
                w.check(kind)
            except Exception:  # a failed operation is counted, the run goes on
                failed += 1
                traceback.print_exc()
        rounds += 1
    elapsed = time.perf_counter() - t_start

    def per_round(samples: dict[str, list[float]]) -> float:
        return sum(median(v) for v in samples.values() if v)

    round_cpu_s = per_round(cpu)
    return {
        "attempted": attempted, "failed": failed, "rounds": rounds, "elapsed_s": elapsed,
        "round_s": per_round(net), "round_wall_s": per_round(wall), "round_cpu_s": round_cpu_s,
        "work_per_cpu_s": w.units() / round_cpu_s if round_cpu_s else 0.0,
        "steal_share": (steal_s() - steal_start) / (elapsed * ncpu),
        "samples": {k: [[round(x, 3) for x in op] for op in zip(wall[k], net[k], cpu[k])]
                    for k in w.kinds},
    }


def layer_metrics(w, spans: list[dict], session_s: float, res: dict, tracer) -> dict:
    """Per-layer numbers of a traced run; 0.0 for a layer the workload
    does not call."""
    from tracing import per_op
    from workloads import CORPUS

    def counted(key: str) -> float:
        vals = w.counts.get(key, [])
        return float(median(vals)) if vals else 0.0

    n_symbols = len(getattr(w, "SYMBOLS", ())) or 1
    measured = [s for s in spans if s["op"] is not None and s["op"] >= 0]
    rounds = max(res["rounds"], 1)
    m = {
        "session.start_s": session_s,
        "memory.peak_rss_mb": peak_rss_mb(w.spark),
        "poll.page_s": per_op(spans, "poll.page", "self_s") / n_symbols,
        "poll.jobs_per_page": per_op(spans, "poll.page", "jobs") / n_symbols,
        "lake.compact_s": per_op(spans, "lake.compact", "self_s"),
        "lake.compact_jobs": per_op(spans, "lake.compact", "jobs"),
        "lake.bytes_rewritten": counted("lake.bytes_rewritten"),
        "lake.files_written": counted("lake.files_written"),
        "lake.write_amp": counted("lake.write_amp"),
        "resample.aggregate_s": per_op(spans, "resample.aggregate", "self_s"),
        "resample.shuffle_bytes": per_op(spans, "resample.aggregate", "shuffle_bytes"),
        "maintenance.audit_s": per_op(spans, "maintenance.audit", "self_s"),
        "maintenance.audit_jobs": per_op(spans, "maintenance.audit", "jobs"),
        "driver_queries.build_s": per_op(spans, "driver_queries.build", "self_s"),
        "driver_queries.force_s": per_op(spans, "driver_queries.force", "self_s"),
        "driver_queries.jobs_per_query": per_op(spans, CORPUS.values(), "jobs", inclusive=True),
    }
    for q in CORPUS.values():
        m[f"{q}_s"] = per_op(spans, q, "dur_s")
        for field in ("join_rows_out", "shuffle_bytes", "py_bytes", "spill_bytes"):
            m[f"{q}.{field}"] = per_op(spans, q, field, inclusive=True)
    m.update({
        "spark.jobs_per_round": sum(s["jobs"] for s in measured) / rounds,
        "spark.tasks_per_round": sum(s["tasks"] for s in measured) / rounds,
        "spark.failed_tasks": float(sum(s["failed_tasks"] for s in measured)),
        "spark.conf_leaks_per_round": sum(bool(s["conf_changed"]) for s in measured) / rounds,
        "trace.round_s": res["round_s"],
        "trace.overhead_s": tracer.overhead_s / rounds,
    })
    return m


def declared() -> dict[str, dict[str, str]]:
    """Metric name -> unit, for the end-to-end and per-layer metrics that
    BENCHMARK.json declares."""
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    return {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}


def report(values: dict[str, float], units: dict[str, str]) -> dict:
    """The declared metrics, each with its unit; a missing or undeclared
    metric is an error of the benchmark itself."""
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(values) ^ set(units)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_dir():
        print(f"no engine package at {PACKAGE}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    units = declared()
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work)
    from binance_futures_data_lake_spark.session import get_spark
    from tracing import Tracer

    # a SIGTERM ends the run through the ``finally`` below, which stops
    # every process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, bool(args.trace))
        w = WORKLOADS[args.workload](spark, tracer, str(work), args.seed)
        builds = []
        for i in range(SETUP_BUILDS):
            t = time.perf_counter()
            w.build(i)
            builds.append(time.perf_counter() - t)
        setup_s = session_s + median(builds)
        res = measure(w, args.seconds)
        spans = tracer.finish()
        print(json.dumps({
            "workload": w.name, "unit_of_work": w.unit,
            "error_rate": res["failed"] / res["attempted"],
            **{k: res[k] for k in ("rounds", "elapsed_s", "round_s", "round_wall_s",
                                   "steal_share", "samples")},
        }), flush=True)
        if args.trace:
            metrics = report(layer_metrics(w, spans, session_s, res, tracer), units["per_layer"])
            out = ROOT / ".bench_out"
            out.mkdir(exist_ok=True)
            with open(out / f"spans-{w.name}-seed{args.seed}.json", "w") as f:
                json.dump(spans, f)
        else:
            metrics = report({
                "setup_s": setup_s, "round_cpu_s": res["round_cpu_s"],
                "work_per_cpu_s": res["work_per_cpu_s"],
            }, units["end_to_end"])
        print(json.dumps({
            "correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
