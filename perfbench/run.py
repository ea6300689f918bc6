"""Closed-loop benchmark of the engine: one process, one client thread.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root (pandas-UDF rows need the package on
the Python workers' path, which the root cwd provides). The run makes
its seeded inputs and their expected outputs under
``.perfbench_work/``, starts ``get_spark()``, warms up, then runs whole
passes of the workload's operations back to back until ``--seconds``
have elapsed and at least the workload's ``min_passes`` are done, checking
every output outside the timed region. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics, or with ``--trace 1`` the per-layer metrics of a
traced run); stderr ends with a ``{"context": ...}`` line.

The end-to-end metrics are the wall-clock set-up time and
``suite_cpu_s``, the CPU seconds of the engine's processes (the driver
JVM, its Python workers and this process): on a shared host the
wall-clock suite moves with other tenants' load, CPU time much less
(see NOTES.md). The wall-clock suite and build times are in the
context line and in the traced run's per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _tree_cpu_s(root_pid: int | None) -> float:
    """CPU seconds used so far by this process plus ``root_pid`` and
    its descendants (the JVM and its Python workers)."""
    t = os.times()
    if root_pid is None:
        return t.user + t.system
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = (int(fields[1]), (int(fields[11]) + int(fields[12])) / tick)
    tree, frontier = set(), {root_pid}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
    return sum(stats[p][1] for p in tree if p in stats) + t.user + t.system


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file the session writes inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files here and writes no hsperfdata file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = []
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir={log_dir}",
                  "--conf spark.eventLog.compress=false",
                  "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(confs + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import dbt_lakehouse_aws_spark  # noqa: F401  (fail fast outside a checkout of the engine)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, args.trace)
    wl = WORKLOADS[args.workload]()
    try:
        wl.prepare(args.seed, work)
        return _measure(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(wl, args, work: str) -> dict:
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, install_wrappers

        tracer = Tracer()
        install_wrappers(tracer)

    t_setup, cpu_setup = time.perf_counter(), _tree_cpu_s(None)
    from dbt_lakehouse_aws_spark.session import get_spark

    if tracer is None:
        spark = get_spark("perfbench")
    else:
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        tracer.attach(spark.sparkContext)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    problems: dict[str, list[str]] = {}
    attempted = failed = 0
    checking = {"wall": 0.0, "cpu": 0.0}  # spent in checks, kept out of setup

    def run_ops(ops, record) -> None:
        nonlocal attempted, failed
        for op in ops:
            if tracer is not None:
                tracer.op = op
            c0 = _tree_cpu_s(jvm_pid)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    out, sub = wl.run(op)
                else:
                    with tracer.span("op"):
                        out, sub = wl.run(op)
                    tracer.op = None  # the check's own Spark reads are not the op's
                sub["wall"] = time.perf_counter() - t0
                c1 = _tree_cpu_s(jvm_pid)
                sub["cpu"] = c1 - c0
                t1 = time.perf_counter()
                bad = wl.check(op, out)
                checking["wall"] += time.perf_counter() - t1
                checking["cpu"] += _tree_cpu_s(jvm_pid) - c1
            except Exception:
                bad = [traceback.format_exc()]
            attempted += 1
            if bad:
                failed += 1
                problems.setdefault(op, bad)
            else:
                record.append((op, sub))

    try:
        wl.start(spark, tracer)
        wl.begin_pass(warm=True)
        run_ops(wl.warm_up_ops(), [])  # checked, but not timed
        setup = {"wall": time.perf_counter() - t_setup - checking["wall"],
                 "cpu": _tree_cpu_s(jvm_pid) - cpu_setup - checking["cpu"]}
        t_seed = time.perf_counter()
        wl.seed_state()  # an input of the timed passes, so not set-up either
        seed_s = time.perf_counter() - t_seed

        samples: list = []
        passes = 0
        steal0, total0 = _cpu_ticks()
        gc0 = _jvm_gc_s(spark)
        t_timed = time.perf_counter()
        while passes < wl.min_passes or time.perf_counter() < t_timed + args.seconds:
            wl.begin_pass(warm=False)
            run_ops((wl.once_ops() if passes == 0 else []) + wl.ops(), samples)
            passes += 1
        steal1, total1 = _cpu_ticks()
        context = {
            "passes": passes, "timed_s": time.perf_counter() - t_timed, "seed_state_s": seed_s,
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "jvm_gc_s": _jvm_gc_s(spark) - gc0, "jvm_peak_rss_mb": _vm_hwm_mb(jvm_pid),
        }
    finally:
        _stop_spark(spark)
    context["py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    def suite(key):
        """Per-op medians of ``key`` over the passes, summed over one unit."""
        by_op: dict[str, list[float]] = {}
        for op, sub in samples:
            if key in sub:
                by_op.setdefault(op, []).append(sub[key])
        return sum(statistics.median(v) for v in by_op.values()), by_op

    (suite_cpu_s, _), (suite_s, wall_by_op), (build_s, _) = (
        suite("cpu"), suite("wall"), suite("build"))
    refresh = [sub["refresh"] * 1e3 for _, sub in samples if "refresh" in sub]
    write = [sub["write"] * 1e3 for _, sub in samples if "write" in sub]
    context.update(setup_s=setup["wall"], setup_cpu_s=setup["cpu"], suite_s=suite_s,
                   suite_cpu_s=suite_cpu_s, build_s=build_s,
                   refresh_p50_ms=statistics.median(refresh) if refresh else 0.0,
                   refresh_p90_ms=statistics.quantiles(refresh, n=10, method="inclusive")[-1]
                   if len(refresh) > 1 else 0.0,
                   write_p50_ms=statistics.median(write) if write else 0.0,
                   ops={op: statistics.median(v) for op, v in wall_by_op.items()})
    for op, bad in problems.items():
        print(f"\nFAILED {op}: {bad[0]}", file=sys.stderr)
    if tracer is None:
        metrics = {name: {"value": context[name], "unit": "s"}
                   for name in ("setup_s", "suite_cpu_s")}
    else:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(wl, tracer, samples, t_timed, context,
                                os.path.join(work, "eventlog"))
    print("\n" + json.dumps({"context": context}), file=sys.stderr)
    return {"correct": failed == 0 and bool(samples), "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
