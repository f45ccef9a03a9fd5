"""Lake-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bike_ticks --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives one ``local[4]``
session as a single closed-loop caller: each operation starts after the
previous one returned. The run

1. generates (or reuses) the workload's inputs from ``--seed``;
2. starts the session and runs one warm-up operation (``setup_s``);
3. repeats the unit operation until ``--seconds`` have passed and at
   least ``MIN_OPS`` ran, timing each, and checks every result outside
   the timed region;
4. prints each metric with its unit, then one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log and the layer spans of ``spans.py`` and reports the
per-layer metrics instead. Everything the run writes goes under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# Fewer than 2 timed operations leaves op_s to one sample. More would push a
# run past about a minute, most of which is already the cold session start
# and warm-up, and the benchmark is run 22 times per workload.
MIN_OPS = 2
# The engine reads these at session start; the benchmark pins the code's
# own defaults instead of whatever the calling shell has set.
ENGINE_ENV = (
    "DLPS_LAKE_ROOT",
    "DLPS_SHUFFLE_PARTITIONS",
    "DLPS_PREFER_SMJ",
    "DLPS_DRIVER_MEMORY",
    "SPARK_GRAFT_CPUS",
)


def unit_of(metric: str) -> str:
    if metric.endswith("_gb"):
        return "GiB"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(("ratio", "amplification")):
        return "ratio"
    return "count"


def process_tree_hwm_bytes() -> int:
    """Sum of ``VmHWM`` over this process and all its descendants (the
    JVM and its Python workers)."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        tree.add(p)
        frontier.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when its
    stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "datalake_public_spark")):
        print(f"no datalake_public_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(scratch, d))
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    # Python workers import the engine's Arrow kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    try:
        return measure(args, WORKLOADS[args.workload], work, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args, workload_cls, work: str, scratch: str) -> int:
    import spans as tr
    from datalake_public_spark import EngineConfig, get_spark

    extra = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
            }
        )
    config = EngineConfig(
        master=f"local[{CORES}]", lake_root=os.path.join(scratch, "lake"), extra_conf=extra
    )

    gen_s = 0.0
    tracer = tr.NullTracer()
    workload = workload_cls(work, args.seed, tracer)
    json_in: dict[int, int] = {}  # raw JSON bytes generated per operation

    def inputs(op: int):
        nonlocal gen_s
        t = time.perf_counter()
        got = workload.prepare(op)
        gen_s += time.perf_counter() - t
        return got

    inputs(0)
    t0 = time.perf_counter()
    spark = get_spark(config)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jit = None
    if args.trace:
        tracer = tr.Tracer(spark.sparkContext)
        workload.tracer = tracer
        tracer.install()
        jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    jit_ms: dict[int, int] = {}  # JIT compiler-thread time during each operation

    attempted = failed = 0
    times: list[float] = []

    def operation(op: int) -> float:
        nonlocal attempted, failed
        data = inputs(op)
        json_in[op] = data.get("json_bytes", 0)
        tracer.op = op
        attempted += 1
        j = jit.getTotalCompilationTime() if jit else 0
        t = time.perf_counter()
        elapsed = None
        try:
            result = workload.run(spark, config, data, op)
            elapsed = time.perf_counter() - t
            jit_ms[op] = (jit.getTotalCompilationTime() if jit else 0) - j
            problems = workload.check(spark, config, data, result)
            workload.release(result)
        except Exception:
            traceback.print_exc()
            problems = ["raised"]
        if problems:
            failed += 1
            print(f"op {op} failed: {problems}", file=sys.stderr)
        return time.perf_counter() - t if elapsed is None else elapsed

    try:
        warm_s = operation(0)
        setup_s = start_s + warm_s
        begin = time.perf_counter()
        op = 1
        while len(times) < MIN_OPS or time.perf_counter() - begin < args.seconds:
            times.append(operation(op))
            op += 1
        loop_s = time.perf_counter() - begin
        persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
        rss = process_tree_hwm_bytes()
    finally:
        tracer.uninstall()
        t = time.perf_counter()
        spark.stop()
        stop_jvm()
        stop_s = time.perf_counter() - t

    op_s = statistics.median(times)
    print(f"workload {args.workload} seed {args.seed}: {len(times)} timed operations")
    print(
        f"inputs generated in {gen_s:.3f} s (not in setup_s); session start {start_s:.3f} s, "
        f"warm-up {warm_s:.3f} s, timed loop {loop_s:.3f} s, stop {stop_s:.3f} s"
    )
    print(f"op_s samples: {[round(t, 3) for t in times]}")
    print(f"failed_ratio: {failed / attempted:.4f} ({failed} of {attempted})")
    if args.trace:
        events = tr.read_event_log(os.path.join(scratch, "eventlog"))
        stats = tr.exec_stats(events)
        ops = list(range(1, op))
        metrics = tr.layer_metrics(
            tracer.spans,
            stats,
            ops,
            {
                "cores": CORES,
                "json_bytes": statistics.mean(json_in[o] for o in ops),
                "session.start_s": start_s,
                "session.persistent_rdds": persistent,
                "session.peak_rss_gb": rss / 2**30,
                "session.jit_compile_s": statistics.mean(jit_ms.get(o, 0) for o in ops) / 1e3,
                "trace.op_s": op_s,
            },
        )
        print("jobs per operation, by innermost layer:")
        for o in ops:
            jobs: dict[str, int] = {}
            for span in tracer.spans:
                if span["op"] == o:
                    n = int(stats.get(span["id"], {}).get("jobs", 0))
                    jobs[span["layer"]] = jobs.get(span["layer"], 0) + n
            print(f"  op {o}: {sum(jobs.values())} = {jobs}")
    else:
        metrics = {
            "setup_s": setup_s,
            "op_s": op_s,
            "success_ratio": 1 - failed / attempted,
        }
    units = {m: unit_of(m) for m in metrics}
    for m, v in metrics.items():
        print(f"  {m} = {v:.6g} {units[m]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
