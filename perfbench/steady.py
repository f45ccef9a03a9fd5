"""Steadiness check: two sets of runs of the same code, compared.

    python3 perfbench/steady.py

Each set is 10 runs per workload of BENCHMARK.json, each ``run.py
--trace 0`` with its own seed and ``--seconds`` from ``run_seconds``. For
every end-to-end metric the script prints, per set, the median, the
quartiles (Python's ``statistics.quantiles(values, n=4)``) and the spread,
which is the quartile distance as a share of the median. The two sets
agree when, for every metric, ``setup_s`` included, each spread is at
most the metric's ``bound`` and the two medians differ by at most the
bound in either direction. A spread above a third of the bound is
flagged. Last, one traced run per workload gives the tracing overhead:
traced ``op_s`` minus the untraced median.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    print(f"  {workload} seed {seed}: correct={result['correct']} " + ", ".join(
        f"{k}={v['value']:.4g}" for k, v in result["metrics"].items() if "." not in k
    ), flush=True)
    return result


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / med if med else 0.0


RUNS = 10


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sets: list[dict[str, list[dict]]] = []
    for k in range(2):
        print(f"set {k + 1}", flush=True)
        sets.append(
            {
                w: [run_once(w, 1000 * (k + 1) + i, seconds, 0) for i in range(RUNS)]
                for w in workloads
            }
        )

    agree = True
    for w in workloads:
        print(f"\n{w}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [summary([r["metrics"][name]["value"] for r in s[w]]) for s in sets]
            for k, (med, q1, q3, spread) in enumerate(stats):
                flag = " (above a third of the bound)" if spread > bound / 3 else ""
                print(f"  {name} set {k + 1}: median {med:.4g} {m['unit']}, "
                      f"quartiles [{q1:.4g}, {q3:.4g}], spread {spread:.3f}{flag}")
            drift = (stats[1][0] - stats[0][0]) / stats[0][0] if stats[0][0] else 0.0
            ok = all(st[3] <= bound for st in stats) and abs(drift) <= bound
            agree &= ok
            print(f"  {name}: second median differs by {drift:+.3f} (bound {bound}) -> "
                  f"{'agree' if ok else 'DISAGREE'}")
        failed = sum(r["failed"] for s in sets for r in s[w])
        print(f"  failed operations: {failed}")
        agree &= failed == 0
        traced = run_once(w, 999, seconds, 1)["metrics"]["trace.op_s"]["value"]
        untraced = statistics.median(r["metrics"]["op_s"]["value"] for s in sets for r in s[w])
        print(f"  tracing overhead: traced op_s {traced:.3f} s - untraced median "
              f"{untraced:.3f} s = {traced - untraced:+.3f} s")
    print("\nsets agree within bounds" if agree else "\nsets DO NOT agree within bounds")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
