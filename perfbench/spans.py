"""Layer spans for the traced run, and the event-log reader behind them.

``Tracer`` records one span per call into a layer's public functions:
name, start, end and parent, kept in memory. Each span runs under its
own Spark job group (``spark.jobGroup.id``), and the caller's group is
restored afterwards, so every job, stage and task in the event log is
attributed to the innermost span that was open when it ran. Wrappers
are installed at runtime on the module and class attributes the
engine's own code looks up, so nested calls (``run_gate`` inside
``run_bike_pipeline``) are seen without editing the engine.

``NullTracer`` is what the untraced run uses: no event log, no
wrappers, no job groups.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
PREFIX = "perfbench"

# layer -> public calls wrapped, as (module, attribute path) pairs. A name
# the engine imports into another module is wrapped there too, because
# that module's global is what its code calls.
WRAPPED = {
    "plans.pipeline": [("datalake_public_spark.plans.pipeline", "run_bike_pipeline")],
    "sources.readers": [
        ("datalake_public_spark.sources.readers", "read_json_snapshots"),
        ("datalake_public_spark.plans.pipeline", "read_json_snapshots"),
    ],
    "operators.flatten": [("datalake_public_spark.operators.flatten", "flatten_feed")],
    "operators.enrich": [("datalake_public_spark.operators.enrich", "build_enriched")],
    "operators.quality": [
        ("datalake_public_spark.operators.quality", "run_gate"),
        ("datalake_public_spark.operators.quality", "reconcile_counts"),
    ],
    "sinks.table": [("datalake_public_spark.sinks.table", "ManifestTable.overwrite")],
    "sinks.writers": [("datalake_public_spark.sinks.writers", "ParquetDocumentSink.write")],
    "operators.cluster": [
        ("datalake_public_spark.operators.cluster", "run_kmeans_job"),
        ("datalake_public_spark.plans.pipeline", "run_kmeans_job"),
    ],
}

# Layers that fire jobs get the full execution split; the lazy ones only
# build plans, so any job they fire is a build-time job.
# Input is counted in rows: Spark 4.1's vectorized parquet reader reports
# only the footer bytes in the task input metrics. JSON bytes are exact.
EXEC_METRICS = (
    "jobs",
    "exec_run_s",
    "exec_cpu_s",
    "input_rows",
    "shuffle_write_bytes",
    "spill_bytes",
)
LAYERS = {
    "session": ("start_s", "persistent_rdds", "peak_rss_gb", "jit_compile_s"),
    "plans.pipeline": ("wall_s", "self_s", *EXEC_METRICS, "tasks", "exec_busy_ratio"),
    "sources.readers": ("wall_s", "jobs", "read_amplification"),
    "operators.flatten": ("wall_s", "jobs"),
    "operators.enrich": ("wall_s", "jobs"),
    "operators.quality": ("wall_s", "self_s", *EXEC_METRICS),
    "sinks.table": ("wall_s", "self_s", *EXEC_METRICS, "output_bytes"),
    "sinks.writers": ("wall_s", "self_s", *EXEC_METRICS, "output_bytes"),
    "operators.cluster": ("wall_s", "self_s", *EXEC_METRICS),
    "driver_registry": ("wall_s", "jobs"),
    "catalyst": ("wall_s", "analysis_s", "optimization_s", "planning_s"),
    "exec": ("wall_s", "self_s", *EXEC_METRICS, "peak_mem_bytes", "shuffle_read_bytes"),
    "trace": ("op_s",),
}
# A whole-operation layer counts the jobs of every span nested in it; all
# other layers count only the jobs fired while they are the innermost span.
INCLUSIVE = {"plans.pipeline"}


def metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


def _resolve(module: str, path: str):
    import importlib

    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for name in outer:
        owner = getattr(owner, name)
    return owner, attr


class NullTracer:
    """The untraced run: spans cost one ``nullcontext``."""

    enabled = False
    op = 0

    def span(self, layer: str):
        return contextlib.nullcontext()

    def uninstall(self) -> None:
        pass


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = True
        self.op = 0  # 0 is the warm-up; measured operations count from 1
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "op": self.op,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{PREFIX}|{self.op}|{sid}")
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            rec["end"] = time.perf_counter()

    def _wrap(self, layer: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        for layer, targets in WRAPPED.items():
            for module, path in targets:
                owner, attr = _resolve(module, path)
                fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
                setattr(owner, attr, self._wrap(layer, fn))
                self._undo.append((owner, attr, fn))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)


# -- event log ----------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``. Spark
    4.1 rolls its log: ``eventlog_v2_<app>/events_<n>_<app>``, read in
    ``n`` order."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _group(props: dict | None) -> tuple[int, int] | None:
    g = (props or {}).get(GROUP_KEY) or ""
    parts = g.split("|")
    if len(parts) != 3 or parts[0] != PREFIX:
        return None
    return int(parts[1]), int(parts[2])


def exec_stats(events: list[dict]) -> dict:
    """Per-span job and task totals from the event log, keyed by span id.
    ``json_input_bytes`` counts input read by stages that scan JSON."""
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_span: dict[int, int] = {}
    json_stages: set[int] = set()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = _group(e.get("Properties"))
            if g:
                out[g[1]]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = _group(e.get("Properties"))
            if g:
                info = e["Stage Info"]
                stage_span[info["Stage ID"]] = g[1]
                scopes = " ".join(r.get("Scope") or "" for r in info["RDD Info"])
                if "Scan json" in scopes:
                    json_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            s = out[sid]
            run_s = m["Executor Run Time"] / 1e3
            cpu_s = m["Executor CPU Time"] / 1e9
            read = m["Input Metrics"]["Bytes Read"]
            s["tasks"] += 1
            s["exec_run_s"] += run_s
            s["exec_cpu_s"] += cpu_s
            s["input_rows"] += m["Input Metrics"]["Records Read"]
            s["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            s["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            s["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            s["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            s["peak_mem_bytes"] = max(s["peak_mem_bytes"], m["Peak Execution Memory"])
            if e["Stage ID"] in json_stages:
                s["json_input_bytes"] += read
    return out


def _add(into: dict, stats: dict) -> None:
    for k, v in stats.items():
        if k == "peak_mem_bytes":
            into[k] = max(into.get(k, 0.0), v)
        else:
            into[k] = into.get(k, 0.0) + v


def layer_metrics(spans: list[dict], stats: dict, ops: list[int], extra: dict) -> dict:
    """Per-operation means of every per-layer metric over the measured
    operations ``ops``. ``extra`` carries the values measured outside the
    spans (``session.*``, ``trace.op_s``, the JSON bytes generated per op
    and the core count)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def ancestors(s: dict):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    def subtree(s: dict):
        yield s
        for c in children[s["id"]]:
            yield from subtree(c)

    totals: dict[str, dict] = defaultdict(dict)
    op_totals: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["op"] not in ops:
            continue
        acc = totals[s["layer"]]
        wall = s["end"] - s["start"]
        if all(a["layer"] != s["layer"] for a in ancestors(s)):
            acc["wall_s"] = acc.get("wall_s", 0.0) + wall  # outermost call only
        acc["self_s"] = acc.get("self_s", 0.0) + wall - sum(
            c["end"] - c["start"] for c in children[s["id"]]
        )
        own = stats.get(s["id"], {})
        _add(op_totals, own)
        if s["layer"] in INCLUSIVE:
            for node in subtree(s):
                _add(acc, stats.get(node["id"], {}))
        else:
            _add(acc, own)
        _add(acc, s.get("attrs", {}))

    n = len(ops)
    out = {name: 0.0 for name in metric_names()}
    for layer, acc in totals.items():
        for m in LAYERS.get(layer, ()):
            if m in acc and f"{layer}.{m}" in out:
                out[f"{layer}.{m}"] = acc[m] if m == "peak_mem_bytes" else acc[m] / n
    if out["plans.pipeline.wall_s"]:
        out["plans.pipeline.exec_busy_ratio"] = out["plans.pipeline.exec_run_s"] / (
            out["plans.pipeline.wall_s"] * extra["cores"]
        )
    if extra.get("json_bytes"):
        out["sources.readers.read_amplification"] = (
            op_totals.get("json_input_bytes", 0.0) / n / extra["json_bytes"]
        )
    for layer in ("session", "trace"):
        for m in LAYERS[layer]:
            out[f"{layer}.{m}"] = extra[f"{layer}.{m}"]
    return out
