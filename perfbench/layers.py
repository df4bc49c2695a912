"""Per-layer metrics of a traced run: driver-side wrappers around public
module functions, event-log costs per labelled action, span self times,
and the tracing overhead against the untraced run of the same seed."""

from __future__ import annotations

import json
import os
import time

from . import harness
from .tracing import TASK_FIELDS, read_event_log, self_times_ms, span_costs

COST_FIELDS = ("jobs", "stages", "tasks") + TASK_FIELDS + ("driver_ms",)
COST_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_ms": "ms", "executor_cpu_ms": "ms", "jvm_gc_ms": "ms",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "driver_ms": "ms",
}

# printed on the traced run's result line by every workload: the cost of
# one benchmark action (a timed call, or a serving micro-batch), averaged
# over the measured window
PER_LAYER = (("session.start_s", "s"),) + tuple(
    (f"action.{f}", COST_UNITS[f]) for f in COST_FIELDS
)


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_rewritten", "bytes"), ("_per_input_byte", "ratio"),
                         ("_yield", "ratio"), ("_per_result", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def install_wrappers(ctx) -> None:
    """Spans around driver-side calls that launch no job of their own (or
    whose callers are inside the engine), by wrapping the public module
    attribute the engine looks up at call time."""
    from cuda_acceleratedvectordatabaseengine_spark.operators import dedup, ivf, knn

    tr = ctx.tracer

    def probes(P):
        ctx.probes.append((time.time(), P))

    tr.wrap(knn, "collect_query_matrix", "knn.collect_query_matrix", "operators.knn")
    tr.wrap(ivf, "select_nprobe_lists", "ivf.select_nprobe_lists", "operators.ivf",
            on_result=probes)
    tr.wrap(dedup, "minhash_dedup_pairs", "dedup.minhash_dedup_pairs", "operators.dedup")


def analyze(ctx, work: str, setup_parts: dict, workload_metrics) -> dict:
    """{metric: (value, unit)} for the traced run, plus what
    ``workload_metrics(costs_per_action_name)`` adds; also stamps each span
    with its self time and costs for the span file."""
    tr = ctx.tracer
    log = read_event_log(os.path.join(work, "eventlog"))
    selfs = self_times_ms(tr.spans)
    per_name: dict[str, list[dict]] = {}
    units = []
    for s in tr.spans:
        s["self_ms"] = selfs[s["id"]]
        if s.get("unit"):
            s["costs"] = span_costs(s, log)
            per_name.setdefault(s["name"], []).append(s["costs"])
            units.append(s["costs"])
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (setup_parts["session_start_s"], "s")
    }
    for k, v in setup_parts.items():
        out[f"setup.{k}"] = (v, "s")
    for f in COST_FIELDS:
        if units:
            out[f"action.{f}"] = (sum(c[f] for c in units) / len(units), COST_UNITS[f])
    for name, costs in per_name.items():
        for f in COST_FIELDS:
            out[f"{name}.{f}"] = (sum(c[f] for c in costs) / len(costs), COST_UNITS[f])
    by_layer: dict[str, float] = {}
    for s in tr.spans:
        if s.get("layer"):
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + s["self_ms"]
    for layer, ms in by_layer.items():
        out[f"self_ms.{layer}"] = (ms, "ms")
    wrapped = {}
    for s in tr.spans:
        if s["name"] in ("knn.collect_query_matrix", "ivf.select_nprobe_lists"):
            wrapped.setdefault(s["name"], []).append((s["t1"] - s["t0"]) * 1000.0)
    if "knn.collect_query_matrix" in wrapped:
        out["knn.collect_query_ms"] = (harness.median(wrapped["knn.collect_query_matrix"]), "ms")
    if "ivf.select_nprobe_lists" in wrapped:
        out["ivf.select_nprobe_ms"] = (harness.median(wrapped["ivf.select_nprobe_lists"]), "ms")
    for name, xs in tr.counters.items():
        if xs:
            out[name] = (harness.median(xs), _unit(name))
    out.update(workload_metrics(per_name))
    return out


def overhead(tag: str, traced: dict, names) -> dict:
    """Tracing overhead: each end-to-end metric of this traced run against
    the untraced run of the same workload and seed, when one was saved."""
    path = os.path.join(harness.OUT_DIR, f"{tag}-trace0.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)["metrics"]
    out = {}
    for name, _unit in names:
        if name in traced and name in base and base[name]["value"]:
            pct = (traced[name][0] / base[name]["value"] - 1.0) * 100.0
            out[f"trace.overhead.{name}_pct"] = (pct, "%")
    return out
