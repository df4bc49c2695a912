"""Benchmark-side tracing: spans around each call into a layer, a Spark job
group per benchmark action, job/stage/task counts from the status tracker,
task metrics from the uncompressed event log.

Spans stay in memory and are written once, at the end of the run. The
untraced run uses ``NullTracer``, whose hooks do nothing."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time


class NullTracer:
    enabled = False

    def action(self, name, layer="", step=None):
        return contextlib.nullcontext()

    def span(self, name, layer="", step=None):
        return contextlib.nullcontext()

    def wrap(self, owner, attr, name, layer, on_result=None):
        pass

    def unwrap_all(self):
        pass

    def add_span(self, **kw):
        pass

    def count(self, name, value):
        pass


class Tracer:
    """Records spans {id, name, layer, parent, step, t0, t1} (wall-clock
    epoch seconds, the clock the event log also uses) and counters."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name, layer="", step=None):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": stack[-1]["id"] if stack else None,
            "step": step if step is not None else (stack[-1]["step"] if stack else None),
            "t0": time.time(),
            "t1": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def action(self, name, layer="", step=None):
        """A benchmark-issued action: a top-level span whose Spark jobs
        carry their own job group."""
        sc = self.spark.sparkContext
        with self.span(name, layer, step) as rec:
            rec["group"] = f"perfbench-{rec['id']}"
            rec["unit"] = True
            sc.setJobGroup(rec["group"], name)
            try:
                yield rec
            finally:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)

    def add_span(self, **rec) -> dict:
        rec = {"id": next(self._ids), "group": None, "step": None, **rec}
        with self._lock:
            self.spans.append(rec)
        return rec

    def wrap(self, owner, attr, name, layer, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span per call
        (and passing the result to ``on_result``). Module attributes are
        looked up at call time by the engine, so a wrapped module function
        is seen by every caller."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def count(self, name, value) -> None:
        self.counters.setdefault(name, []).append(float(value))

    # -- status tracker ----------------------------------------------------
    def collect_status(self) -> None:
        """Each action's job ids, read from the status tracker by job group
        before the session stops."""
        st = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            if rec.get("group"):
                rec["jobs"] = sorted(st.getJobIdsForGroup(rec["group"]))

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: (r["t0"], r["id"])):
                f.write(json.dumps(rec) + "\n")


# -- event log ----------------------------------------------------------------
TASK_FIELDS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def parse_event_log(lines) -> dict:
    """Jobs and per-stage task metrics from an uncompressed Spark event log.

    Returns {"jobs": {job_id: {submit_ms, end_ms, stages}},
    "stages": {stage_id: {tasks, <TASK_FIELDS>}}}. Only stages that ran
    a task appear in "stages"; skipped stages do not."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "submit_ms": ev.get("Submission Time"),
                "end_ms": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            st = stages.setdefault(
                ev["Stage ID"], {"tasks": 0, **{k: 0.0 for k in TASK_FIELDS}}
            )
            st["tasks"] += 1
            st["executor_run_ms"] += tm.get("Executor Run Time", 0)
            st["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            st["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
    return {"jobs": jobs, "stages": stages}


def _event_files(log_dir: str) -> list[str]:
    """The one application's log files under ``log_dir``: a single file,
    or the ``events_<n>_*`` parts of a rolling ``eventlog_v2_*`` directory
    in rolling order."""
    apps = [n for n in sorted(os.listdir(log_dir)) if not n.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def read_event_log(log_dir: str) -> dict:
    def lines():
        for path in _event_files(log_dir):
            with open(path) as f:
                yield from f

    return parse_event_log(lines())


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times_ms(spans) -> dict[int, float]:
    """Per span id: duration minus the part of it its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (
            (s["t1"] - s["t0"]) - union_ms(kids.get(s["id"], []), s["t0"], s["t1"])
        )
        * 1000.0
        for s in spans
    }


def span_jobs(span: dict, log: dict) -> list[int]:
    """Jobs of a span: those the status tracker listed for its job group,
    else every job submitted inside its wall-clock window."""
    if "jobs" in span:
        return [j for j in span["jobs"] if j in log["jobs"]]
    lo, hi = span["t0"] * 1000.0, span["t1"] * 1000.0
    return [
        j
        for j, job in log["jobs"].items()
        if job["submit_ms"] is not None and lo <= job["submit_ms"] <= hi
    ]


def span_costs(span: dict, log: dict) -> dict:
    """jobs, stages, tasks, task-metric sums and driver_ms for one span.
    driver_ms is the span's wall time minus the time its jobs ran."""
    jids = span_jobs(span, log)
    stage_ids = set()
    for j in jids:
        stage_ids.update(log["jobs"][j]["stages"])
    ran = [log["stages"][s] for s in stage_ids if s in log["stages"]]
    out = {
        "jobs": len(jids),
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
    }
    for k in TASK_FIELDS:
        out[k] = float(sum(s[k] for s in ran))
    lo, hi = span["t0"] * 1000.0, span["t1"] * 1000.0
    busy = union_ms(
        [
            (log["jobs"][j]["submit_ms"], log["jobs"][j]["end_ms"] or hi)
            for j in jids
        ],
        lo,
        hi,
    )
    out["driver_ms"] = max(0.0, (hi - lo) - busy)
    return out
