"""Shared plumbing for the workloads: paths, the Spark session, timed
operations with failure accounting, percentiles and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cuda_acceleratedvectordatabaseengine_spark"
# everything a run writes lives under these two directories of the checkout
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# ladder for the "highest percentile with >= 10 samples beyond it" rule
PERCENTILE_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def engine_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    return float(xs[_rank(q, len(xs)) - 1])


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of quantile q (percent) among n samples; the
    epsilon keeps 99.9% of 10000 at 9990 despite float rounding."""
    return max(1, math.ceil(q * n / 100.0 - 1e-9))


def tail_percentile(values, ladder=PERCENTILE_LADDER, min_beyond=MIN_BEYOND):
    """(p, value) for the highest percentile p in ``ladder`` that leaves at
    least ``min_beyond`` samples strictly above its nearest-rank position,
    or None when even the lowest rung has fewer beyond it."""
    n = len(values)
    for p in ladder:
        if n - _rank(p, n) >= min_beyond:
            return p, quantile(values, p)
    return None


def median(values) -> float:
    return float(statistics.median(values))


class GateFailure(AssertionError):
    """A correctness gate found a wrong answer."""


class Run:
    """One benchmark run: timed operations, correctness gates and the
    metrics it reports.

    ``op`` times one engine operation. An operation that raises, or whose
    ``check`` rejects the result, counts as failed and its time is dropped:
    a wrong answer's speed is never reported."""

    def __init__(self, seconds: float, tracer) -> None:
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.gates: dict[str, bool] = {}
        self.report: dict[str, tuple[float, str]] = {}

    def op(self, name: str, fn, check=None, layer: str = "", step=None):
        """Run ``fn`` as one attempted operation; returns its result, or
        None when it failed. The latency (s) lands in ``samples[name]``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.action(name, layer=layer, step=step):
                out = fn()
            dt = time.perf_counter() - t0
            if check is not None:
                check(out)
        except GateFailure as e:
            self.fail(f"{name}: wrong answer: {e}")
            return None
        except Exception as e:  # a failed engine call is a counted failure
            self.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        self.samples.setdefault(name, []).append(dt)
        return out

    def fail(self, why: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(why)
        print(f"# FAIL {why}", file=sys.stderr, flush=True)

    def gate(self, name: str, ok: bool, detail: str = "", counted: bool = False) -> bool:
        """Record a correctness gate. A gate checked outside any timed
        operation is one attempted operation; ``counted`` gates cover
        operations already counted (and failed) one by one."""
        self.gates[name] = self.gates.get(name, True) and bool(ok)
        if not counted:
            self.attempted += 1
            if not ok:
                self.fail(f"gate {name}: {detail}")
        return ok

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)

    def p50_ms(self, name: str) -> float | None:
        xs = self.samples.get(name)
        return median(xs) * 1000.0 if xs else None


def run_rounds(seconds: float, round_fn) -> None:
    """Call ``round_fn(r)`` for r = 0, 1, ... while the window of
    ``seconds`` has room for one more round as long as the last; at least
    one round always runs."""
    t0 = time.perf_counter()
    r = 0
    while True:
        t_r = time.perf_counter()
        round_fn(r)
        r += 1
        now = time.perf_counter()
        if now - t0 + (now - t_r) > seconds:
            return


def metric_block(values: dict[str, tuple[float, str]], names) -> dict:
    out = {}
    for name, unit in names:
        if name in values:
            out[name] = {"value": values[name][0], "unit": unit}
    return out


def emit_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    line = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(line), flush=True)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum and marker
    files."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def start_spark(work: str, trace: bool, app_name: str):
    """The engine's own session factory, pinned to this host's cores, with
    every scratch path inside the checkout. Tracing adds only the
    uncompressed event log."""
    from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

    cpus = nproc()
    tmp = fresh_dir(os.path.join(work, "tmp"))
    local = fresh_dir(os.path.join(work, "spark-local"))
    # SPARK_LOCAL_DIRS, when the environment sets it, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.local.dir": local,
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": fresh_dir(os.path.join(work, "eventlog")),
            }
        )
    spark = get_spark(
        app_name=app_name, cpus=cpus, shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
