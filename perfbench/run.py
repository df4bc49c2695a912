"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` repeats the run with spans, job
groups and the Spark event log on, and reports the per-layer metrics.
Human-readable metric lines go to stdout first; the last stdout line is
one JSON object {correct, attempted, failed, metrics}. See
perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.tracing import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("index_lifecycle", "dedup_curate")

# the metrics every workload prints on its result line (see README.md for
# what each means per workload)
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("ingest_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("cycle_s", "s"),
)


class Ctx:
    """What a workload sees: the session, its scratch directory, the seed,
    the size table to use, the run record and the tracer."""

    def __init__(self, spark, work, seed, size, run, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.run = run
        self.tracer = tracer
        self.traced = tracer.enabled
        # (time, probe matrix) of every coarse probe, kept by the traced wrapper
        self.probes = []


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny is for the benchmark's own smoke tests")
    return ap.parse_args(argv)


def _load(workload: str):
    import importlib

    return importlib.import_module(f"perfbench.wl_{workload}")


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM (and with it the Python workers) down and
    wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.engine_available():
        print(f"perfbench: engine package {harness.PACKAGE!r} not found under "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-{args.size}"
    work = harness.fresh_dir(os.path.join(harness.WORK_DIR, f"{tag}-{os.getpid()}"))
    tmp = harness.fresh_dir(os.path.join(work, "pytmp"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the spark-submit launcher JVM, too, writes no hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    wl = _load(args.workload)
    run = harness.Run(args.seconds, NullTracer())
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, bool(args.trace), f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NullTracer()
        run.tracer = tracer
        ctx = Ctx(spark, work, args.seed, args.size, run, tracer)
        st = wl.setup(ctx)
        parts = {"session_start_s": session_s, **st["setup_parts"]}
        run.put("setup_s", sum(parts.values()), "s")
        if args.trace:
            layers.install_wrappers(ctx)
        wl.measure(ctx, st)
        wl.report(ctx, st)
        if args.trace:
            tracer.unwrap_all()
            tracer.collect_status()
    finally:
        if spark is not None:
            try:
                spark.stop()
            finally:
                _stop_jvm()

    lines = dict(run.report)
    if args.trace:
        per_layer = layers.analyze(ctx, work, parts,
                                   lambda per_action: wl.layer_metrics(ctx, st, per_action))
        lines.update(per_layer)
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        spans_path = os.path.join(harness.OUT_DIR, f"{tag}-spans.jsonl")
        tracer.write_spans(spans_path)
        print(f"# spans: {os.path.relpath(spans_path, ROOT)}")
        lines.update(layers.overhead(tag, run.report, END_TO_END))
    else:
        for k, v in parts.items():
            lines[f"setup.{k}"] = (v, "s")
    lines["op_fail_ratio"] = (run.failed / max(1, run.attempted), "ratio")
    for name in sorted(lines):
        value, unit = lines[name]
        print(f"{name} {value:.6g} {unit}")
    for name, ok in sorted(run.gates.items()):
        print(f"# gate {name}: {'pass' if ok else 'FAIL'}")

    os.makedirs(harness.OUT_DIR, exist_ok=True)
    with open(os.path.join(harness.OUT_DIR, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump({"metrics": {k: {"value": v, "unit": u} for k, (v, u) in lines.items()},
                   "gates": run.gates, "errors": run.errors,
                   "attempted": run.attempted, "failed": run.failed}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("# samples " + json.dumps({k: [round(x, 3) for x in v] for k, v in run.samples.items()}),
          file=sys.stderr)

    if args.trace:
        metrics = harness.metric_block(lines, [(n, u) for n, u in layers.PER_LAYER])
    else:
        metrics = harness.metric_block(run.report, END_TO_END)
    correct = run.failed == 0 and all(run.gates.values())
    harness.emit_result(correct, run.attempted, run.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
