"""The open-loop serving phase of index_lifecycle.

A generator thread writes small request files (a few queries each, stamped
with their due time) into the stream's source directory on a fixed
schedule, with pyarrow. The schedule never waits for the engine.
``serve_query_stream`` drains the source with its default fusion: every
file that arrived since the last trigger becomes one micro-batch and one
search. The offered rate steps through a fixed ladder; latency runs from a
query's due time to the moment its result reached the driver."""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs
from .harness import fresh_dir, median, quantile, tail_percentile

REF_STEP = 0  # the reference rate is the first rung of the ladder
P95_LIMIT_MS = 5000.0
DRAIN_TIMEOUT_S = 60.0
LATE_FLAG_MS = 250.0
QUERY_SCHEMA = "query_id long, qvec array<float>, due_s double"


def _progress(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p)
            for p in query.recentProgress]


def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _request_table(ids: np.ndarray, Q: np.ndarray, due: float) -> pa.Table:
    tbl = inputs.vector_table(ids, Q[ids], "query_id", "qvec")
    return tbl.append_column("due_s", pa.array(np.full(len(ids), due)))


def ranked_ids(tbl) -> dict[int, list[int]]:
    """{query_id: ids by rank} from a search result table."""
    out: dict[int, list[int]] = {}
    for q, _r, i in sorted(zip(tbl.column("query_id").to_pylist(),
                               tbl.column("rank").to_pylist(),
                               tbl.column("id").to_pylist())):
        out.setdefault(q, []).append(i)
    return out


def ladder_queries(ladder, per_request: int) -> int:
    """Queries offered by a ladder of (rate, seconds) steps."""
    return sum(int(round(secs * rate / per_request)) * per_request for rate, secs in ladder)


class Generator(threading.Thread):
    """Writes request files on the schedule; never waits for the engine."""

    def __init__(self, src, stage, Q, plan, per_request):
        super().__init__(daemon=True)
        self.src, self.stage, self.Q = src, stage, Q
        self.plan = plan  # [(step, t_start, rate, seconds)]
        self.per_request = per_request
        self.due: dict[int, tuple[float, int]] = {}  # qid -> (due, step)
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            qid = 0
            for step, t_start, rate, secs in self.plan:
                gap = self.per_request / rate
                for i in range(int(round(secs / gap))):
                    due = t_start + i * gap
                    pause = due - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    ids = np.arange(qid, qid + self.per_request)
                    qid += self.per_request
                    name = f"r{ids[0]:08d}.parquet"
                    # written aside, then renamed in: the source never sees
                    # a partial file
                    pq.write_table(_request_table(ids, self.Q, due),
                                   os.path.join(self.stage, name))
                    for q in ids.tolist():
                        self.due[q] = (due, step)
                    os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))
                    self.late_ms.append((time.time() - due) * 1000.0)
        except BaseException as e:  # reported by the caller after join
            self.error = e


def _serve(ctx, idx, stream_df, sink, ckpt, k, nprobe):
    from cuda_acceleratedvectordatabaseengine_spark.streaming.search_stream import (
        serve_query_stream,
    )

    return serve_query_stream(idx, stream_df, k=k, nprobe=nprobe, output_sink=sink,
                              checkpoint_dir=fresh_dir(os.path.join(ctx.work, ckpt)))


def warm(ctx, idx, Q, k, nprobe) -> None:
    """Pay the stream's first-call costs on one request file."""
    src = fresh_dir(os.path.join(ctx.work, "warm_src"))
    pq.write_table(_request_table(np.arange(8), Q, 0.0), os.path.join(src, "w0.parquet"))
    sq = _serve(ctx, idx, ctx.spark.readStream.schema(QUERY_SCHEMA).parquet(src),
                lambda df, b: df.toArrow(), "warm_ckpt", k, nprobe)
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()


def run_ladder(ctx, idx, Q, ladder, per_request, k, nprobe, step) -> dict:
    """Serve the offered ladder; returns what the report and the gates
    need. Unanswered or duplicated queries count as failed operations."""
    run = ctx.run
    src = fresh_dir(os.path.join(ctx.work, "src"))
    stage = fresh_dir(os.path.join(ctx.work, "stage"))
    lock = threading.Lock()
    done: dict[int, float] = {}
    answers: dict[int, list[int]] = {}
    batch_of: dict[int, int] = {}
    dupes: list[int] = []

    def sink(results, batch_id):
        got = ranked_ids(results.toArrow())
        t = time.time()
        with lock:
            for q, ids in got.items():
                if q in done:
                    dupes.append(q)
                done[q], answers[q], batch_of[q] = t, ids, batch_id

    sq = _serve(ctx, idx, ctx.spark.readStream.schema(QUERY_SCHEMA).parquet(src), sink,
                "ckpt", k, nprobe)
    t = time.time() + 0.5
    plan = []
    for i, (rate, secs) in enumerate(ladder):
        plan.append((i, t, rate, secs))
        t += secs
    gen = Generator(src, stage, Q, plan, per_request)
    try:
        with ctx.tracer.span("serve.ladder", "streaming.search_stream", step) as ladder:
            gen.start()
            gen.join(timeout=t - time.time() + DRAIN_TIMEOUT_S)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while time.time() < deadline:
                with lock:
                    if len(done) >= len(gen.due):
                        break
                time.sleep(0.02)
        progress = _progress(sq)
    finally:
        sq.stop()
    if gen.error is not None or gen.is_alive():
        raise RuntimeError(f"request generator failed: {gen.error!r}")

    offered = len(gen.due)
    run.attempted += offered
    shed = offered - len(done)
    if shed:
        run.fail(f"{shed} of {offered} offered queries never answered", n=shed)
    if dupes:
        run.fail(f"{len(set(dupes))} queries answered more than once", n=len(set(dupes)))
    run.gate("served_exactly_once", not dupes and not shed, counted=True)
    res = dict(plan=plan, due=gen.due, done=done, answers=answers,
               late_ms=gen.late_ms, progress=[p for p in progress
                                              if p.get("numInputRows", 0) > 0])
    if ctx.traced:
        starts, windows = {}, []
        for p in res["progress"]:
            t0 = starts[p["batchId"]] = _ts(p["timestamp"])
            t1 = t0 + p["durationMs"].get("triggerExecution", 0) / 1000.0
            ctx.tracer.add_span(
                name="stream.micro_batch", layer="streaming.search_stream",
                parent=ladder["id"], step=step, unit=True, t0=t0, t1=t1,
            )
            windows.append((t0, t1))
        # only the coarse probes a serving micro-batch made
        for t, P in ctx.probes:
            if any(a <= t <= b for a, b in windows):
                ctx.tracer.count("ivf.lists_probed_per_batch", len({int(x) for x in P.ravel()}))
        for q, (due, _s) in gen.due.items():
            if batch_of.get(q) in starts:
                ctx.tracer.count("stream.queue_wait_ms", (starts[batch_of[q]] - due) * 1000.0)
    return res


def check_against_batch(ctx, res: dict, batch: dict) -> None:
    """Every served answer equals the batch search of the same queries;
    a differing answer is a failed operation and its latency is dropped."""
    wrong = [q for q, ids in res["answers"].items() if batch.get(q) != ids]
    for q in wrong:
        res["done"].pop(q, None)
    if wrong:
        ctx.run.fail(f"{len(wrong)} served answers differ from the batch search", n=len(wrong))
    ctx.run.gate("served_equals_batch", not wrong, counted=True)


def latencies(res: dict) -> dict[int, list[float]]:
    """Per ladder step, due-to-result latencies (ms) in due order."""
    out: dict[int, list[float]] = {}
    for q, (due, step) in res["due"].items():
        if q in res["done"]:
            out.setdefault(step, []).append((res["done"][q] - due) * 1000.0)
    return out


def report(ctx, res: dict, ladder) -> None:
    run = ctx.run
    lat = latencies(res)
    ref = lat.get(REF_STEP, [])
    if ref:
        run.put("serve_p50_ms", median(ref), "ms")
        tail = tail_percentile(ref)
        if tail is not None:
            # named p95 whatever rung of the ladder had >= 10 samples beyond it
            run.put("serve_p95_ms", tail[1], "ms")
            run.put("serve_p95_is_percentile", tail[0], "pct")
    best = 0.0
    for step, (rate, _secs) in enumerate(ladder):
        xs = lat.get(step, [])
        if len(xs) < 3:
            continue
        third = len(xs) // 3
        growing = median(xs[-third:]) > 1.5 * median(xs[:third]) + 500.0
        tail = tail_percentile(xs)
        run.put(f"serve_step{step}_p50_ms", median(xs), "ms")
        if (tail[1] if tail else max(xs)) <= P95_LIMIT_MS and not growing:
            best = max(best, float(rate))
    run.put("serve_max_qps", best, "1/s")
    run.put("flow.shed_queries", len(res["due"]) - len(res["done"]), "count")
    late = quantile(res["late_ms"], 95)
    run.put("stream.generator_late_ms", late, "ms")
    if late > LATE_FLAG_MS:
        print(f"# flag: the request generator ran {late:.0f} ms late (p95); "
              "the offered rates were not met", flush=True)


def layer_metrics(res: dict, per_name: dict) -> dict:
    prog, out = res["progress"], {}
    if prog:
        out["stream.micro_batches"] = (len(prog), "count")
        out["stream.queries_per_batch"] = (median([p["numInputRows"] for p in prog]), "count")
        out["stream.trigger_ms"] = (
            median([p["durationMs"].get("triggerExecution", 0) for p in prog]), "ms")
        out["stream.add_batch_ms"] = (
            median([p["durationMs"].get("addBatch", 0) for p in prog]), "ms")
    costs = per_name.get("stream.micro_batch", [])
    if costs:
        out["stream.jobs_per_batch"] = (sum(c["jobs"] for c in costs) / len(costs), "count")
    return out
