"""Micro-batched query serving — the Structured Streaming analog of the
reference's request coalescing (V2, SURVEY.md §2.5).

The reference queues SearchRequests and flushes a batch at
max_batch_size=64 or a 2 ms window, grouping by index and running one
fused search per group (server/query_service.h:68-84,130-167,
server/query_service.cpp:267-401). Structured Streaming's micro-batch IS
that coalescer: the trigger interval plays the coalesce window, the batch
of rows in each micro-batch plays the fused query matrix, and
``foreachBatch`` runs the same set-at-a-time IVF search used for batch
queries — one code path for both serving modes.

Backpressure knobs (the rate-limiter analog, V3): file sources take
``maxFilesPerTrigger``, Kafka-like sources ``maxOffsetsPerTrigger`` —
source-side caps. For reference-exact token-bucket semantics pass a
``flow.TokenBucket`` as ``rate_limiter`` (acquired per query before the
batch runs; blocking the handler delays the next trigger, which IS
streaming backpressure), and a ``flow.LoadController`` as ``controller``
to get the circuit-breaker/shed policy (V4) around the search itself.

V5+V6 end to end: pass a ``flow.PriorityRequestQueue`` as
``priority_queue`` and the micro-batch is STAGED through it — requests
enqueue by priority (an optional ``priority`` column on the stream),
then drain in fusion groups whose size is
``controller.optimal_batch_size()`` (the adaptive 16/32/64 of
server/load_balancer.cpp:75-85; 64 — the reference's max_batch_size —
when no controller is attached), highest priority first, FIFO within.
Each drained group runs one fused search under the circuit breaker.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..metrics import LatencyRecorder
from ..operators import knn
from ..operators.ivf import IVFIndex

__all__ = ["LatencyRecorder", "serve_query_stream"]

# the reference flushes a coalesced batch at 64 requests
# (server/query_service.h:68-84); used when no LoadController is attached
MAX_FUSION_GROUP = 64


def serve_query_stream(
    index: IVFIndex,
    query_stream: DataFrame,
    k: int,
    nprobe: "int | None" = None,
    output_sink=None,
    trigger: dict | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "ivf-search-stream",
    recorder: LatencyRecorder | None = None,
    rate_limiter=None,
    controller=None,
    priority_queue=None,
    priority_col: str = "priority",
    batch_cap: int | None = None,
) -> StreamingQuery:
    """Serve a stream of {query_id, qvec} through the IVF index.

    ``output_sink(result_df, batch_id)`` receives the RESULTS-shaped
    DataFrame per micro-batch (default: append to an in-memory list on the
    driver is the caller's business — pass a writer that persists). With a
    ``priority_queue`` it is called once per drained fusion group.

    ``recorder`` captures per-batch serving latency (search + sink action
    wall time; queue wait before the trigger is the source's concern) for
    ``metrics.latency_summary``.

    ``nprobe=None`` serves at the epoch's manifest-stamped recall
    operating point when one exists (``IVFIndex.tune_recall``), else 8.

    ``batch_cap`` (r11 verdict #5 — the measured batch-saturation law
    made executable): in staged mode, drain fusion groups of exactly
    this size instead of the controller's reference-parity 16/32/64,
    which r11 measured at up to ~4x the per-query cost of draining at
    the fused scan's ~256 saturation knee
    (``flow.THROUGHPUT_BATCH_SIZE``, artifact
    scripts/artifacts_batch_scaling_768d.json). Pass
    ``flow.THROUGHPUT_BATCH_SIZE`` for throughput mode; leave None for
    reference-parity adaptive sizing.

    Each micro-batch is collected exactly ONCE, and that collect is the
    search's query matrix: ``knn.collect_query_matrix`` in pass-through
    mode, a ``collect`` of the coalesced rows (with their priorities) in
    staged mode, whose drained fusion groups are slices of the collected
    rows. Every search then runs through ``index.search_matrix`` — no
    pre-search ``count``, no second collect of the same rows, and no
    ``createDataFrame`` per fusion group.
    """
    from .flow import CircuitOpenError, OverloadedError, Priority

    if batch_cap is not None and batch_cap < 1:
        raise ValueError(f"batch_cap must be >= 1, got {batch_cap}")

    def run_search(qids: np.ndarray, Q: np.ndarray, batch_id: int) -> None:
        t0 = time.perf_counter()
        results = index.search_matrix(qids, Q, k=k, nprobe=nprobe)
        if output_sink is not None:
            output_sink(results, batch_id)
        elif recorder is not None:
            results.count()  # force the search so the timing is real
        if recorder is not None:
            recorder.record(
                index.manifest.index_name,
                batch_id,
                len(qids),
                (time.perf_counter() - t0) * 1000.0,
            )

    def guarded(fn) -> None:
        """V4: shed the unit of work while the circuit is open — dropped,
        not fatal, exactly as the reference answers UNAVAILABLE without
        killing the server; search errors open the circuit."""
        if controller is None:
            fn()
            return
        try:
            controller.handle(index.manifest.index_name, fn)
        except (CircuitOpenError, OverloadedError):
            pass

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = priority_queue is not None
        if staged:
            rows = batch_df.collect()  # the micro-batch's one collect
            n = len(rows)
        else:
            qids, Q = knn.collect_query_matrix(batch_df)  # its one collect
            n = len(qids)
        if n == 0:
            return
        if rate_limiter is not None:
            # one token per coalesced query; blocking here delays the next
            # trigger — streaming backpressure (V3)
            rate_limiter.acquire(n)
        try:
            if staged:
                has_p = priority_col in batch_df.columns
                for r in rows:
                    pr = int(r[priority_col]) if has_p else Priority.NORMAL
                    priority_queue.enqueue(pr, r)
                while len(priority_queue):
                    if batch_cap is not None:
                        size = batch_cap
                    elif controller is not None:
                        size = controller.optimal_batch_size()
                    else:
                        size = MAX_FUSION_GROUP
                    group = priority_queue.drain(size)
                    gq = np.array([r["query_id"] for r in group], dtype=np.int64)
                    gQ = np.array([r["qvec"] for r in group], dtype=np.float64)
                    guarded(lambda a=gq, b=gQ: run_search(a, b, batch_id))
            else:
                guarded(lambda: run_search(qids, Q, batch_id))
        finally:
            if controller is not None:
                controller.decay()

    writer = query_stream.writeStream.foreachBatch(process_batch).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
