"""Spark job counts of the search and serving paths.

The per-job floor dominates small searches, so the number of jobs a
search or a serving micro-batch launches is bounded here: a regression
that brings back a pre-search ``count``, a second collect of the same
micro-batch, or a shuffle merge under the driver budget fails these
bounds. Jobs are read from the status tracker by job group."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cuda_acceleratedvectordatabaseengine_spark.operators.ivf import IVFIndex
from cuda_acceleratedvectordatabaseengine_spark.sources import tables
from cuda_acceleratedvectordatabaseengine_spark.streaming.search_stream import (
    serve_query_stream,
)

# collect the query matrix, run the scan with its driver merge, and the
# caller's toArrow of the local-relation result
SEARCH_JOBS = 3
# the same three jobs: one collect of the micro-batch, the scan, the sink
MICRO_BATCH_JOBS = 3


@pytest.fixture(scope="module")
def served(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    queries = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    tmp = tempfile.mkdtemp(prefix="cavde-jobs-")
    index = IVFIndex.build(corpus, f"{tmp}/index", "jobs", nlist=8, metric="l2", seed=42)
    yield tmp, index, queries
    shutil.rmtree(tmp, ignore_errors=True)


def _group_jobs(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_search_job_count(spark, served):
    _tmp, index, queries = served
    run = lambda: index.search(queries, k=10, nprobe=4).toArrow()  # noqa: E731
    run()  # first-call costs (plan, worker start) are not the steady count
    jobs = _group_jobs(spark, "test-ivf-search-jobs", run)
    assert 0 < len(jobs) <= SEARCH_JOBS, jobs


def test_serving_micro_batch_job_count(spark, served):
    """One pass-through micro-batch of 64 queries. The stream thread runs
    its jobs under the query's run id as the job group."""
    tmp, index, queries = served
    queries.write.mode("overwrite").parquet(f"{tmp}/qs")
    got = []
    q = serve_query_stream(
        index,
        spark.readStream.schema(queries.schema).parquet(f"{tmp}/qs"),
        k=10,
        nprobe=4,
        output_sink=lambda df, _bid: got.append(df.toArrow()),
        checkpoint_dir=f"{tmp}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 1
    # the micro-batch's rows are read once: a pre-search count or a second
    # collect would read them again
    assert batches[0]["numInputRows"] == 64
    assert sum(t.num_rows for t in got) == 64 * 10
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= MICRO_BATCH_JOBS, sorted(jobs)
