"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the configs below are
the ones that matter identically on a 1000-executor cluster: AQE on (runtime
re-plan, skew-join handling, partition coalescing), Arrow on (the pandas-UDF
hot path moves columnar batches, the analog of the reference's Arrow IPC
storage + dense GPU scans, format/storage.cpp:183-226), UTC session time so
timestamp semantics match any SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def session_conf(
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The options ``get_spark`` starts its session with, composed from the
    environment and the caller's ``extra_conf`` (which wins on any key).

    ``spark.sql.shuffle.partitions`` defaults to the core count rather than
    Spark's 200: at 100 TB the real setting comes from AQE advisory sizes,
    locally 200 tiny tasks just add scheduler overhead.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Respect advisoryPartitionSizeInBytes when coalescing instead of
        # targeting the core count (the Spark docs' own recommendation for
        # this flag). parallelismFirst=true kept every small shuffle at
        # ~defaultParallelism near-empty partitions, so tiny cached
        # relations carried 32 partitions into every downstream stage —
        # measured r15 interleaved A/B over a 9-row catalog slice:
        # 23.95s vs 28.97s and 18.24s vs 20.71s (false wins both pairs,
        # nearly every row; scripts/ab_parallelism_first.py). At cluster
        # scale this is the setting that sizes partitions by bytes
        # (guide §2.2), not a local-core-count tune.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": os.environ.get(
            "SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long nanos, converted in sources.tables.load
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    conf.update(extra_conf or {})
    # Pre-fault the whole heap at JVM start (-Xms = -Xmx + AlwaysPreTouch):
    # standard practice for dedicated Spark drivers/executors (fixed-size
    # heap, no uncommit/recommit churn). On the r14 measurement host it was
    # load-bearing: fresh anonymous pages faulted at ~0.1-0.35 GB/s (first-touch
    # probes, OPTIMIZATION_r14.md), so a lazily-grown heap pays that cost
    # INSIDE timed queries; pre-touching moves it to startup. Interleaved
    # A/B on the bench IVF workload: add_time 10.65s -> 5.84s min-of-reps
    # (scripts/ab_pretouch.py). On a normally-fast host the pretouch is
    # <2s of startup. Opt out with SPARK_GRAFT_PRETOUCH=0.
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0":
        # -Xms is the RESOLVED driver memory (a caller's
        # spark.driver.memory included), so it never exceeds the heap
        # maximum; merged with (not replacing) any caller-supplied
        # extraJavaOptions, which come last so they win on a conflicting
        # -Xms. On memory-constrained hosts where eagerly committing the
        # full heap would fail or swap, opt out with SPARK_GRAFT_PRETOUCH=0.
        user_opts = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{conf['spark.driver.memory']} -XX:+AlwaysPreTouch " + user_opts
        ).strip()
    return conf


def get_spark(
    app_name: str = "cavde-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with ``session_conf``'s options."""
    builder = SparkSession.builder.appName(app_name)
    for k, v in session_conf(cpus, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
