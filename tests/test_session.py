"""Session option composition, checked without starting a JVM."""

from __future__ import annotations

from cuda_acceleratedvectordatabaseengine_spark.session import session_conf


def test_pretouch_heap_follows_caller_driver_memory(monkeypatch):
    """-Xms must never exceed the heap maximum: a caller's
    spark.driver.memory below the environment's default used to pair
    -Xms8g with a 4g heap, and the JVM refused to start."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    monkeypatch.delenv("SPARK_GRAFT_PRETOUCH", raising=False)
    conf = session_conf(extra_conf={"spark.driver.memory": "4g"})
    assert conf["spark.driver.memory"] == "4g"
    assert conf["spark.driver.extraJavaOptions"].split()[:2] == [
        "-Xms4g", "-XX:+AlwaysPreTouch"
    ]
    # no caller memory: the environment's
    conf = session_conf()
    assert conf["spark.driver.memory"] == "8g"
    assert conf["spark.driver.extraJavaOptions"].startswith("-Xms8g ")


def test_caller_java_options_compose(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.delenv("SPARK_GRAFT_PRETOUCH", raising=False)
    conf = session_conf(
        cpus=3,
        shuffle_partitions=5,
        extra_conf={"spark.driver.extraJavaOptions": "-Dfoo=1 -Xms1g"},
    )
    # caller flags come last, so they win on a conflicting -Xms
    assert conf["spark.driver.extraJavaOptions"] == (
        "-Xms2g -XX:+AlwaysPreTouch -Dfoo=1 -Xms1g"
    )
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "5"
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "0")
    assert session_conf(extra_conf={"spark.driver.extraJavaOptions": "-Dfoo=1"})[
        "spark.driver.extraJavaOptions"
    ] == "-Dfoo=1"
    assert "spark.driver.extraJavaOptions" not in session_conf()
