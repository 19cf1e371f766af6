"""The event-log parser, on an event log this test writes itself.

Run with ``python -m pytest perfbench/tests -q`` from the checkout root.
"""

import os

import pandas as pd
import pytest

import eventlog
from probes import Tracer, tag_actions


@pytest.fixture(scope="module")
def logged(tmp_path_factory):
    """A small Spark application with a shuffle, a pandas UDF and a
    tagged collect; returns the parsed log and the tracer."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    if SparkSession.getActiveSession() is not None:
        # the event log belongs to an application; sharing another suite's
        # session would neither log nor survive this fixture's stop()
        pytest.skip("run perfbench/tests in a process of their own")
    logdir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logdir)
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    tracer = Tracer()
    try:
        df = spark.range(0, 2000, 1, 4).select(plus_one("id").alias("v"))
        with tracer.span("grouped"):
            grouped = (
                df.groupBy((F.col("v") % 7).alias("k")).count().collect()
            )
        with tag_actions(spark, tracer, (os.path.abspath(__file__),)):
            n = spark.range(0, 100, 1, 2).count()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    assert sum(r["count"] for r in grouped) == 2000 and n == 100
    return eventlog.parse(os.path.join(logdir, app_id)), tracer


def test_jobs_and_stages(logged):
    log, tracer = logged
    span = tracer.spans[0]
    jobs = log.jobs_between(span["start_ms"], span["end_ms"])
    assert jobs and all(j.succeeded and j.end_ms >= j.submit_ms for j in jobs)
    stages = log.stages_of(jobs)
    # the map side writes what the reduce side reads
    written = sum(s.shuffle_write_bytes for s in stages)
    read = sum(s.shuffle_read_bytes for s in stages)
    assert written > 0 and read == written
    assert sum(s.n_tasks for s in stages) >= 4 + 3
    for s in stages:
        assert s.wall_s >= 0 and len(s.task_s) == s.n_tasks
        assert s.task_skew >= 1.0


def test_python_metrics(logged):
    log, tracer = logged
    span = tracer.spans[0]
    stages = log.stages_of(log.jobs_between(span["start_ms"], span["end_ms"]))
    udf = [s for s in stages if s.sql.get(eventlog.PY_SENT, 0) > 0]
    assert len(udf) == 1
    st = udf[0]
    # 2,000 int64 values go in and come back, plus Arrow framing
    assert st.sql[eventlog.PY_SENT] >= 2000 * 8
    assert st.sql[eventlog.PY_RECV] >= 2000 * 8
    assert 0 <= st.sql.get(eventlog.PY_RUN, 0) < st.wall_s * st.n_tasks + 1
    # the application's first Python tasks fork their workers
    assert 0 < st.python_boot_init_s < st.wall_s * st.n_tasks + 1
    execs = {j.execution_id for j in log.jobs.values()} & set(log.executions)
    rows = sum(
        st.accum.get(a, 0)
        for e in execs
        for a in log.executions[e].python_row_accums
    )
    assert rows == 2000


def test_tagged_call_site(logged):
    log, tracer = logged
    keys = {j.key for j in log.jobs.values()}
    site = [k for k in keys if k.startswith("test_perfbench_eventlog.py:")]
    assert site and site[0].endswith(" count")
    assert any(s["name"] == "spark.action" for s in tracer.spans)


def test_union_of_intervals():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 1000), (500, 1500), (2000, 2500)]) == 2.0
