"""Tests for the plan-metrics walker and the status-store job reader, on
tiny inputs and with the benchmark's own session (UI disabled).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from sparkmetrics import Job, busy_s, jobs_after, last_job_id, plan_metrics  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    spark = run.start_session(2)
    assert spark.conf.get("spark.ui.enabled") == "false"
    yield spark
    run.stop_session(spark)
    shutil.rmtree(run.WORK, ignore_errors=True)


def test_walker_reads_the_query_execution_whose_action_ran(spark):
    from dots_ocr_spark import pipeline

    out = pipeline.extract(pipeline.generate_input(spark, 20, seed=1))
    # a noop write plans and runs its own QueryExecution, so out's plan
    # never executes and reads all zeros
    out.write.format("noop").mode("overwrite").save()
    assert plan_metrics(out).get("pythonDataSent") == 0
    assert plan_metrics(out).get("pythonNumRowsReceived") == 0

    out = pipeline.extract(pipeline.generate_input(spark, 20, seed=1))
    assert len(out.collect()) == 20
    m = plan_metrics(out)
    assert m["pythonNumRowsReceived"] == 40  # the generator and extract
    assert m["pythonDataSent"] > 0 and m["pythonDataReceived"] > 0
    assert m["pythonTotalTime"] > 0  # seconds, not milliseconds
    assert m["pythonTotalTime"] < 600


def test_walker_unwraps_adaptive_plan_and_query_stages(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, numPartitions=4) \
        .groupBy((F.col("id") % 10).alias("k")).count()
    assert len(df.collect()) == 10
    top = df._jdf.queryExecution().executedPlan()
    assert top.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    m = plan_metrics(df)
    # the exchange sits inside a ShuffleQueryStageExec of the final plan
    assert m["shuffleBytesWritten"] > 0
    assert m["shuffleRecordsWritten"] == 40  # 4 map tasks x 10 keys
    assert m["localBytesRead"] + m["remoteBytesRead"] == m["shuffleBytesWritten"]


def test_jobs_after_reads_job_times_from_the_status_store(spark):
    before = last_job_id(spark)
    t0 = time.time()
    spark.range(0, 100, numPartitions=3).selectExpr("sum(id)").collect()
    t1 = time.time()
    jobs = jobs_after(spark, before)
    assert jobs and all(j.job_id > before for j in jobs)
    assert sum(j.tasks for j in jobs) >= 3
    for j in jobs:
        assert t0 - 1 <= j.submitted_s <= j.completed_s <= t1 + 1
    assert last_job_id(spark) == jobs[-1].job_id


def test_busy_s_counts_overlapping_jobs_once():
    jobs = [Job(0, 10.0, 12.0, 1), Job(1, 11.0, 13.0, 1), Job(2, 20.0, 21.0, 1)]
    assert busy_s(jobs) == pytest.approx(4.0)
    assert busy_s([]) == 0.0
