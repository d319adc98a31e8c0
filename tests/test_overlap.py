"""``functions.actions.overlap``: the one helper for running two
independent driver jobs side by side, and its callers."""

from __future__ import annotations

import time

import pytest


def _active_jobs(spark) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getActiveJobsIds())


def test_overlap_returns_both_and_inherits_job_group(spark):
    from mapreduce6240project_spark.functions.actions import overlap

    sc = spark.sparkContext
    sc.setJobGroup("overlap-inherit", "overlap test")
    try:
        # the main path runs no job: every job in the group is the side's
        got = overlap(spark, lambda: "main", lambda: spark.range(5).count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == ("main", 5)
    assert sc.statusTracker().getJobIdsForGroup("overlap-inherit")


def test_global_clustering_cancels_wedge_job_on_error(spark, monkeypatch):
    """When the triangle job fails, the wedge job beside it is
    cancelled before the error reaches the caller -- no orphaned job
    keeps running into the caller's next one."""
    from pyspark.sql import functions as F

    from mapreduce6240project_spark.operators import graph

    @F.udf("bigint")
    def slow(x):
        time.sleep(1)
        return x

    pairs = spark.range(0, 8, numPartitions=4).select(
        slow("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )

    def failing_triangles(*_a, **_k):
        deadline = time.monotonic() + 60
        while not _active_jobs(spark) and time.monotonic() < deadline:
            time.sleep(0.05)
        raise RuntimeError("triangle job failed")

    monkeypatch.setattr(graph, "triangle_count", failing_triangles)
    assert _active_jobs(spark) == []
    with pytest.raises(RuntimeError, match="triangle job failed"):
        graph.global_clustering(pairs)
    assert _active_jobs(spark) == []
    pairs.unpersist()
