"""Driver-side action helpers shared by probe/decision code paths."""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor, wait
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.util import inheritable_thread_target

M = TypeVar("M")
S = TypeVar("S")


def first_row(df: DataFrame) -> Row | None:
    """Collect a known-tiny DataFrame (global aggregate, bounded scalar
    probe) and return its first row -- in ONE Spark job.

    ``df.first()`` plans ``CollectLimit(1)``, whose incremental
    partition-scan execution submits several sequential jobs (an initial
    single-partition round, then scale-up rounds; under AQE additionally
    one job per query stage).  For a global aggregate the full input is
    scanned regardless, so the incremental rounds are pure scheduling
    overhead: measured 5-12x slower than a straight ``collect()`` on the
    dedup decision probes (0.40 s/3 jobs -> 0.03 s/1 job at sf0.1).

    Only use on plans whose result is small and bounded (single-row
    aggregates, k-row probes) -- ``collect()`` has no row limit.
    """
    rows = df.collect()
    return rows[0] if rows else None


def overlap(
    spark: SparkSession, main: Callable[[], M], side: Callable[[], S]
) -> tuple[M, S]:
    """Run ``side()`` on a driver thread while ``main()`` runs on this
    one, and return both results.  For independent driver jobs over the
    same inputs: actions are only sequential because the driver calls
    them sequentially, so the side job's scheduling latency hides under
    the main job's.

    The side thread inherits the caller's local properties (job group,
    description) and tags its jobs.  If ``main()`` raises, the tagged
    jobs are cancelled until the side thread has finished, and only then
    does the error propagate -- no orphaned job keeps running beside
    the caller's next one.  A ``side()`` error surfaces after
    ``main()`` returns."""
    sc = spark.sparkContext
    tag = f"overlap-{uuid.uuid4().hex}"

    def tagged() -> S:
        sc.addJobTag(tag)
        try:
            return side()
        finally:
            sc.removeJobTag(tag)

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(inheritable_thread_target(spark)(tagged))
        try:
            out = main()
        except BaseException:
            # a job the side thread submits after one cancel is caught
            # by the next
            while not fut.done():
                sc.cancelJobsWithTag(tag)
                wait([fut], timeout=0.05)
            raise
        return out, fut.result()
