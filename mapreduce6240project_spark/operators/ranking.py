"""Stratum-scalable order statistics: per-group ranks and cumulative
sums WITHOUT a per-group window partition.

``Window.partitionBy(stratum)`` funnels each stratum through one task;
with a handful of strata (languages, regions) over 100 TB that is one
executor per stratum.  The scalable shape (first used by
``stable_doc_ids``, wave11) is:

1. ``repartitionByRange`` on ``(strata..., order...)`` -- the range
   partitioner preserves the total sort order ACROSS partitions, so
   within a stratum the partition id sequence follows the global order;
2. rank / cumulative-sum inside each ``(partition, stratum)`` slice in
   parallel;
3. add per-``(stratum, partition-prefix)`` offsets from a table of at
   most ``partitions x strata`` rows (broadcast, driver-bounded).

The partitioned frame is pinned with ``localCheckpoint`` so the
numbering branch and the offsets branch see the SAME boundary sample --
with exchange reuse disabled, two independent range-boundary samples
could disagree and ranks would gap or collide.

Reference parity note: generalizes the reference's single-reducer
global-order funnel (SURVEY.md section 2.7 X3) into a parallel plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce6240project_spark.session import checkpoint


def stratum_order_stats(
    df: DataFrame,
    strata: list[str],
    order: list[str],
    weight: str | None = None,
    num_partitions: int = 32,
) -> DataFrame:
    """Return ``df`` plus per-stratum order statistics computed with
    pid-parallel windows:

    - ``rn``: 1-based rank within the stratum under ``order``
    - ``n``: stratum row count
    - ``cw`` / ``tw`` (only when ``weight`` is given): cumulative and
      total weight within the stratum under the same order

    ``order`` columns must totally order rows within each stratum
    (include a unique tie-breaker) or ranks are nondeterministic.
    """
    cols = df.columns
    parts = checkpoint(
        df.repartitionByRange(num_partitions, *strata, *order).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    w_in = Window.partitionBy("pid", *strata).orderBy(*order)
    w_cum = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = parts.withColumn("pos", F.row_number().over(w_in))
    aggs = [F.count("*").alias("c")]
    if weight is not None:
        numbered = numbered.withColumn(
            "local_cw", F.sum(weight).over(w_cum)
        )
        aggs.append(F.sum(weight).alias("s"))
    counts = parts.groupBy(*strata, "pid").agg(*aggs)
    w_off = (
        Window.partitionBy(*strata)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*strata)
    off_cols = [
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off_n"),
        F.sum("c").over(w_tot).alias("n"),
    ]
    if weight is not None:
        off_cols += [
            F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("off_w"),
            F.sum("s").over(w_tot).alias("tw"),
        ]
    offsets = counts.select(*strata, "pid", *off_cols)
    out = numbered.join(F.broadcast(offsets), [*strata, "pid"])
    result_cols = [*cols, (F.col("off_n") + F.col("pos")).alias("rn"), "n"]
    if weight is not None:
        result_cols += [(F.col("off_w") + F.col("local_cw")).alias("cw"), "tw"]
    return out.select(*result_cols)
