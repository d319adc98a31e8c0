"""SparkSession construction.

Local-mode settings match the driver harness (local[N], AQE on, UTC
timestamps so the DuckDB oracle compares cleanly). On a real cluster the
same builder works -- only master/memory change; the AQE + Arrow settings
are the ones we want at 100 TB too (runtime shuffle-partition coalescing,
skew-join splitting, vectorized Python interop).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "mapreduce6240project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``shuffle_partitions`` defaults to the core count -- at 100 TB you
    would raise it (or let AQE coalesce from a high initial number);
    locally 200 default partitions would just add scheduling overhead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    # Make the package importable on PYTHON WORKERS regardless of the
    # consumer's cwd: a driver script that did sys.path.insert(0, repo)
    # mutates only its own interpreter, so any UDF closure referencing a
    # module-level function (cloudpickle serializes those BY REFERENCE)
    # would die in the worker with ModuleNotFoundError.  Exporting the
    # repo root on PYTHONPATH before the JVM/daemon launches propagates
    # it to every worker; on a real cluster the same job ships the
    # package via --py-files / an env image instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver's parquet files carry TIMESTAMP(NANOS) columns, which
        # Spark's vectorized reader rejects by default; read them as raw
        # nanosecond longs and convert centrally in sources.tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---------------------------------------------------------------------------
# pin registry: the one way engine code keeps a frame's storage alive
# ---------------------------------------------------------------------------
#
# Operators persist or checkpoint intermediate frames that a lazily
# returned result still reads, so they cannot free them before
# returning.  Every such frame goes through :func:`pin` or
# :func:`checkpoint`, which record it here; :func:`release_pins` frees
# them all once the consuming action has run, and :func:`unpin` frees
# one early (the superseded state of an iterative loop once its
# successor is materialized).
#
# Session-scoped stores are deliberately NOT pins -- they outlive a
# query run and are released with their session:
#
# * ``sources.tweets._FEATURE_STORE_CACHE`` -- persisted feature store;
# * ``operators.graph._SIMGRAPH_CACHE`` -- persisted similarity graph;
# * ``sources.tables._TABLE_CACHE`` and ``sources.tweets._FEATURE_PLAN_CACHE``
#   -- unresolved plan objects, nothing persisted;
# * ``plans.extensions._QUERY_VEC_MEMO`` -- the benchmark query vector,
#   a session-scoped request parameter (64 floats, nothing persisted).

_pins: list[DataFrame] = []
_pins_lock = threading.Lock()


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` until :func:`release_pins` (or :func:`unpin`).
    ``eager`` fills the cache now with a count, so every consumer reads
    it; otherwise the first consuming action fills it."""
    df = df.persist()
    with _pins_lock:
        _pins.append(df)
    if eager:
        df.count()
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` ``df`` (lineage truncated, blocks pinned on
    the executors) until :func:`release_pins` (or :func:`unpin`).  The
    one place engine code may call ``localCheckpoint``."""
    df = df.localCheckpoint(eager=eager)
    with _pins_lock:
        _pins.append(df)
    return df


def _release(df: DataFrame) -> None:
    """Free a pinned frame's storage.  A localCheckpoint'ed frame is
    NOT registered with the CacheManager (its persistence is RDD-level
    inside the LogicalRDD), so ``DataFrame.unpersist`` alone would be a
    silent no-op and the checkpoint blocks would linger until JVM GC --
    reach the underlying RDD through the analyzed plan and unpersist it
    directly.  BOTH releases always run: a persisted frame can itself
    root at a LogicalRDD (createDataFrame / checkpoint output), in which
    case it holds a CacheManager entry AND an RDD-level block set."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass


def unpin(df: DataFrame) -> None:
    """Free ``df`` now and drop it from the registry."""
    with _pins_lock:
        for i, p in enumerate(_pins):
            if p is df:
                del _pins[i]
                break
    _release(df)


def release_pins() -> int:
    """Free every pinned frame.  Call after the consuming action has
    run (results collected or written).  Returns how many were freed."""
    with _pins_lock:
        frames, _pins[:] = list(_pins), []
    for df in frames:
        _release(df)
    return len(frames)


def pin_census(spark: SparkSession) -> tuple[frozenset[int], int, int]:
    """What ``spark`` holds: (ids of its persistent RDDs, CacheManager
    entries, allow-listed store entries).  Each store entry is one
    persisted frame, so a run that ends with more new RDDs or cache
    entries than it added store entries leaked.  RDD ids, not a count:
    a JVM GC may free an older unreferenced RDD mid-run, which a count
    would mistake for a release."""
    from mapreduce6240project_spark.operators import graph
    from mapreduce6240project_spark.sources import tweets

    stores = len(tweets._FEATURE_STORE_CACHE.get(spark, {}))
    if graph._SIMGRAPH_CACHE is not None:
        stores += len(graph._SIMGRAPH_CACHE.get(spark, {}))
    rdds = frozenset(int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet())
    cache = spark._jsparkSession.sharedState().cacheManager()
    return rdds, cache.numCachedEntries(), stores
