"""Time-window analytics over the events table (SURVEY.md section 2.11:
absent from the batch-only reference; designated extension surface).

Batch implementations here; ``streaming.jobs`` wraps the same logic as
Structured Streaming queries.  Window starts are returned as epoch
*seconds* (bigint) so the DuckDB oracle compares integers, not
timestamp-rendering details.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce6240project_spark.functions.numeric import stable_sum_micros
from mapreduce6240project_spark.session import pin


def tumbling_window(
    events: DataFrame,
    width: str = "10 minutes",
    ts_col: str = "ts",
    width_s: int = 600,
) -> DataFrame:
    """Tumbling count/sum per (window, event_type).  ``F.window`` is the
    native operator; epoch-aligned, one shuffle (partial agg first).
    NULL-timestamp events are excluded -- they cannot be windowed
    (``F.window`` drops them anyway; the explicit filter makes the
    contract visible and keeps the SQL oracle's WHERE equivalent)."""
    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), stable_sum_micros("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding (hopping) window counts: each event lands in
    width/slide windows.  NULL-timestamp events are excluded (see
    tumbling_window)."""
    from mapreduce6240project_spark.functions.numeric import stable_avg_cents

    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("n"), stable_avg_cents("value").alias("avg_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n",
            "avg_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    gap_s: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Sessionization: events of a user belong to one session while
    consecutive gaps stay below ``gap``.

    Batch implementation is the classic gaps-and-islands window plan
    (lag -> new-session flag -> running sum), one shuffle on the user
    key; semantically identical to ``F.session_window`` grouping (new
    session iff ts >= prev_ts + gap) and expressible in ANSI SQL for the
    oracle.  The streaming variant (streaming.jobs.streaming_sessions)
    uses the native ``session_window``.
    Returns (user_id, session_start epoch-s, n_events, duration_s).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col))
    gap_us = gap_s * 1_000_000
    # NULL-timestamp events have no place in a time-ordered session --
    # and the engines disagree on where bare ASC puts NULLs (Spark
    # first, DuckDB last), so an unfiltered NULL row would shift every
    # session boundary for its user (dirty-events contract finding)
    events = events.filter(F.col(ts_col).isNotNull())
    flagged = events.withColumn(
        "_new",
        F.when(us - F.lag(us).over(w) >= gap_us, 1).when(
            F.lag(us).over(w).isNull(), 1
        ).otherwise(0),
    ).withColumn("_session", F.sum("_new").over(w))
    return (
        flagged.groupBy(key_col, "_session")
        .agg(
            (F.floor(F.min(us) / 1_000_000)).alias("session_start"),
            F.count("*").alias("n_events"),
            F.floor((F.max(us) - F.min(us)) / 1_000_000).alias("duration_s"),
        )
        .select(key_col, "session_start", "n_events", "duration_s")
    )


def gapfill_locf(
    events: DataFrame,
    width_s: int = 600,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Gap-filled resampling with last-observation-carried-forward --
    the hypertable `time_bucket_gapfill + locf` pattern: every
    (key, bucket) cell of the dense time grid gets a row; buckets with
    no events carry the previous bucket's aggregate (NULL before the
    key's first observation) and n = 0.

    Plan shape: one bucketed partial aggregate (the only data-sized
    shuffle), then a *generated* spine -- sequence(min_bucket,
    max_bucket) exploded against the distinct keys, both tiny inputs
    derived from the aggregate, never from raw events -- left-joined
    back and patched with a last(ignorenulls) window per key.  The
    spine size is (time_range / width) x #keys: bounded by clock time,
    not data volume, so at 100 TB the spine is still thousands of rows.
    The LOCF window scans one key's buckets serially; with many years x
    sub-second buckets, partition additionally by coarse time and stitch
    the boundary value -- at the widths real rollups use, serial per-key
    is the right plan."""
    bucket = (F.unix_timestamp(F.col(ts_col)) / width_s).cast("bigint") * width_s
    agg = pin(
        events.groupBy(bucket.alias("bucket"), F.col(key_col).alias("k")).agg(
            F.count("*").alias("n"), stable_sum_micros(value_col).alias("sum_value")
        )
    )
    rng = agg.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = (
        agg.select("k")
        .distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "k",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(width_s))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(agg, ["k", "bucket"], "left")
        .select(
            F.col("bucket").alias("window_start"),
            F.col("k").alias(key_col),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        )
    )


def decayed_rolling_value(
    events: DataFrame,
    alpha: float = 0.9,
    depth: int = 8,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Per-key exponentially-decayed rolling feature: for each event,
    ``sum_{i=0}^{depth-1} alpha^i * value[t-i]`` over that key's last
    ``depth`` events in time order -- the streaming-feature shape
    (recency-weighted engagement) behind ranking/feed models.

    A *bounded* frame (ROWS BETWEEN depth-1 PRECEDING AND CURRENT ROW)
    rather than the cumulative ``alpha^t * sum(v_i * alpha^-i)``
    factorization: the cumulative trick overflows ``alpha^-i`` after a
    few hundred events per key, so it cannot survive a 100x scale-up.
    The frame's values are gathered with collect_list over the ordered
    window (frame order is the window order: deterministic under the
    unique (ts, event_id) sort key) and folded positionally -- each
    term micro-quantized before the fixed-order fold, so the result is
    engine- and partition-independent.  One shuffle on the key; state
    per row is ``depth`` doubles.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, "event_id")
        .rowsBetween(-(depth - 1), 0)
    )
    vals = F.collect_list(val_col).over(w)
    n = F.size("frame")
    # frame is oldest-first; element j (1-based) gets alpha^(n-j)
    term = lambda j: F.floor(  # noqa: E731
        F.element_at("frame", j)
        * F.pow(F.lit(alpha), (n - F.lit(j)).cast("double"))
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    decayed = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc + term(j),
    )
    return (
        events.withColumn("frame", vals)
        .withColumn("decayed_micros", decayed)
        .select("event_id", key_col, "decayed_micros")
    )


def interpolate_linear_grid(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Linear interpolation of a per-key signal onto a dense one-minute
    grid (the hypertable `time_bucket_gapfill + interpolate` pattern;
    complements :func:`gapfill_locf`, which carries the last value flat).

    Per key, grid points run from trunc(first obs, minute) + 1 minute
    to trunc(last obs, minute) -- note the lower bound skips a first
    observation that falls exactly ON a minute boundary (strictly-after
    semantics, mirrored in the oracle); each grid value is
    ``pv + (nv - pv) * (t - pt) / (nt - pt)`` from the bracketing
    observations.  Returns per-key ``n_points`` and the fixed-point sum
    of interpolated values (``sum_micros``), both exact integers.

    Plan shape: NO range join -- observations and grid rows are
    unioned and one window pass per key (ordered by (ts, tag), obs
    before grid on ties) finds the bracketing obs with
    last/first(ignorenulls).  One shuffle on the key; the grid is
    generated from per-key min/max bounds (time-bounded, not
    data-sized).  Every arithmetic step is the same IEEE op sequence in
    any engine: integer epoch-micros deltas, one double divide, one
    multiply-add, then micro-quantization before the reorderable sum.
    Keys with long spans fan out via the same coarse-time split
    documented on gapfill_locf."""
    obs = events.select(
        F.col(id_col).alias("k"),
        F.unix_micros(F.col(ts_col)).alias("tus"),
        F.col(val_col).cast("double").alias("v"),
        F.lit("a").alias("tag"),
    )
    bounds = events.groupBy(F.col(id_col).alias("k")).agg(
        (F.date_trunc("minute", F.min(ts_col)) + F.expr("INTERVAL 1 MINUTE")).alias(
            "s"
        ),
        F.date_trunc("minute", F.max(ts_col)).alias("e"),
    )
    grid = (
        bounds.filter(F.col("s") <= F.col("e"))
        .select(
            "k",
            F.explode(
                F.sequence(F.col("s"), F.col("e"), F.expr("INTERVAL 1 MINUTE"))
            ).alias("gts"),
        )
        .select(
            "k",
            F.unix_micros(F.col("gts")).alias("tus"),
            F.lit(None).cast("double").alias("v"),
            F.lit("b").alias("tag"),
        )
    )
    wp = (
        Window.partitionBy("k")
        .orderBy("tus", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("k")
        .orderBy("tus", "tag")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("tag") == "a", F.col("tus"))
    u = (
        obs.unionByName(grid)
        .withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pt", F.last(obs_t, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nt", F.first(obs_t, ignorenulls=True).over(wn))
    )
    frac = (F.col("tus") - F.col("pt")) / (F.col("nt") - F.col("pt")).cast("double")
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    return (
        u.filter(
            (F.col("tag") == "b")
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") > F.col("pt"))
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.floor(interp * 1000000 + F.lit(0.5)).cast("bigint")).alias(
                "sum_micros"
            ),
        )
        .select(F.col("k").alias(id_col), "n_points", "sum_micros")
    )


def inter_event_gaps(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Histogram of per-key inter-arrival gaps: lag() per key in
    (ts, event_id) order -- a unique sort key, so the lag is
    deterministic -- bucketed into fixed human-scale bands.  One
    shuffle on the key; output is bounded by the bucket count.  The
    bucket totals are exact integer micros."""
    w = Window.partitionBy(id_col).orderBy(ts_col, "event_id")
    gap = F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w)
    g = F.col("gap_us")
    bucket = (
        F.when(g < 1_000_000, "lt_1s")
        .when(g < 60_000_000, "1s_60s")
        .when(g < 600_000_000, "1m_10m")
        .when(g < 3_600_000_000, "10m_1h")
        .otherwise("ge_1h")
    )
    return (
        events.select(gap.alias("gap_us"))
        .filter(g.isNotNull())
        .select(bucket.alias("bucket"), "gap_us")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_us").alias("total_us"),
        )
    )


def rolling_median(
    events: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    width: int = 7,
) -> DataFrame:
    """Per-key rolling median over the last ``width`` events (rows
    frame) -- the median filter, the robust smoother for noisy
    telemetry that a mean-based EWMA can't provide.

    Spark has no median window aggregate, so the bounded frame is
    gathered with ``collect_list`` over the ordered window (frame order
    = window order under the unique (ts, event_id) sort key) and the
    median is taken positionally on micro-quantized integers:
    ``array_sort`` then exact middle (odd n) or the integer mean of the
    two middles (even n, ``div 2`` after an integer sum -- no float in
    the path, so any engine agrees bit-for-bit).  State per row is
    ``width`` longs; one shuffle on the key.  The frame never grows
    with data volume, so the plan survives any scale-up (same doctrine
    as decayed_rolling_value's bounded frame)."""
    w = (
        Window.partitionBy(id_col)
        .orderBy(ts_col, "event_id")
        .rowsBetween(-(width - 1), 0)
    )
    micros = F.floor(F.col(val_col).cast("double") * 1000000 + F.lit(0.5)).cast(
        "bigint"
    )
    frame = F.array_sort(F.collect_list(micros).over(w))
    return (
        events.withColumn("_frame", frame)
        .withColumn("_n", F.size("_frame"))
        .withColumn(
            "_lo", F.element_at("_frame", F.expr("CAST((_n + 1) div 2 AS INT)"))
        )
        .withColumn(
            "_hi", F.element_at("_frame", F.expr("CAST(_n div 2 + 1 AS INT)"))
        )
        .withColumn("median_micros", F.expr("(_lo + _hi) div 2"))
        .select("event_id", id_col, "median_micros")
    )
