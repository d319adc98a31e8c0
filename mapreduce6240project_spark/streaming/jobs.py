"""Structured Streaming jobs over the events table.

The batch window operators in ``operators.windows`` declare the logical
plan; these wrappers run the same aggregations as streams:
``readStream`` over the parquet directory (file source), watermarked
event-time windows, ``foreachBatch`` into epoch-partitioned parquet as
the sink (exactly-once by epoch overwrite; results re-read from the
files, so nothing is ever collected to the driver -- a memory sink
would hold the full result in driver memory, unbounded at scale).

Local smoke path: a one-shot ``processAllAvailable()`` drains the
parquet files through the streaming engine -- deterministic, so the
tumbling stream shares the batch query's DuckDB oracle.

Scale notes: the file source is a stand-in for Kafka (swap
``.format("kafka")`` + ``from_json``); watermark bounds state for late
data; ``session_window`` keeps per-key session state in the state store
(RocksDB at scale).  ``applyInPandasWithState`` is the escape hatch for
custom stateful logic beyond windows/sessions.
"""

from __future__ import annotations

import glob
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce6240project_spark.functions.numeric import stable_sum_micros
from mapreduce6240project_spark.session import checkpoint
from mapreduce6240project_spark.sources.tables import load_table


def _drain_to_parquet(spark: SparkSession, sdf: DataFrame, mode: str) -> DataFrame:
    """Drain a bounded stream through ``foreachBatch`` into
    epoch-partitioned parquet and return the sink contents as a batch
    DataFrame.

    This is the scale-safe materialization: each micro-batch writes
    ``epoch=<id>`` (idempotent on replay -- same epoch, same path,
    overwrite), and the result is *read back from the files*, never
    collected to the driver.  ``complete``-mode aggregates rewrite the
    whole result each batch, so only the last epoch is read;
    ``append``/``update`` modes emit disjoint/augmenting rows, so all
    epochs are read."""
    out = tempfile.mkdtemp(prefix="sparkgraft_sink_")
    schema = sdf.schema

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    q = sdf.writeStream.outputMode(mode).foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = sorted(
        glob.glob(f"{out}/epoch=*"), key=lambda p: int(p.rsplit("=", 1)[1])
    )
    paths = epochs[-1:] if mode == "complete" else epochs
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet as a bounded stream (file source, one-shot)."""
    batch = load_table(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the path must target the events file only (as a glob -- the file
    # source rejects a bare file path): a bare directory would pull every
    # table's parquet through the events schema, yielding all-null ghost
    # rows that poison non-window aggregations
    stream = spark.readStream.schema(raw_schema).parquet(f"{sf_dir}/events.parq*")
    # same ns->us / NTZ normalization as the batch loader; watermarks
    # require TIMESTAMP (with tz), so NTZ must be cast before windowing
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type.startswith("timestamp_ntz"):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.select(*batch.columns)


def streaming_tumbling(
    spark: SparkSession,
    sf_dir: str,
    width: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling count/sum per (window, event_type) --
    streaming twin of operators.windows.tumbling_window (same output
    schema, same values on a bounded input)."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), stable_sum_micros("value").alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_streaming_batch(spark, agg)


def streaming_sessions(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native ``session_window`` sessionization (streaming stateful
    operator; batch twin is operators.windows.sessionize)."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )
    return run_streaming_batch(spark, agg)


def streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count carried in explicit state (the escape hatch
    for stateful logic that windows/sessions can't express --
    SURVEY.md section 2.11).  On a bounded one-shot stream the final
    counts equal the batch groupBy, which is the oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    ev = _stream_events(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    agg = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    emitted = _drain_to_parquet(spark, agg, "update")
    # keep the last emitted row per user (cumulative -> max n)
    return emitted.groupBy("user_id").agg(F.max("n").alias("n"))


def streaming_sliding(
    spark: SparkSession,
    sf_dir: str,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators.windows.sliding_window."""
    from mapreduce6240project_spark.functions.numeric import stable_avg_cents

    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"), stable_avg_cents("value").alias("avg_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"), "n", "avg_value"
        )
    )
    return run_streaming_batch(spark, agg)


def streaming_foreach_batch_sink(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """The exactly-once sink pattern: ``foreachBatch`` receives each
    micro-batch as a batch DataFrame plus a monotonically-increasing
    epoch id; writing partitioned-by-epoch parquet makes replays
    idempotent (same epoch -> same path -> overwrite).  Returns the
    sink's contents re-read as proof the bytes landed."""
    ev = _stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), stable_sum_micros("value").alias("sum_value")
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # last epoch wins (complete mode rewrites the aggregate every batch)
    epochs = sorted(
        glob.glob(f"{out_dir}/epoch=*"), key=lambda p: int(p.rsplit("=", 1)[1])
    )
    return spark.read.parquet(epochs[-1]).select("event_type", "n", "sum_value")


def run_streaming_batch(spark: SparkSession, agg: DataFrame) -> DataFrame:
    """Drain a bounded complete-mode stream into the parquet epoch sink
    and return the completed result as a batch DataFrame."""
    return _drain_to_parquet(spark, agg, "complete")


def run_streaming_append(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Drain a bounded append-mode stream (joins, dedup passthrough)
    into the parquet epoch sink and return the rows as a batch
    DataFrame."""
    return _drain_to_parquet(spark, df, "append")


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: keep the first event per (user_id,
    event_type) with ``dropDuplicates`` state, then summarize users per
    type.  The summary is order-independent, so the bounded-stream
    result equals batch ``count(DISTINCT user_id)`` -- the oracle.

    At scale the dedup state is per-key in the state store; with a
    watermark on an event-time key the state is bounded.  The summary
    aggregation runs on the drained sink (the dedup stream itself is
    append-mode; a downstream complete-mode agg would stack two
    stateful operators, which Spark restricts per output mode)."""
    ev = _stream_events(spark, sf_dir)
    dedup = ev.withWatermark("ts", "1 hour").dropDuplicates(
        ["user_id", "event_type"]
    )
    first_rows = run_streaming_append(spark, dedup.select("user_id", "event_type"))
    return first_rows.groupBy("event_type").agg(
        F.count("*").alias("n_users")
    )


def streaming_dedup_bounded_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+) evicts a key's state
    once the watermark passes its event time, so the state store stays
    O(keys-within-watermark) instead of O(all keys ever seen) -- the
    operator ``streaming_dedup_counts``'s plain ``dropDuplicates``
    lacks, and the difference between a dedup stream that survives a
    year of uptime and one that OOMs the state store.

    Per event type the job reports arriving rows vs rows kept after
    dedup (suppressed = duplicates dropped within the watermark).  The
    bounded replay is a single micro-batch (one parquet file through
    the file source), so the watermark never advances mid-stream, no
    state evicts, and the kept set is exactly the first event per
    (user_id, event_type) -- the SQL oracle.  The EVICTION semantics
    (re-emission of a key after its state expires) are pinned by a
    two-batch planted-file test in tests/test_streaming_late.py, where
    the oracle cannot see them."""
    ev = _stream_events(spark, sf_dir)
    dedup = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    kept = run_streaming_append(
        spark, dedup.select("user_id", "event_type")
    )
    arrivals = load_table(spark, sf_dir, "events").groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    kept_counts = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    return (
        arrivals.join(kept_counts, "event_type")
        .select(
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            (F.col("n_events") - F.col("n_kept"))
            .cast("bigint")
            .alias("n_suppressed"),
        )
    )


def streaming_click_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases within 10 minutes after a
    click by the same user.  Both sides are watermarked and the join
    condition bounds event time, so state eviction is well-defined
    (Structured Streaming's canonical interval-join form); on a bounded
    one-shot stream the pair set is deterministic and equals the batch
    interval join, which is the oracle."""
    ev = _stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return run_streaming_append(
        spark, joined.select("click_id", "purchase_id")
    )


def streaming_click_purchase_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, paired with
    purchases by the same user within the next 10 minutes, or a
    null-padded row once the watermark proves no match can arrive.

    The outer semantics are the hard streaming case: an unmatched click
    emits only after the watermark passes ``c_ts + 10min`` (its state
    eviction point), so clicks near the end of a bounded replay never
    emit.  To make the result deterministic and oracle-comparable, the
    output is restricted to clicks at least 2 hours before the stream's
    max event time -- comfortably past the 1 h watermark + 10 min join
    tolerance, so every retained click's fate (matched or provably
    unmatched) is settled.  The batch left interval join under the same
    cutoff is the value-hash oracle.

    The cutoff anchors on ``min(max click ts, max purchase ts)``, not
    the stream max: the global watermark is the MINIMUM across
    watermarked inputs, so the click side's own last event holds it
    back -- the final click of a bounded stream can never prove itself
    unmatched (its eviction point ``c_ts + 10min`` is always ahead of
    ``max(c_ts) - 1h``).
    """
    ev = _stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    drained = run_streaming_append(
        spark,
        joined.select(
            "click_id",
            F.unix_micros(F.col("c_ts")).alias("c_ts_us"),
            # -1 sentinel instead of NULL so the bigint column never
            # becomes a NaN-bearing float in the comparison harness
            F.coalesce(F.col("purchase_id"), F.lit(-1)).alias("purchase_id"),
        ),
    )
    side_max = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    cutoff = side_max - 7_200_000_000  # 2 h past min-side watermark + tolerance
    return drained.filter(F.col("c_ts_us") <= F.lit(cutoff)).select(
        "click_id", "purchase_id"
    )


def streaming_tws_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value total via ``transformWithStateInPandas``
    (Spark 4's arbitrary-stateful successor to applyInPandasWithState):
    a ``StatefulProcessor`` holds one ValueState long per user and
    emits the running total each micro-batch.

    Values are micro-quantized JVM-side *before* the stateful operator,
    so all state arithmetic is integer and the final per-user total on
    a bounded stream equals batch ``sum(micros)`` exactly -- the
    oracle.  transformWithState requires the RocksDB state-store
    provider (set per-session below; in production it is also what you
    want: state lives off-heap and snapshots incrementally to the
    checkpoint).  State per user is one long; at scale the operator
    shuffles once on the key and the store scales with distinct keys,
    not events."""
    import pandas as pd  # noqa: F401 (Arrow batches arrive as pandas)
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    # transformWithState's state server speaks protobuf; PySpark only
    # imports it lazily, so probe here and fail with a clear message in
    # environments without the dependency (applyInPandasWithState --
    # streaming_stateful_counts -- is the tested custom-state path there)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(PySpark imports pyspark.sql.streaming.proto lazily); install "
            "protobuf or use streaming_stateful_counts "
            "(applyInPandasWithState) instead"
        ) from exc

    # set the provider for THIS query only and restore afterwards: a
    # session-wide flip would silently re-provider later stateful
    # queries (incompatible with checkpoints written under the default)
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    try:
        old_provider = spark.conf.get(_PROVIDER_KEY)
    except Exception:
        old_provider = None
    spark.conf.set(
        _PROVIDER_KEY,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class RunningSum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._total = handle.getValueState("total", "total LONG")

        def handleInputRows(self, key, rows, timerValues):
            total = self._total.get()[0] if self._total.exists() else 0
            for pdf in rows:
                total += int(pdf["micros"].sum())
            self._total.update((total,))
            import pandas as pd

            yield pd.DataFrame(
                {"user_id": [int(key[0])], "total_micros": [total]}
            )

        def close(self) -> None:
            pass

    ev = _stream_events(spark, sf_dir).select(
        "user_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint").alias("micros"),
    )
    agg = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningSum(),
        outputStructType="user_id long, total_micros long",
        outputMode="Update",
        timeMode="None",
    )
    try:
        # drain with the epoch id preserved: update-mode re-emits a
        # key's row each batch it changes, and with negative values the
        # running total is NOT monotone -- the LAST emission per key is
        # the final state, never the max
        out = tempfile.mkdtemp(prefix="sparkgraft_tws_")

        def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

        q = agg.writeStream.outputMode("update").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if not glob.glob(f"{out}/epoch=*"):
            return spark.createDataFrame([], "user_id long, total_micros long")
        emitted = spark.read.option("basePath", out).parquet(f"{out}/epoch=*")
        last = F.max(F.struct(F.col("epoch"), F.col("total_micros")))
        return (
            emitted.groupBy("user_id")
            .agg(last.alias("_l"))
            .select("user_id", F.col("_l.total_micros").alias("total_micros"))
        )
    finally:
        if old_provider is not None:
            spark.conf.set(_PROVIDER_KEY, old_provider)
        else:
            spark.conf.unset(_PROVIDER_KEY)


def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each incoming event is enriched with a
    static per-user profile (first-seen timestamp) computed batch-side.

    The static side is a plain batch DataFrame; Structured Streaming
    re-plans it into every micro-batch, and because it is
    dimension-sized it broadcasts -- the canonical feature-enrichment
    topology (stream of interactions x slowly-refreshed profile table).
    No watermark is needed: a stream-static inner join is stateless
    (state never accumulates across batches)."""
    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_seen_us"))
    )
    ev = _stream_events(spark, sf_dir)
    joined = ev.join(F.broadcast(profile), "user_id").select(
        "event_id", "first_seen_us"
    )
    return run_streaming_append(spark, joined)


def streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count via mergeable sketch state: each
    micro-batch reduces to its own per-day HLL registers inside
    ``foreachBatch`` (an m-rows-per-day frame, written to an
    epoch-partitioned register store -- idempotent on replay), and the
    final answer merges all epochs' registers by max-per-bucket.

    Because register max-merge is associative, commutative, AND
    idempotent, the result is bit-identical to the batch computation
    regardless of how the engine splits micro-batches or replays
    epochs -- the property that makes sketches the right streaming
    distinct-count state, vs exact distincts whose state grows with
    cardinality.  Shares the estimate arithmetic (and therefore the
    oracle) with the batch ``hll_mergeable_rollup`` query."""
    import glob as _glob

    from mapreduce6240project_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    ev = _stream_events(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="sparkgraft_hllregs_")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        days = batch_df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
        )
        regs = hll_registers(days, "user_id", b=8, group_cols=("day",))
        regs.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    q = ev.writeStream.outputMode("append").foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = _glob.glob(f"{out}/epoch=*")
    all_regs = spark.read.parquet(*epochs)
    day_regs = checkpoint(all_regs.groupBy("day", "j").agg(F.max("M").alias("M")))
    per_day = hll_estimate(day_regs, b=8, group_cols=("day",)).select(
        F.lit("day").alias("grain"), F.col("day").alias("grain_key"), "n_approx"
    )
    merged = day_regs.groupBy("j").agg(F.max("M").alias("M"))
    total = hll_estimate(merged, b=8).select(
        F.lit("total").alias("grain"), F.lit("all").alias("grain_key"), "n_approx"
    )
    return per_day.unionByName(total)


def streaming_tws_user_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event count + running value peak via
    ``transformWithStateInPandas`` -- the Spark 4 successor to
    ``applyInPandasWithState``: typed state handles (ValueState backed
    by the state store, RocksDB at scale) owned by a StatefulProcessor
    object instead of a bare update function.  Values are
    micro-quantized BEFORE the operator so the peak is an exact integer
    max and the bounded-stream result equals the batch group-by, which
    is the oracle.

    Environment gate: transformWithState's driver/worker protocol rides
    on protobuf (``pyspark/sql/streaming/proto``), which this container
    does not ship.  When ``google.protobuf`` is importable the real TWS
    path runs; otherwise the job degrades to an
    ``applyInPandasWithState`` implementation with IDENTICAL state and
    output semantics, so the registered query stays oracle-checked
    either way (same honest-gate pattern as sources/connectors.py)."""
    import pandas as pd

    ev = _stream_events(spark, sf_dir).selectExpr(
        "user_id", "CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vmic"
    )

    try:  # TWS requires protobuf at runtime (worker-side import)
        from google.protobuf import descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    if not has_protobuf:
        from pyspark.sql.streaming.state import GroupState

        def update(key, pdfs, state: GroupState):
            n, mx = state.get if state.exists else (0, None)
            for pdf in pdfs:
                n += len(pdf)
                m = int(pdf["vmic"].max())
                mx = m if mx is None else max(mx, m)
            state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "max_micros": [mx]}
            )

        out = ev.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id long, n long, max_micros long",
            stateStructType="n long, mx long",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
        emitted = _drain_to_parquet(spark, out, "update")
        return emitted.groupBy("user_id").agg(
            F.max("n").alias("n"), F.max("max_micros").alias("max_micros")
        )

    from pyspark.sql.streaming import StatefulProcessor

    class Peaks(StatefulProcessor):
        def init(self, handle) -> None:
            self._st = handle.getValueState("peaks", "n BIGINT, mx BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            if self._st.exists():
                n, mx = self._st.get()
            else:
                n, mx = 0, None
            for pdf in rows:
                n += len(pdf)
                m = int(pdf["vmic"].max())
                mx = m if mx is None else max(mx, m)
            self._st.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "max_micros": [mx]}
            )

        def close(self) -> None:
            pass

    out = ev.groupBy("user_id").transformWithStateInPandas(
        Peaks(),
        outputStructType="user_id long, n long, max_micros long",
        outputMode="Update",
        timeMode="None",
    )
    emitted = _drain_to_parquet(spark, out, "update")
    # single-batch bounded stream -> one emission per user; the max-agg
    # keeps the final cumulative row if the source ever re-batches
    return emitted.groupBy("user_id").agg(
        F.max("n").alias("n"), F.max("max_micros").alias("max_micros")
    )


def streaming_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch CDC compaction
    (plans/wave49.py cdc_latest_state): per-user last-event state
    carried in ``applyInPandasWithState`` -- (event-time micros,
    event id, type, integer cents) updated by the (ts, event_id) max --
    with tombstone semantics applied at emission (users whose final
    event is an ``error`` are absent).  On the bounded one-shot stream
    the final state equals the batch window query, which is the
    oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    ev = _stream_events(spark, sf_dir).selectExpr(
        "user_id",
        "event_id",
        "event_type",
        "unix_micros(ts) AS us",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            us, eid, typ, cents = state.get
        else:
            us, eid, typ, cents = -1, -1, "", 0
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                if (row.us, row.event_id) > (us, eid):
                    us, eid, typ, cents = (
                        int(row.us),
                        int(row.event_id),
                        str(row.event_type),
                        int(row.cents),
                    )
        state.update((us, eid, typ, cents))
        if typ != "error":
            yield pd.DataFrame(
                {"user_id": [key[0]], "last_value_cents": [cents], "us": [us]}
            )
        else:
            yield pd.DataFrame(
                {"user_id": [], "last_value_cents": [], "us": []}
            ).astype({"user_id": "int64", "last_value_cents": "int64", "us": "int64"})

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, last_value_cents long, us long",
        stateStructType="us long, event_id long, event_type string, cents long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    emitted = _drain_to_parquet(spark, out, "update")
    # keep the row for the max event-time emission per user
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("us"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "last_value_cents")
    )


def streaming_qsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantiles via mergeable sketch state: each micro-batch
    reduces to its own ~512-bucket log-bucket quantile sketch inside
    ``foreachBatch`` (written to an epoch-partitioned bucket store,
    idempotent on replay), and the final estimate sums bucket counts
    across epochs.  Count-sum merge is associative and commutative, so
    the answer is bit-identical to the batch sketch however the engine
    splits micro-batches -- the streaming-quantile counterpart of
    ``streaming_hll_rollup``.  Shares the estimate arithmetic (and the
    oracle) with the batch ``qsketch_value_quantiles`` query."""
    import glob as _glob

    from mapreduce6240project_spark.operators.sketch import (
        quantile_sketch,
        quantile_sketch_estimate,
    )

    ev = _stream_events(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="sparkgraft_qsk_")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        quantile_sketch(batch_df, "value").write.mode("overwrite").parquet(
            f"{out}/epoch={epoch_id}"
        )

    q = ev.writeStream.outputMode("append").foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    paths = sorted(_glob.glob(f"{out}/epoch=*"))
    regs = spark.read.parquet(*paths)
    merged = regs.groupBy("bid").agg(F.sum("n").alias("n"))
    return quantile_sketch_estimate(
        merged, {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    )


def txlog_cdc_batch_applier(tbl):
    """foreachBatch callable applying last-event-wins CDC into a
    ``sources.txlog`` table with an idempotent ``txn=("cdc", epoch)``
    MERGE.  Factored out of :func:`streaming_txlog_cdc` so the
    checkpoint-recovery test (tests/test_txlog.py) drives the IDENTICAL
    batch logic through a stop/restart cycle rather than a copy that
    could drift."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        latest = _latest(batch_df)
        if tbl.latest_version() < 0:
            tbl.create(latest)
            return
        cur = tbl.snapshot()
        matched = cur.join(
            F.broadcast(latest.select("user_id").distinct()),
            "user_id",
            "left_semi",
        )
        src = _latest(matched.unionByName(latest))
        tbl.merge(src, ["user_id"], txn=("cdc", epoch_id))

    return apply_batch


def streaming_txlog_cdc(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """Stream -> ACID table: last-event-wins CDC applied per
    micro-batch into a ``sources.txlog`` table via idempotent MERGE --
    the lakehouse streaming-sink pattern (Delta's foreachBatch +
    txnAppId/txnVersion) running end-to-end on the in-repo commit log.

    Batching-independence: each batch reduces to its per-user latest
    row, then the MERGE source is recomputed as the latest over
    (current matched rows UNION batch rows) under the same total order
    (ts desc, event_id desc) -- an associative/commutative fold, so
    the final table is identical however the stream is split.  The
    ``txn=("cdc", epoch_id)`` guard makes a replayed micro-batch a
    no-op instead of a double-apply.  Tombstones ('error' events)
    stay in the table as state and are filtered at emission, exactly
    like ``streaming_cdc_state``."""
    from mapreduce6240project_spark.sources.txlog import TxTable

    ev = _stream_events(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    ).filter(F.col("user_id").isNotNull())
    tbl = TxTable(spark, root)
    apply_batch = txlog_cdc_batch_applier(tbl)

    q = ev.writeStream.outputMode("append").foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        tbl.snapshot()
        .filter(F.col("event_type") != "error")
        .select("user_id", F.col("cents").alias("last_value_cents"))
    )
