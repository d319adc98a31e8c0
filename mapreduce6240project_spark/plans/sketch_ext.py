"""mergeable sketches (HLL/CMS/KMV/qsketch) -- rollups, set algebra, long-run integrity.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 20: Round-3 coverage wave 20: mergeable-sketch rollup.
* wave 27: Round-3 coverage wave 27: sketch set algebra.
* wave 63: Round-3 coverage wave 63: long-run behavior and mergeable integrity.
* wave 86: Round-3 coverage wave 86: KMV distinct sketch, Theil-Sen slope,
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.plans.registry import REGISTRY, _register
from mapreduce6240project_spark.session import checkpoint
from mapreduce6240project_spark.sources.tables import load_table
from mapreduce6240project_spark.operators.sketch import (
    hll_estimate,
    hll_oracle_sql,
    hll_registers,
)
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.functions.hashing import hash60, hash60_sql
from pyspark.sql import DataFrame, SparkSession, Window

# =========================================================================
# wave 20
# Round-3 coverage wave 20: mergeable-sketch rollup.
#
# ``hll_mergeable_rollup``: per-day approximate distinct users AND the
# month total, where the total is derived by MERGING the per-day HLL
# registers (max per bucket) -- the raw events are scanned exactly once.
# This is the re-aggregatable-cube property that makes sketches the
# right distinct-count representation at 100 TB: day registers persist
# in a summary table, and any coarser rollup (week, month, all-time) is
# an m-row-per-group register merge, never a rescan.  Every step is the
# portable integer HLL (``operators.sketch``), so the DuckDB oracle
# replays both grains bit-for-bit.
#
# Reference parity note: sketch rollups are engine extensions alongside
# SURVEY.md section 2.
# =========================================================================

_B = 8
_M = 1 << _B
_WIDTH = 60 - _B
_SCALE = _WIDTH + 1
_ALPHA = 0.7213 / (1.0 + 1.079 / _M)
_MASK = (1 << _WIDTH) - 1

_EST_SQL = f"""
  CAST(round(
    CASE WHEN (CAST({_ALPHA!r} AS DOUBLE) * {_M} * {_M} * CAST({float(1 << _SCALE)!r} AS DOUBLE)
               / (sp + ({_M} - used) * ({1 << _SCALE})::BIGINT)) <= {2.5 * _M}
              AND ({_M} - used) > 0
         THEN CAST({float(_M)!r} AS DOUBLE) * ln(CAST({float(_M)!r} AS DOUBLE) / ({_M} - used))
         ELSE CAST({_ALPHA!r} AS DOUBLE) * {_M} * {_M} * CAST({float(1 << _SCALE)!r} AS DOUBLE)
              / (sp + ({_M} - used) * ({1 << _SCALE})::BIGINT)
    END) AS BIGINT)"""


@_register(
    "hll_mergeable_rollup",
    f"""
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT day, h >> {_WIDTH} AS j,
         CASE WHEN (h & {_MASK}) = 0 THEN {_SCALE}
              ELSE {_SCALE} - length(bin(h & {_MASK})) END AS rho
  FROM h
),
day_regs AS (SELECT day, j, max(rho) AS M FROM r GROUP BY day, j),
day_s AS (
  SELECT day, count(*) AS used,
         COALESCE(sum((1::BIGINT << ({_SCALE} - M))::BIGINT), 0) AS sp
  FROM day_regs GROUP BY day
),
total_regs AS (SELECT j, max(M) AS M FROM day_regs GROUP BY j),
total_s AS (
  SELECT count(*) AS used,
         COALESCE(sum((1::BIGINT << ({_SCALE} - M))::BIGINT), 0) AS sp
  FROM total_regs
)
SELECT 'day' AS grain, day AS grain_key, {_EST_SQL} AS n_approx FROM day_s
UNION ALL
SELECT 'total' AS grain, 'all' AS grain_key, {_EST_SQL} AS n_approx FROM total_s""",
    ref="extension: mergeable-HLL rollup (per-day registers merged by "
    "max-per-bucket into the total estimate; one raw scan, any coarser "
    "grain is an m-row register merge)",
)
def q_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    # checkpointed once for both grains (lineage truncated, so the
    # registers are not recomputed per grain)
    day_regs = checkpoint(hll_registers(ev, "user_id", b=_B, group_cols=("day",)))
    per_day = hll_estimate(day_regs, b=_B, group_cols=("day",)).select(
        F.lit("day").alias("grain"),
        F.col("day").alias("grain_key"),
        "n_approx",
    )
    merged = day_regs.groupBy("j").agg(F.max("M").alias("M"))
    total = hll_estimate(merged, b=_B).select(
        F.lit("total").alias("grain"),
        F.lit("all").alias("grain_key"),
        "n_approx",
    )
    return per_day.unionByName(total)


@_register(
    "streaming_hll_rollup",
    # the stream's answer is bit-identical to the batch rollup by
    # max-merge algebra, so it shares the batch query's full oracle --
    # a streaming job with a value-hash correctness gate, not rows-only
    REGISTRY["hll_mergeable_rollup"].oracle,
    ref="extension: streaming distinct-count via mergeable HLL register "
    "state in foreachBatch; batch-split- and replay-independent by "
    "max-merge algebra (oracle = the batch rollup's SQL)",
)
def q_streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming.jobs import streaming_hll_rollup

    return streaming_hll_rollup(spark, sf_dir)


# =========================================================================
# wave 27
# Round-3 coverage wave 27: sketch set algebra.
#
# ``hll_set_algebra``: distinct-user overlap between two behaviors
# (click vs purchase) WITHOUT a distinct-pair shuffle -- the portable
# HLL registers of each side merge by per-bucket max into the union's
# registers (max over a multiset equals max over its set, so no dedup
# pass is needed), and the intersection estimate falls out of
# inclusion-exclusion ``|A| + |B| - |A u B|``.  The exact intersection
# rides along for error inspection.  This is the sketch-algebra pattern
# that replaces exact distinct joins at 100 TB: three m-row register
# aggregates instead of a users-sized shuffle.
#
# The whole estimate is the engine's deterministic md5-based HLL
# (operators.sketch), so the oracle replays every register and the
# correction branch bit-for-bit -- including the same inclusion-
# exclusion on the SQL side.
# =========================================================================

_CLICKS = "(SELECT user_id FROM events WHERE event_type = 'click') tc"
_PURCH = "(SELECT user_id FROM events WHERE event_type = 'purchase') tp"
_UNION = (
    "(SELECT user_id FROM events"
    " WHERE event_type IN ('click', 'purchase')) tu"
)


@_register(
    "hll_set_algebra",
    f"""
WITH a AS ({hll_oracle_sql(_CLICKS, "user_id")}),
b AS ({hll_oracle_sql(_PURCH, "user_id")}),
u AS ({hll_oracle_sql(_UNION, "user_id")}),
x AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
)
SELECT a.n_approx AS est_clicks,
       b.n_approx AS est_purchases,
       u.n_approx AS est_union,
       CAST(a.n_approx + b.n_approx - u.n_approx AS BIGINT)
         AS est_intersection,
       x.exact_inter AS exact_intersection
FROM a, b, u, x""",
    ref="extension: sketch set algebra -- HLL registers max-merge into "
    "the union sketch, intersection by inclusion-exclusion; replaces a "
    "users-sized distinct join with three m-row register aggregates",
)
def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    regs_a = hll_registers(clicks, "user_id")
    regs_b = hll_registers(purchases, "user_id")
    regs_u = (
        regs_a.unionByName(regs_b).groupBy("j").agg(F.max("M").alias("M"))
    )
    est_a = hll_estimate(regs_a).select(F.col("n_approx").alias("est_clicks"))
    est_b = hll_estimate(regs_b).select(
        F.col("n_approx").alias("est_purchases")
    )
    est_u = hll_estimate(regs_u).select(F.col("n_approx").alias("est_union"))
    exact = (
        clicks.select("user_id")
        .distinct()
        .join(purchases.select("user_id").distinct(), "user_id", "left_semi")
        .agg(F.count("*").alias("exact_intersection"))
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(exact)
        .select(
            "est_clicks",
            "est_purchases",
            "est_union",
            (
                F.col("est_clicks")
                + F.col("est_purchases")
                - F.col("est_union")
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )


# =========================================================================
# wave 63
# Round-3 coverage wave 63: long-run behavior and mergeable integrity.
#
# - ``markov_stationary_events``: the long-run event-type distribution --
#   transition probabilities from consecutive per-user events in 6-decimal
#   fixed point, then three unrolled power-iteration steps from the
#   uniform start, all truncating integer arithmetic (the k x k matrix is
#   event-type-bounded, so the iteration is a broadcast-sized join chain;
#   same doctrine as the PageRank/PCA iterations).
# - ``corpus_merkle_roots``: two-level mergeable content integrity -- a
#   per-source 61-bit checksum (sum of 60-bit row hashes mod 2^61-1, the
#   table_checksum convention) plus the corpus root, which equals the
#   modular sum of the source sums: shard checksums roll up without
#   rescanning, the property a distributed integrity check needs.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_M61 = (1 << 61) - 1
_ITERS = 3

_TRANS_CTE = """
WITH o AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
t AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS dst
  FROM o
),
c AS (SELECT src, dst, count(*) AS n FROM t WHERE dst IS NOT NULL
      GROUP BY 1, 2),
cs AS (SELECT src, sum(n) AS ns FROM c GROUP BY 1),
p AS (
  SELECT c.src, c.dst, c.n * 1000000 // cs.ns AS p_micro
  FROM c JOIN cs ON c.src = cs.src
),
types AS (SELECT DISTINCT src AS ty FROM c),
nt AS (SELECT count(*) AS k FROM types),
v0 AS (SELECT ty, 1000000 // (SELECT k FROM nt) AS v FROM types)"""


def _stationary_sql() -> str:
    parts = [_TRANS_CTE]
    for r in range(1, _ITERS + 1):
        parts.append(
            f""",
v{r} AS (
  SELECT p.dst AS ty, CAST(sum(v.v * p.p_micro) // 1000000 AS BIGINT) AS v
  FROM p JOIN v{r - 1} v ON v.ty = p.src GROUP BY 1
)"""
        )
    parts.append(
        f"""
SELECT ty AS event_type, CAST(v AS BIGINT) AS stationary_micro
FROM v{_ITERS}"""
    )
    return "".join(parts)


@_register(
    "markov_stationary_events",
    _stationary_sql(),
    ref="extension: Markov stationary distribution of event types -- "
    "fixed-point transition matrix + 3 unrolled integer power steps; "
    "k x k broadcast-sized iteration",
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t = ev.select(
        F.col("event_type").alias("src"),
        F.expr(
            "lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)"
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = t.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    cs = c.groupBy("src").agg(F.sum("n").alias("ns"))
    p = (
        c.join(cs, "src")
        .select("src", "dst", F.expr("n * 1000000 div ns").alias("p_micro"))
        .persist()
    )
    types = c.select(F.col("src").alias("ty")).distinct()
    k = types.count()  # event-type-bounded driver scalar
    v = types.select("ty", F.lit(1_000_000 // k).alias("v"))
    for _ in range(_ITERS):
        v = (
            p.join(F.broadcast(v), p.src == v.ty)
            .groupBy(F.col("dst").alias("ty2"))
            .agg(F.expr("CAST(sum(v * p_micro) div 1000000 AS BIGINT)").alias("v"))
            .withColumnRenamed("ty2", "ty")
        )
    out = v.select(
        F.col("ty").alias("event_type"),
        F.col("v").cast("bigint").alias("stationary_micro"),
    )
    p.unpersist()
    return out


@_register(
    "corpus_merkle_roots",
    f"""
WITH h AS (
  SELECT source,
         {hash60_sql("doc_id || '|' || " + _NORM)} AS hv
  FROM documents
),
per AS (
  SELECT source, count(*) AS n, sum(hv) AS s FROM h GROUP BY 1
)
SELECT source AS scope, CAST(n AS BIGINT) AS n_docs,
       CAST(s % {_M61} AS BIGINT) AS checksum
FROM per
UNION ALL
SELECT '<root>' AS scope, CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(s) % {_M61} AS BIGINT) AS checksum
FROM per""",
    ref="extension: two-level mergeable Merkle checksums -- per-source "
    "61-bit modular row-hash sums whose modular total IS the corpus "
    "root (shards roll up without rescanning)",
)
def q_merkle_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    hv = hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit("|"), normalize_text("text"))
    )
    per = docs.select("source", hv.alias("hv")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("hv").cast("decimal(38,0)")).alias("s"),
    )
    per_out = per.select(
        F.col("source").alias("scope"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr(f"CAST(s % {_M61} AS BIGINT)").alias("checksum"),
    )
    root = per.agg(
        F.lit("<root>").alias("scope"),
        F.sum("n").cast("bigint").alias("n_docs"),
        F.expr(f"CAST(sum(s) % {_M61} AS BIGINT)").alias("checksum"),
    )
    return per_out.unionByName(root)


# =========================================================================
# wave 86
# Round-3 coverage wave 86: KMV distinct sketch, Theil-Sen slope,
# churn labeling.
#
# - ``kmv_distinct_users``: the K-Minimum-Values distinct-count sketch
#   (Bar-Yossef et al.) per event type -- the OTHER classic mergeable
#   cardinality sketch next to HLL (``hll_distinct_users``): keep the k
#   smallest hash values; the k-th smallest estimates density, so
#   distinct ~ (k-1) * 2^60 / h_k.  Deterministic by construction here
#   (the 60-bit md5-prefix hash), so the oracle replays it exactly --
#   unlike HLL there is no register approximation to re-implement, which
#   is what makes KMV the auditable sketch.  Types with fewer than k
#   distinct users fall back to the exact count (the sketch IS exact
#   below k).  One distinct + one per-type rank over k rows.
# - ``theil_sen_daily``: Theil-Sen robust trend -- the MEDIAN of all
#   pairwise day-slopes of daily revenue, the estimator that tolerates
#   up to ~29% outlier days where OLS (``segment_trend_slope``) follows
#   them; the point-estimate companion to ``mann_kendall_daily`` (which
#   only tests direction).  Pairwise slopes run over the calendar-
#   bounded daily table (~30 rows -> ~435 pairs); each slope is rounded
#   to integer micro-cents/day in DOUBLE (exact for these magnitudes,
#   identical both engines, avoiding the div-vs-floor negative-number
#   divergence), and the lower median is picked by rank -- fully
#   deterministic.
# - ``churn_rate_weekly``: week-over-week churn labels -- users active
#   in ISO week w who are absent in w+1, aggregated to the per-week
#   churn rate in permyriad.  The label-builder behind every retention
#   model; the final observed week is excluded (it cannot be labeled).
#   Distinct (user, week) -> one self left-anti-style join on the
#   integer week index -> tiny per-week rollup.
#
# Scale: KMV is one distinct shuffle + top-k per type; Theil-Sen shrinks
# to days before the quadratic step; churn joins distinct user-weeks
# only.
# =========================================================================

_K = 8
_TWO60 = 1 << 60


@_register(
    "kmv_distinct_users",
    f"""
WITH hs AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('u:' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT AS h
  FROM events
), rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r,
         count(*) OVER (PARTITION BY event_type) AS n_exact
  FROM hs
)
SELECT event_type,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(CASE WHEN n_exact < {_K} THEN n_exact
                 ELSE CAST(({_K} - 1) * CAST({_TWO60} AS HUGEINT) // h
                      AS BIGINT) END AS BIGINT) AS kmv_est
FROM rk WHERE r = least(n_exact, {_K}) AND r = {_K}
UNION ALL
SELECT event_type, CAST(n_exact AS BIGINT), CAST(n_exact AS BIGINT)
FROM rk WHERE n_exact < {_K} AND r = 1""",
    ref="extension: K-Minimum-Values cardinality sketch per event type "
    "(k=8, 60-bit hash) with exact fallback below k -- the auditable "
    "mergeable distinct sketch next to hll_distinct_users",
)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    ev = load_table(spark, sf_dir, "events")
    hs = ev.select(
        "event_type",
        hash60(
            F.concat(F.lit("u:"), F.col("user_id").cast("string"))
        ).alias("h"),
    ).distinct()
    wr = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    rk = hs.select(
        "event_type",
        "h",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    )
    at_k = rk.filter((F.col("r") == _K) & (F.col("n_exact") >= _K)).select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.expr(
            f"CAST(CAST(({_K} - 1) AS DECIMAL(38,0)) * {_TWO60} div h"
            " AS BIGINT)"
        ).alias("kmv_est"),
    )
    small = rk.filter((F.col("n_exact") < _K) & (F.col("r") == 1)).select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_exact").cast("bigint").alias("kmv_est"),
    )
    return at_k.unionByName(small)


@_register(
    "theil_sen_daily",
    """
WITH d AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_c
  FROM events GROUP BY 1
), slopes AS (
  SELECT CAST(floor(CAST(b.v_c - a.v_c AS DOUBLE)
                    / (b.day_idx - a.day_idx) * 1000000 + 0.5)
              AS BIGINT) AS s
  FROM d a JOIN d b ON b.day_idx > a.day_idx
), rk AS (
  SELECT s, row_number() OVER (ORDER BY s) AS r, count(*) OVER () AS n
  FROM slopes
)
SELECT CAST(max(n) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN r = (n + 1) // 2 THEN s END) AS BIGINT)
         AS slope_micro_median
FROM rk""",
    ref="extension: Theil-Sen robust trend -- lower median of pairwise "
    "daily-revenue slopes over the calendar-bounded day table; "
    "outlier-immune companion to mann_kendall_daily",
)
def q_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day_idx"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
        )
        .groupBy("day_idx")
        .agg(F.sum("v_c").alias("v_c"))
    )
    a, b = d.alias("a"), d.alias("b")
    slopes = a.join(
        F.broadcast(b), F.col("b.day_idx") > F.col("a.day_idx")
    ).select(
        F.expr(
            "CAST(floor(CAST(b.v_c - a.v_c AS DOUBLE)"
            " / (b.day_idx - a.day_idx) * 1000000 + 0.5) AS BIGINT)"
        ).alias("s")
    )
    rk = slopes.select(
        "s",
        F.row_number().over(Window.orderBy("s")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return rk.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.max(F.when(F.expr("r = (n + 1) div 2"), F.col("s")))
        .cast("bigint")
        .alias("slope_micro_median"),
    )


@_register(
    "churn_rate_weekly",
    """
WITH uw AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('week', ts) AS DATE)) AS wk
  FROM events
), labeled AS (
  SELECT a.wk, a.user_id,
         CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM uw a LEFT JOIN uw b
    ON a.user_id = b.user_id AND b.wk = a.wk + 7
  WHERE a.wk < (SELECT max(wk) FROM uw)
)
SELECT CAST(wk AS BIGINT) AS wk,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(churned) AS BIGINT) AS n_churned,
       CAST(sum(churned) * 10000 // count(*) AS BIGINT) AS churn_pm
FROM labeled GROUP BY wk""",
    ref="extension: week-over-week churn labels (active in w, absent "
    "in w+1) aggregated to per-week churn rate; retention-model label "
    "builder, the complement of value_quintile_migration's survivors",
)
def q_churn_rate_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("week", F.col("ts")).cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("wk"),
    ).distinct()
    max_wk = uw.agg(F.max("wk").alias("mx"))
    a, b = uw.alias("a"), uw.alias("b")
    labeled = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.wk") == F.col("a.wk") + 7),
            "left",
        )
        .crossJoin(F.broadcast(max_wk))
        .filter(F.col("a.wk") < F.col("mx"))
        .select(
            F.col("a.wk").alias("wk"),
            F.when(F.col("b.user_id").isNull(), 1).otherwise(0).alias(
                "churned"
            ),
        )
    )
    return labeled.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum("churned").cast("bigint").alias("n_churned"),
        F.expr("sum(churned) * 10000 div count(*)")
        .cast("bigint")
        .alias("churn_pm"),
    )


# =========================================================================
# wave 95: AMS (Alon-Matias-Szegedy) second-moment sketch
#
# ``ams_f2_user_stream``: the classic F2 (self-join size) sketch over
# the user-id event stream -- 16 counters, each summing a +/-1 sign
# drawn from the parity bit of the md5-based hash of (user_id, counter
# index); the estimate is the mean of the squared counters.  Every
# counter is an exact integer sum (map-side combinable, order-free),
# and both engines draw identical signs because hash60 renders md5
# identically.  Reported next to the EXACT F2 (sum of squared user
# frequencies) and the ppm error, so the sketch's accuracy contract is
# itself an externally hash-checkable verdict -- same pattern as
# bernoulli_sample_ci.  100 TB: 16 integers of state; the exact
# baseline is one groupBy, dropped in production (it exists here to
# audit the sketch).
# =========================================================================

_AMS_K = 16


@_register(
    "ams_f2_user_stream",
    f"""
WITH ids AS (
  SELECT CAST(user_id AS VARCHAR) AS uid FROM events
  WHERE user_id IS NOT NULL
),
signs AS (
  SELECT i,
         CASE WHEN {hash60_sql("uid || ':' || CAST(i AS VARCHAR)")} % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM ids CROSS JOIN (SELECT unnest(generate_series(1, {_AMS_K})) AS i)
),
z AS (SELECT i, CAST(sum(sgn) AS BIGINT) AS zi FROM signs GROUP BY 1),
est AS (SELECT CAST(sum(zi * zi) // {_AMS_K} AS BIGINT) AS est_f2 FROM z),
freq AS (SELECT uid, CAST(count(*) AS BIGINT) AS c FROM ids GROUP BY 1),
exact AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM freq)
SELECT est.est_f2, exact.exact_f2,
       CAST(floor(abs(est.est_f2 - exact.exact_f2) * 1000000.0
                  / exact.exact_f2 + 0.5) AS BIGINT) AS err_ppm
FROM est CROSS JOIN exact""",
    ref="extension: AMS F2 (self-join size) sketch, 16 replayable "
    "sign-hash counters vs the exact second moment -- the streaming "
    "join-size estimator, accuracy reported as a checkable verdict",
)
def q_ams_f2_user_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    ids = ev.select(F.col("user_id").cast("string").alias("uid"))
    signs = ids.select(
        "uid",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, _AMS_K + 1)])
        ).alias("i"),
    ).select(
        "i",
        F.when(
            hash60(
                F.concat(F.col("uid"), F.lit(":"), F.col("i").cast("string"))
            )
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    z = signs.groupBy("i").agg(F.sum("sgn").alias("zi"))
    est = z.agg(
        F.expr(f"sum(zi * zi) div {_AMS_K}").cast("bigint").alias("est_f2")
    )
    exact = (
        ids.groupBy("uid")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_f2"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_f2",
        "exact_f2",
        F.floor(
            F.abs(F.col("est_f2") - F.col("exact_f2"))
            * 1000000.0
            / F.col("exact_f2")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("err_ppm"),
    )
