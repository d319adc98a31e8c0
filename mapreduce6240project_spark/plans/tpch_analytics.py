"""TPC-H query shapes and revenue/inventory/customer-value analytics.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 7: Round-3 coverage wave 7: the remaining TPC-H query shapes
* wave 9: Round-3 coverage wave 9: the last TPC-H query shapes (Q2, Q3, Q9,
* wave 16: Round-3 coverage wave 16: time-range window frames and Pareto
* wave 22: Round-3 coverage wave 22: analytics + allocation operators.
* wave 26: Round-3 coverage wave 26: time-weighted and market-style analytics.
* wave 44: Round-3 coverage wave 44: RANGE-frame time windows and containment
* wave 68: Round-3 coverage wave 68: inventory classification and growth
* wave 69: Round-3 coverage wave 69: structured record linkage and fulfillment
* wave 74: Round-3 coverage wave 74: customer-value concentration analytics.
* wave 77: Round-3 coverage wave 77: backlog accounting, weekday seasonality,
* wave 80: Round-3 coverage wave 80: cohort quintile migration, percent-of-
* wave 88: Round-3 coverage wave 88: growth series, open-order aging, wide-
* wave 89: Round-3 coverage wave 89: agreement statistic, revenue waterfall,
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.session import checkpoint, pin
from mapreduce6240project_spark.sources.tables import load_table
from pyspark.sql import DataFrame, SparkSession, Window
from typing import Iterator
import pandas as pd
import tempfile

# =========================================================================
# wave 7
# Round-3 coverage wave 7: the remaining TPC-H query shapes
# expressible over the driver's star schema (no partsupp table, no
# l_commitdate/l_shipmode columns -- shapes adapted accordingly).
#
# Each query demonstrates a distinct optimizer pattern: pure
# filter-aggregate (Q6), dual-dimension multi-join with year bucketing
# (Q7), conditional market-share ratio (Q8), top-k revenue ranking with
# deterministic tie-breaks (Q10), outer-join histogram (Q13), and a
# per-group cardinality funnel (Q21 shape).  Money follows the
# fixed-point convention: per-row cents quantization before any
# reorderable sum, so Spark partial aggregation and DuckDB serial sums
# agree bit-for-bit.
# =========================================================================

_REV_CENTS = "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"


def _rev_cents() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")


# -- Q6 shape: pure filter + global aggregate ------------------------------


@_register(
    "forecast_revenue",
    """
SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""",
    ref="TPC-H Q6 shape: filter->agg with every predicate pushed to the "
    "parquet scan (min/max row-group pruning on l_shipdate)",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_cents = F.floor(
        F.col("l_extendedprice") * F.col("l_discount") * 100 + F.lit(0.5)
    ).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(disc_cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# -- Q7 shape: nation-pair shipping volume ---------------------------------


@_register(
    "nation_pair_revenue",
    f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
WHERE ns.n_name IN ('NATION_1', 'NATION_2')
  AND nc.n_name IN ('NATION_1', 'NATION_2')
  AND ns.n_name <> nc.n_name
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3""",
    ref="TPC-H Q7 shape: dual-dimension multi-join (supplier AND customer "
    "nations); both nation joins + supplier broadcast, one fact shuffle",
)
def q_nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == nc.c_nk)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == ns.s_nk)
        .filter(
            F.col("supp_nation").isin("NATION_1", "NATION_2")
            & F.col("cust_nation").isin("NATION_1", "NATION_2")
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
    )


# -- Q8 shape: market share -------------------------------------------------


@_register(
    "market_share",
    f"""
WITH base AS (
  SELECT year(o.o_orderdate) AS o_year, {_REV_CENTS} AS cents,
         CASE WHEN ns.n_name = 'NATION_1' THEN {_REV_CENTS} ELSE 0 END AS nat_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN region r ON nc.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE r.r_name = 'AMERICA'
)
SELECT o_year,
       CAST(sum(nat_cents) AS BIGINT) AS nation_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round(CAST(sum(nat_cents) AS DOUBLE) / sum(cents), 6) AS mkt_share
FROM base GROUP BY o_year""",
    ref="TPC-H Q8 shape: conditional-aggregate market share; the ratio "
    "divides two exact bigint sums, so the double division is the only "
    "float op and is identical on any engine",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nc = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cents = _rev_cents()
    nat_cents = F.when(F.col("supp_nation") == "NATION_1", cents).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == nc.c_nk)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
            F.col("c_rk") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == ns.s_nk)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(nat_cents).alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            F.round(
                F.col("nation_cents").cast("double") / F.col("total_cents"), 6
            ).alias("mkt_share"),
        )
    )


# -- Q10 shape: returned-item customer ranking -----------------------------


@_register(
    "returned_item_customers",
    f"""
SELECT c.c_custkey, c.c_name,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue_cents DESC, c_custkey LIMIT 20""",
    ref="TPC-H Q10 shape: revenue ranking of lossy customers; "
    "TakeOrderedAndProject top-k with a deterministic (cents, key) "
    "tie-break, never a global sort",
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            c.c_custkey == F.col("o_custkey"),
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


# -- Q13 shape: customer order-count distribution --------------------------


@_register(
    "customer_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count""",
    ref="TPC-H Q13 shape: outer-join histogram -- two aggregations, the "
    "second over customer-count cardinality (tiny)",
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# -- Q21 shape: sole-supplier orders ---------------------------------------


@_register(
    "sole_supplier_orders",
    """
WITH per_order AS (
  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supps,
         min(l_suppkey) AS the_supp
  FROM lineitem GROUP BY l_orderkey
)
SELECT s.s_name, count(*) AS n_orders
FROM per_order p JOIN supplier s ON p.the_supp = s.s_suppkey
WHERE p.n_supps = 1
GROUP BY s.s_name
ORDER BY n_orders DESC, s_name LIMIT 10""",
    ref="TPC-H Q21 shape (adapted: no l_commitdate): per-order supplier "
    "cardinality funnel; one fact shuffle on l_orderkey, supplier join "
    "broadcast",
)
def q_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.min("l_suppkey").alias("the_supp"),
    )
    return (
        per_order.filter(F.col("n_supps") == 1)
        .join(F.broadcast(s), F.col("the_supp") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "s_name")
        .limit(10)
    )


# -- as-of join variants (forward / nearest) --------------------------------


@_register(
    "asof_next_purchase",
    """
SELECT event_id,
       min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         AS purchase_us
FROM events""",
    ref="extension: forward as-of join (earliest right row at-or-after "
    "each left row; union + one window pass, no range join)",
)
def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.joins import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").withColumn(
        "purchase_us", F.unix_micros("ts")
    )
    joined = as_of_join(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_us"],
        suffix="",
        direction="forward",
    )
    return joined.select("event_id", "purchase_us")


@_register(
    "asof_nearest_signup",
    """
WITH w AS (
  SELECT event_id, epoch_us(ts) AS eus,
         max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS prev_us,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
  FROM events
)
SELECT event_id,
       CASE WHEN next_us IS NULL THEN prev_us
            WHEN prev_us IS NULL THEN next_us
            WHEN eus - prev_us <= next_us - eus THEN prev_us
            ELSE next_us END AS signup_us
FROM w""",
    ref="extension: nearest as-of join (closer of the bracketing right "
    "rows, ties backward); same single-window-pass shape",
)
def q_asof_nearest_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.joins import as_of_join

    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").withColumn(
        "signup_us", F.unix_micros("ts")
    )
    joined = as_of_join(
        ev,
        signups,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["signup_us"],
        suffix="",
        direction="nearest",
    )
    return joined.select("event_id", "signup_us")


# -- ranked-window function surface ----------------------------------------


@_register(
    "order_rank_profile",
    """
WITH c AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
w AS (
  SELECT o_orderkey, o_orderpriority, cents,
         percent_rank() OVER win AS pr,
         cume_dist() OVER win AS cd,
         nth_value(cents, 3) OVER (PARTITION BY o_orderpriority
                                   ORDER BY cents DESC, o_orderkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS third_cents
  FROM c
  WINDOW win AS (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey)
)
SELECT o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(floor(pr * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_pr_micros,
       CAST(sum(CAST(floor(cd * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cd_micros,
       max(third_cents) AS third_cents
FROM w GROUP BY o_orderpriority""",
    ref="extension: percent_rank / cume_dist / nth_value window surface "
    "(deterministic under the unique (cents, key) sort; rank ratios are "
    "integer-over-integer doubles, identical on any engine)",
)
def q_order_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "bigint"
    )
    base = o.select("o_orderkey", "o_orderpriority", cents.alias("cents"))
    win = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cents"), "o_orderkey"
    )
    full = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = base.select(
        "o_orderpriority",
        F.percent_rank().over(win).alias("pr"),
        F.cume_dist().over(win).alias("cd"),
        F.nth_value("cents", 3).over(full).alias("third_cents"),
    )
    micros = lambda c: F.floor(F.col(c) * 1000000 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micros("pr")).alias("sum_pr_micros"),
        F.sum(micros("cd")).alias("sum_cd_micros"),
        F.max("third_cents").alias("third_cents"),
    )


# =========================================================================
# wave 9
# Round-3 coverage wave 9: the last TPC-H query shapes (Q2, Q3, Q9,
# Q11, Q12, Q15, Q16, Q20) adapted to the driver's star schema.
#
# The schema has no ``partsupp`` table, so the part-supplier relationship
# is derived where needed as the distinct ``(l_partkey, l_suppkey)``
# pairs observed in ``lineitem`` (a "pseudo-partsupp"), with supply cost
# approximated by the minimum observed unit price.  What each query
# demonstrates is the *optimizer shape*, which survives the adaptation:
#
# - Q2: groupwise-min subquery joined back (min-cost supplier per part)
# - Q3: segment-filtered 3-way join with top-k on an aggregate
# - Q9: profit rollup by nation and year across a 4-way join
# - Q11: group aggregate filtered against a global-total scalar subquery
# - Q12: conditional two-way counts keyed on a date-arithmetic predicate
# - Q15: argmax-on-aggregate via a max scalar subquery over a view
# - Q16: count-distinct with an anti-join (NOT IN) exclusion
# - Q20: semi-join against a HAVING-filtered aggregate subquery
#
# Money follows the repo-wide fixed-point convention: quantize each
# double product to integer cents *per row*, sum the bigints (associative
# -> bit-identical under any partitioning), so Spark and DuckDB hashes
# match exactly.  Every join below either broadcasts a dimension or
# shuffles the fact table once on its join key -- the shapes hold at
# 100 TB (see SCALE.md).
#
# Reference parity note: the reference engine has no relational surface
# beyond key-value scans (SURVEY.md section 2.1); this wave is part of
# the extension surface, mirroring TPC-H's public query set.
# =========================================================================

_REV_CENTS = "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"
_UNIT_CENTS = "CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)"


def _rev_cents() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")


def _unit_cents() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * 100 + F.lit(0.5)
    ).cast("bigint")


# -- Q2 shape: min-cost supplier per part (groupwise-min join-back) ---------


@_register(
    "min_cost_supplier",
    f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, min({_UNIT_CENTS}) AS cost_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT ps.l_partkey, ps.l_suppkey, ps.cost_cents
  FROM ps
  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
best AS (
  SELECT l_partkey, min(cost_cents) AS min_cost
  FROM eligible GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_brand,
       min(e.l_suppkey) AS s_suppkey, b.min_cost AS cost_cents
FROM eligible e
JOIN best b ON e.l_partkey = b.l_partkey AND e.cost_cents = b.min_cost
JOIN part p ON e.l_partkey = p.p_partkey
WHERE p.p_size >= 40
GROUP BY p.p_partkey, p.p_brand, b.min_cost""",
    ref="TPC-H Q2 shape (adapted: pseudo-partsupp from lineitem pairs, "
    "cost = min observed unit price): groupwise-min subquery joined back; "
    "region/nation/supplier broadcast, one fact shuffle on (part, supp)",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")

    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_unit_cents()).alias("cost_cents")
    )
    euro_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    eligible = ps.join(F.broadcast(euro_supp), ps.l_suppkey == F.col("s_suppkey")).drop(
        "s_suppkey"
    )
    best = eligible.groupBy("l_partkey").agg(F.min("cost_cents").alias("min_cost"))
    return (
        eligible.join(
            best,
            (eligible.l_partkey == best.l_partkey)
            & (eligible.cost_cents == best.min_cost),
        )
        .drop(best.l_partkey)
        .join(
            F.broadcast(p.filter(F.col("p_size") >= 40)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_partkey", "p_brand", "min_cost")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
        .select(
            "p_partkey", "p_brand", "s_suppkey", F.col("min_cost").alias("cost_cents")
        )
    )


# -- Q3 shape: shipping priority (segment filter + top-k on aggregate) ------


@_register(
    "shipping_priority",
    f"""
SELECT l.l_orderkey,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""",
    ref="TPC-H Q3 shape: market-segment revenue priority; customer "
    "broadcast, one orders<->lineitem shuffle, TakeOrderedAndProject "
    "top-10 with deterministic (cents, key) tie-break",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            o.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


# -- Q9 shape: product-type profit by nation and year -----------------------


@_register(
    "product_type_profit",
    f"""
SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS profit_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(l.l_shipdate)""",
    ref="TPC-H Q9 shape (adapted: profit = revenue, no ps_supplycost): "
    "4-way join rolled up by supplier nation and ship year; part and "
    "supplier/nation sides broadcast so the fact table never shuffles "
    "before the final (nation, year) aggregation",
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%red%")).select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(F.sum(_rev_cents()).alias("profit_cents"))
    )


# -- Q11 shape: important parts vs a global-total scalar subquery -----------


@_register(
    "important_parts",
    f"""
WITH filtered AS (
  SELECT l.l_partkey, {_REV_CENTS} AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
),
per_part AS (
  SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS value_cents
  FROM filtered GROUP BY l_partkey
)
SELECT l_partkey, value_cents
FROM per_part
WHERE value_cents * 500 > (SELECT CAST(sum(cents) AS BIGINT) FROM filtered)""",
    ref="TPC-H Q11 shape (adapted: pseudo-partsupp value = revenue): "
    "per-part totals filtered against a scalar global sum; the global "
    "total is a 1-row broadcast, the threshold compare is pure integer "
    "math (value*500 > total) so no float division enters the hash",
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nation_supp = (
        s.join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
            s.s_nationkey == n.n_nationkey,
        )
        .select("s_suppkey")
    )
    filtered = li.join(
        F.broadcast(nation_supp), li.l_suppkey == F.col("s_suppkey")
    ).select("l_partkey", _rev_cents().alias("cents"))
    # persist the SMALL side: the per-part aggregate (|parts| rows), not
    # the filtered fact projection -- the global total is then the sum of
    # the per-part sums (identical bigints, associativity), so one fact
    # scan feeds both and the cache footprint is dimension-sized
    per_part = pin(filtered.groupBy("l_partkey").agg(F.sum("cents").alias("value_cents")))
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_cents") * 500 > F.col("total_cents"))
        .select("l_partkey", "value_cents")
    )


# -- Q12 shape: late-shipping priority counts -------------------------------


@_register(
    "late_ship_modes",
    """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
GROUP BY l.l_linestatus""",
    ref="TPC-H Q12 shape (adapted: lateness = shipped 60+ days after "
    "order, no l_shipmode/commitdate): conditional two-way counts over a "
    "date-arithmetic join predicate; one fact shuffle on l_orderkey",
)
def q_late_ship_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# -- Q15 shape: top supplier via max scalar subquery ------------------------


@_register(
    "top_supplier",
    f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV_CENTS}) AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_cents
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_cents = (SELECT max(total_cents) FROM rev)""",
    ref="TPC-H Q15 shape: revenue view + max scalar subquery (argmax on "
    "an aggregate); the max is a 1-row broadcast joined back against the "
    "same cached view, no second scan of the fact table",
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = pin(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev_cents()).alias("total_cents"))
    )
    best = rev.agg(F.max("total_cents").alias("max_cents"))
    return (
        rev.join(F.broadcast(best), F.col("total_cents") == F.col("max_cents"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
    )


# -- Q16 shape: supplier counts with NOT-IN exclusion -----------------------


@_register(
    "supplier_part_counts",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_size,
       count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM ps
JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (5, 10, 15, 20, 25, 30)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_size""",
    ref="TPC-H Q16 shape (adapted: pseudo-partsupp, exclusion = "
    "negative-balance suppliers): count-distinct per (brand, size) with "
    "a broadcast anti-join exclusion list",
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    part_f = p.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    ).select("p_partkey", "p_brand", "p_size")
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part_f), ps.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# -- Q20 shape: semi-join against a HAVING-filtered aggregate ---------------


@_register(
    "excess_qty_suppliers",
    """
WITH heavy AS (
  SELECT l.l_suppkey
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE 'small%'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l.l_suppkey
  HAVING CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) > 100
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  AND s.s_suppkey IN (SELECT l_suppkey FROM heavy)""",
    ref="TPC-H Q20 shape (adapted: excess = 100+ units of small parts "
    "shipped in the year): semi-join against a HAVING-filtered aggregate "
    "subquery; the aggregate output is supplier-cardinality (tiny) and "
    "broadcasts into the supplier-side semi-join",
)
def q_excess_qty_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(
                p.filter(F.col("p_name").like("small%")).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
            s.s_nationkey == n.n_nationkey,
        )
        .join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# =========================================================================
# wave 16
# Round-3 coverage wave 16: time-range window frames and Pareto
# concentration analytics.
#
# - ``event_anomalies``: trailing-1-hour anomaly detection with a RANGE
#   frame over event time (``RANGE BETWEEN 3600e6 PRECEDING AND CURRENT
#   ROW`` on microseconds) -- the frame is defined by *time distance*,
#   not row count, so sparse and dense users get the same semantics.
#   The deviation test is pure integer arithmetic
#   (``|v*n - sum| > 2e6*n`` == "more than 2.0 off the window mean"),
#   so partial-sum order cannot flip a verdict.
# - ``pareto_customers``: revenue concentration per region -- how many
#   top customers cover 80% of revenue (the 80/20 audit).  Cents-exact
#   cumulative window ordered by revenue; a customer counts while the
#   cumulative revenue *before* it is under the threshold.  The
#   per-region ordered window funnels one region's customers into one
#   task; at extreme per-region cardinality the two-phase variant
#   (range-bucket histogram, then only the boundary bucket sorted)
#   bounds the task -- shape documented here, not needed at any tested
#   scale.
#
# Reference parity note: the reference has neither window frames nor
# concentration analytics; engine-semantics extension surface alongside
# SURVEY.md section 2.
# =========================================================================

HOUR_US = 3_600_000_000
ANOMALY_MICROS = 2_000_000  # |value - window mean| > 2.0
PARETO_SHARE_NUM, PARETO_SHARE_DEN = 4, 5  # 80% as an exact ratio


@_register(
    "event_anomalies",
    f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vmic
  FROM events
),
win AS (
  SELECT event_id, user_id, us, vmic,
         sum(vmic) OVER w AS wsum,
         count(*) OVER w AS wcnt
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, wcnt AS n_window
FROM win
WHERE wcnt >= 3 AND abs(vmic * wcnt - wsum) > {ANOMALY_MICROS} * wcnt""",
    ref="extension: trailing-time-range window frame (RANGE BETWEEN "
    "interval PRECEDING) anomaly flag; integer deviation test, "
    "order-independent",
)
def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint").alias("vmic"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-HOUR_US, Window.currentRow)
    )
    win = ev.select(
        "event_id",
        "user_id",
        "vmic",
        F.sum("vmic").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wcnt"),
    )
    return win.filter(
        (F.col("wcnt") >= 3)
        & (
            F.abs(F.col("vmic") * F.col("wcnt") - F.col("wsum"))
            > F.lit(ANOMALY_MICROS) * F.col("wcnt")
        )
    ).select("event_id", "user_id", F.col("wcnt").alias("n_window"))


@_register(
    "pareto_customers",
    f"""
WITH rev AS (
  SELECT r.r_name AS region, c.c_custkey,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, c.c_custkey
),
ranked AS (
  SELECT region, cents,
         sum(cents) OVER (PARTITION BY region ORDER BY cents DESC, c_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS cum_before,
         sum(cents) OVER (PARTITION BY region) AS total
  FROM rev
)
SELECT region,
       count(*) AS n_top_customers,
       CAST(max(total) AS BIGINT) AS total_cents
FROM ranked
WHERE coalesce(cum_before, 0) * {PARETO_SHARE_DEN} < total * {PARETO_SHARE_NUM}
GROUP BY region""",
    ref="extension: Pareto 80/20 concentration per region (cents-exact "
    "cumulative window; customer counts while cumulative-before is "
    "under the threshold ratio)",
)
def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
        )
    )
    w_cum = (
        Window.partitionBy("region")
        .orderBy(F.desc("cents"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("region")
    ranked = rev.select(
        "region",
        "cents",
        F.coalesce(F.sum("cents").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("cents").over(w_tot).alias("total"),
    )
    return (
        ranked.filter(
            F.col("cum_before") * PARETO_SHARE_DEN
            < F.col("total") * PARETO_SHARE_NUM
        )
        .groupBy("region")
        .agg(
            F.count("*").alias("n_top_customers"),
            F.max("total").cast("bigint").alias("total_cents"),
        )
    )


# =========================================================================
# wave 22
# Round-3 coverage wave 22: analytics + allocation operators.
#
# - ``skyline_parts``: 2-D Pareto frontier (skyline) -- parts not
#   dominated on (min retail price, max size).  Distributed shape: the
#   classic two-phase skyline -- per-partition local skyline over the
#   distinct (price, size) pairs via a vectorized ``mapInPandas``
#   (sort + cummax scan), then one more pass over the tiny union of
#   local skylines, then a broadcast semi-join back to the full table.
#   No global sort, no all-pairs join; the frontier itself is the only
#   thing that ever leaves a partition.
# - ``copurchase_pairs``: frequent co-purchased part pairs (market
#   basket) -- distinct (order, part), self-equi-join on the order key
#   with ``part_a < part_b``, count per pair, deterministic top-20 via
#   TakeOrderedAndProject (no global sort materialization).
# - ``allocate_order_total``: exact largest-remainder proration -- each
#   order's total (integer cents) is allocated across its distinct
#   (order, part) lines proportionally to extended price such that the
#   allocated cents sum EXACTLY to the order total.  All-integer
#   arithmetic (floor-div + mod), one shuffle on the order key reused by
#   the pre-aggregate, the per-order sum window and the remainder-rank
#   window.  The unique part grain makes the remainder tie-break
#   deterministic cross-engine.
# - ``chi2_segment_status``: chi-square independence statistic between
#   customer market segment and order status.  Contingency cells from
#   one join + aggregate (customer scales with the data, so the join
#   strategy is left to AQE); margins are dimension-sized re-aggregates;
#   per-cell contributions micro-quantized to integers before the final
#   sum so double addition order cannot flip the hash.
# - ``event_type_entropy``: per-user Shannon entropy (micro-nats) of the
#   event-type distribution -- behavioral-diversity scoring for
#   training-data curation.  One count shuffle on (user, type); the
#   per-user total comes from a window over the same partitioning.
# - ``grouping_sets_revenue``: GROUPING SETS ((region), (status), ())
#   revenue -- completes the rollup/cube family with the arbitrary-sets
#   form; exact integer-micro revenue.
#
# Reference parity note: these extend ``Analysis.java``-style analytics
# (SURVEY.md section 2.6) with OLAP shapes the reference lacks; the
# skyline and entropy ops are LLM-pipeline curation primitives.
# =========================================================================

_SKY_SCHEMA = "price_c bigint, p_size int"


def _make_local_skyline():
    """Partition-local 2-D skyline: minimize price_c, maximize p_size.

    Sort by (price asc, size desc); a pair survives iff its size
    strictly exceeds the running max of every pair sorted before it
    (any earlier pair has price <= this one, so a >= size would
    dominate).  Vectorized: shifted cummax, no Python row loop.

    Returned as a closure so cloudpickle ships it BY VALUE to the
    workers -- a module-level function would be pickled by reference
    and require this package on the executor Python path (breaks
    consumers that only ``sys.path.insert`` in the driver).
    """

    def local_skyline(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            pdf = pdf.sort_values(
                ["price_c", "p_size"], ascending=[True, False], kind="mergesort"
            )
            prev_max = pdf["p_size"].cummax().shift(1)
            yield pdf[prev_max.isna() | (pdf["p_size"] > prev_max)]

    return local_skyline


@_register(
    "skyline_parts",
    """
WITH p AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
         p_size
  FROM part
)
SELECT p.p_partkey, p.price_c, p.p_size FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
    AND (q.price_c < p.price_c OR q.p_size > p.p_size))""",
    ref="extension: two-phase distributed Pareto skyline (local skyline "
    "per partition -> skyline of the tiny union -> broadcast semi-join "
    "back); the NOT EXISTS oracle is the quadratic spec, not the plan",
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
        "p_size",
    )
    pairs = part.select("price_c", "p_size").distinct()
    # phase 1: local skyline per partition; phase 2: the union of local
    # skylines is at most (partitions x frontier) rows -- one more local
    # pass on a single partition finishes it exactly.
    sky = _make_local_skyline()
    # repartition(1), NOT coalesce(1): coalesce folds back into the
    # previous stage and would run phase 1 in a single task; the
    # explicit exchange keeps phase 1 partition-parallel and carries
    # only the local frontiers
    frontier = (
        pairs.mapInPandas(sky, schema=_SKY_SCHEMA)
        .repartition(1)
        .mapInPandas(sky, schema=_SKY_SCHEMA)
    )
    return part.join(F.broadcast(frontier), ["price_c", "p_size"], "left_semi").select(
        "p_partkey", "price_c", "p_size"
    )


# ---------------------------------------------------------------------------
# market basket
# ---------------------------------------------------------------------------


@_register(
    "copurchase_pairs",
    """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_orders
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders FROM pairs
ORDER BY n_orders DESC, part_a, part_b LIMIT 20""",
    ref="extension: market-basket frequent pairs (distinct (order,part) "
    "self-equi-join on the order key, pair count, deterministic top-20 "
    "via TakeOrderedAndProject)",
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shuffle on the order key with map-side partial collect_set
    # (vs. distinct + shuffle self-join + pair shuffle = 3 exchanges);
    # within-order pair expansion is O(k^2) on the basket size k, which
    # is bounded by the schema (orders have a handful of parts) -- the
    # expansion is safe at any row scale, unlike an unbounded-key skew
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .select(F.array_sort("parts").alias("parts"))
    )
    pairs = (
        baskets.select(
            F.explode("parts").alias("part_a"), F.col("parts")
        )
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), "part_a", "part_b"
    ).limit(20)


# ---------------------------------------------------------------------------
# exact proration
# ---------------------------------------------------------------------------


@_register(
    "allocate_order_total",
    """
WITH li AS (
  SELECT l_orderkey, l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS w_c
  FROM lineitem GROUP BY l_orderkey, l_partkey
),
o AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
  FROM orders
),
j AS (
  SELECT li.l_orderkey, li.l_partkey, li.w_c, o.total_c,
         sum(li.w_c) OVER (PARTITION BY li.l_orderkey) AS sw
  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
),
base AS (
  SELECT l_orderkey, l_partkey,
         (total_c * w_c) // sw AS base_c,
         (total_c * w_c) % sw AS frac,
         total_c
  FROM j
),
ranked AS (
  SELECT l_orderkey, l_partkey, base_c,
         total_c - sum(base_c) OVER (PARTITION BY l_orderkey) AS leftover,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY frac DESC, l_partkey) AS rk
  FROM base
)
SELECT l_orderkey, l_partkey,
       CAST(base_c + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_c
FROM ranked""",
    ref="extension: exact largest-remainder proration -- per-order total "
    "cents allocated proportionally to lineitem price, all-integer "
    "floor-div/mod arithmetic, allocations sum EXACTLY to the total; "
    "one order-key shuffle shared by the sum window and the rank window",
)
def q_allocate_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-aggregate to the unique (order, part) grain: (orderkey,
    # linenumber) is NOT unique in this data, and a non-unique rank
    # tie-break would hand the remainder cents to engine-dependent rows
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.sum("c").alias("w_c"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("total_c"),
    )
    w_ord = Window.partitionBy("l_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_partkey",
        "w_c",
        "total_c",
        F.sum("w_c").over(w_ord).alias("sw"),
    )
    # all-integer: product <= ~6e7 cents * 1e7 cents = 6e14 << 2^63
    base = j.select(
        "l_orderkey",
        "l_partkey",
        F.expr("(total_c * w_c) div sw").alias("base_c"),
        F.expr("(total_c * w_c) % sw").alias("frac"),
        "total_c",
    )
    ranked = base.select(
        "l_orderkey",
        "l_partkey",
        "base_c",
        (F.col("total_c") - F.sum("base_c").over(w_ord)).alias("leftover"),
        F.row_number()
        .over(w_ord.orderBy(F.col("frac").desc(), "l_partkey"))
        .alias("rk"),
    )
    return ranked.select(
        "l_orderkey",
        "l_partkey",
        (
            F.col("base_c")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_c"),
    )


# ---------------------------------------------------------------------------
# chi-square independence
# ---------------------------------------------------------------------------


@_register(
    "chi2_segment_status",
    """
WITH cells AS (
  SELECT c.c_mktsegment AS seg, o.o_orderstatus AS status,
         count(*) AS n
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
rowt AS (SELECT seg, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY seg),
colt AS (SELECT status, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY status),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
contrib AS (
  SELECT CAST(floor(
           (n - CAST(rt * ct AS DOUBLE) / nn)
           * (n - CAST(rt * ct AS DOUBLE) / nn)
           / (CAST(rt * ct AS DOUBLE) / nn) * 1000000 + 0.5) AS BIGINT)
         AS chi_mic
  FROM cells JOIN rowt USING (seg) JOIN colt USING (status), tot
)
SELECT CAST(sum(chi_mic) AS BIGINT) AS chi2_micros,
       (SELECT CAST((count(DISTINCT seg) - 1)
               * (count(DISTINCT status) - 1) AS BIGINT) FROM cells) AS dof
FROM contrib""",
    ref="extension: chi-square independence test over two categoricals "
    "(contingency cells from one join + aggregate; per-cell terms "
    "micro-quantized so the cross-engine sum is order-free)",
)
def q_chi2_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    # customer scales with the data -- no broadcast hint; AQE picks the
    # join strategy by measured size.  cells is dimension-sized
    # (segments x statuses), so the re-aggregations below are cheap
    # without pinning executor cache for the session lifetime.
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count("*").alias("n"))
    )
    rowt = cells.groupBy("seg").agg(F.sum("n").alias("rt"))
    colt = cells.groupBy("status").agg(F.sum("n").alias("ct"))
    tot = cells.agg(F.sum("n").alias("nn"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("nn")
    contrib = (
        cells.join(F.broadcast(rowt), "seg")
        .join(F.broadcast(colt), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor((F.col("n") - e) * (F.col("n") - e) / e * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("chi_mic")
        )
    )
    dof = cells.agg(
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("status") - 1)
        ).alias("dof")
    )
    return (
        contrib.agg(F.sum("chi_mic").alias("chi2_micros"))
        .crossJoin(F.broadcast(dof))
        .select("chi2_micros", "dof")
    )


# ---------------------------------------------------------------------------
# per-user entropy
# ---------------------------------------------------------------------------


@_register(
    "event_type_entropy",
    """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, n,
         sum(n) OVER (PARTITION BY user_id) AS n_u
  FROM c
)
SELECT user_id,
       CAST(sum(CAST(floor(
         -(CAST(n AS DOUBLE) / n_u) * ln(CAST(n AS DOUBLE) / n_u)
         * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_unat,
       CAST(sum(n) AS BIGINT) AS n_events
FROM t GROUP BY user_id""",
    ref="extension: per-user Shannon entropy of the event-type "
    "distribution (behavioral-diversity curation signal); one shuffle "
    "on (user, type), per-user totals via a window over the same keys, "
    "micro-nat-quantized terms so cross-engine sums are order-free",
)
def q_event_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    t = c.select(
        "user_id",
        "n",
        F.sum("n").over(Window.partitionBy("user_id")).alias("n_u"),
    )
    p = F.col("n").cast("double") / F.col("n_u")
    term = F.floor(-p * F.log(p) * 1000000 + F.lit(0.5)).cast("bigint")
    return t.groupBy("user_id").agg(
        F.sum(term).alias("entropy_unat"),
        F.sum("n").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# grouping sets
# ---------------------------------------------------------------------------


@_register(
    "grouping_sets_revenue",
    """
WITH f AS (
  SELECT r.r_name, o.o_orderstatus,
         CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000000 + 0.5)
              AS BIGINT) AS rev_mic
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT coalesce(r_name, 'ALL') AS region_name,
       coalesce(o_orderstatus, 'ALL') AS status,
       round(sum(rev_mic) / 1000000.0, 4) AS revenue,
       count(*) AS n
FROM f GROUP BY GROUPING SETS ((r_name), (o_orderstatus), ())""",
    ref="extension: GROUPING SETS aggregation (completes the "
    "rollup/cube family with arbitrary set lists; single-scan "
    "multi-grain aggregate via Expand, exact integer-micro revenue)",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev_mic"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # nation/region are true dims (broadcast); customer scales with the
    # data, so its join strategy is left to AQE
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "o_orderstatus", "rev_mic")
    )
    grouped = f.groupingSets(
        [["r_name"], ["o_orderstatus"], []], "r_name", "o_orderstatus"
    ).agg(
        F.round(F.sum("rev_mic") / 1000000.0, 4).alias("revenue"),
        F.count("*").alias("n"),
    )
    return grouped.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        "revenue",
        "n",
    )


# =========================================================================
# wave 26
# Round-3 coverage wave 26: time-weighted and market-style analytics.
#
# - ``twap_user_value``: time-weighted average value per user -- each
#   observation weighted by the seconds until the next one (the
#   IoT/finance TWAP).  All-integer: cent values x second gaps summed in
#   BIGINT, one exact integer division to micro-units at the end.  One
#   user shuffle shared by the ordering window and the aggregate.
# - ``ohlc_hourly_value``: OHLC bars -- open/high/low/close of the
#   event value per (event_type, hour).  Open/close are picked by
#   ascending/descending ``row_number`` over (ts, event_id) so ties are
#   deterministic cross-engine (no reliance on struct-min ordering
#   quirks); bars are hour-grain so the windows are bounded.
# - ``benford_totalprice``: Benford's-law first-digit audit of order
#   totals -- observed counts vs the expected ``N * log10(1 + 1/d)``
#   occupancy, the classic fraud/data-quality screen.  Expected counts
#   are micro-floored from an identical IEEE expression in both engines.
# - ``xml_roundtrip``: Spark 4's built-in XML source/sink end-to-end
#   (write nation as XML rows, read back, aggregate); the oracle runs
#   the same aggregate over the original parquet, so content identity
#   through the XML codec is value-hash-verified.
#
# Reference parity note: extends the analytics family (SURVEY.md
# section 2.6) with time-weighted aggregation, bar-building, and a
# distributional data-quality audit.
# =========================================================================

@_register(
    "twap_user_value",
    """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
  FROM events
),
gapped AS (
  SELECT user_id, v_c,
         (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us)
           // 1000000 AS dt_s
  FROM ev
),
agg AS (
  SELECT user_id,
         CAST(sum(CAST(v_c AS HUGEINT) * dt_s) AS HUGEINT) AS wsum,
         CAST(sum(dt_s) AS BIGINT) AS span_s
  FROM gapped WHERE dt_s IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       CAST((wsum * 10000) // span_s AS BIGINT) AS twap_micro,
       span_s
FROM agg WHERE span_s > 0""",
    ref="extension: time-weighted average (TWAP) per entity -- cent "
    "values x second gaps in exact integers, one integer division to "
    "micro-units; single user-key shuffle for window + aggregate",
)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    gapped = ev.select(
        "user_id",
        "v_c",
        F.expr("(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)"
               " - us) div 1000000").alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull())
    agg = gapped.groupBy("user_id").agg(
        F.sum(F.col("v_c").cast("decimal(38,0)") * F.col("dt_s")).alias("wsum"),
        F.sum("dt_s").alias("span_s"),
    )
    # multiply BEFORE narrowing: wsum * 10000 stays in DECIMAL(38)
    # (matching the oracle's HUGEINT ordering), and only the per-user
    # quotient -- bounded by the max observed value in micro-units --
    # is cast down to BIGINT
    return agg.filter(F.col("span_s") > 0).select(
        "user_id",
        F.expr("CAST((wsum * 10000) div span_s AS BIGINT)").alias(
            "twap_micro"
        ),
        "span_s",
    )


@_register(
    "ohlc_hourly_value",
    """
WITH ev AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS hour_no,
         epoch_us(ts) AS us, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
  FROM events
),
o AS (
  SELECT event_type, hour_no, v_c,
         row_number() OVER (PARTITION BY event_type, hour_no
                            ORDER BY us, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, hour_no
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM ev
)
SELECT event_type, CAST(hour_no AS BIGINT) AS hour_no,
       CAST(min(CASE WHEN rn_a = 1 THEN v_c END) AS BIGINT) AS open_c,
       CAST(max(v_c) AS BIGINT) AS high_c,
       CAST(min(v_c) AS BIGINT) AS low_c,
       CAST(min(CASE WHEN rn_d = 1 THEN v_c END) AS BIGINT) AS close_c,
       CAST(count(*) AS BIGINT) AS n
FROM o GROUP BY event_type, hour_no""",
    ref="extension: OHLC bar building per (series, hour) -- "
    "deterministic open/close via asc/desc row_number on (ts, id); "
    "hour-grain windows stay bounded at any scale",
)
def q_ohlc_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_no"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    w = Window.partitionBy("event_type", "hour_no")
    o = ev.select(
        "event_type",
        "hour_no",
        "v_c",
        F.row_number().over(w.orderBy("us", "event_id")).alias("rn_a"),
        F.row_number()
        .over(w.orderBy(F.col("us").desc(), F.col("event_id").desc()))
        .alias("rn_d"),
    )
    return o.groupBy("event_type", "hour_no").agg(
        F.min(F.when(F.col("rn_a") == 1, F.col("v_c"))).alias("open_c"),
        F.max("v_c").alias("high_c"),
        F.min("v_c").alias("low_c"),
        F.min(F.when(F.col("rn_d") == 1, F.col("v_c"))).alias("close_c"),
        F.count("*").alias("n"),
    )


@_register(
    "benford_totalprice",
    """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
SELECT digit, n_obs,
       CAST(floor(n * (ln(1.0 + 1.0 / digit) / ln(10.0)) * 1000000 + 0.5)
            AS BIGINT) AS expected_micro
FROM obs, tot""",
    ref="extension: Benford first-digit audit (fraud/data-quality "
    "screen) -- observed counts vs N*log10(1+1/d) expectation, "
    "micro-floored from an identical IEEE expression in both engines",
)
def q_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    expected = F.floor(
        F.col("n")
        * (F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0)))
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit", "n_obs", expected.alias("expected_micro")
    )


@_register(
    "xml_roundtrip",
    """
SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
       min(n_name) AS first_nation
FROM nation GROUP BY n_regionkey""",
    ref="S1/S5 analog: XML sink + source round-trip (Spark 4 built-in "
    "XML data source); the oracle aggregates the ORIGINAL parquet, so "
    "content identity through the XML codec is value-hash-verified",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write nation as XML rows, read it back, aggregate.  Exercises
    Spark 4's built-in XML codec end-to-end (schema inference on read
    is avoided by passing the writer's schema, matching production
    practice for schema-stable feeds)."""
    out = tempfile.mkdtemp(prefix="sparkgraft_xml_") + "/nation"
    nation = load_table(spark, sf_dir, "nation")
    nation.write.format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(nation.schema)
        .load(out)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n"), F.min("n_name").alias("first_nation")
    )


# =========================================================================
# wave 44
# Round-3 coverage wave 44: RANGE-frame time windows and containment
# (asymmetric overlap) joins.
#
# - ``value_moving_avg_30m``: per-user trailing 30-minute moving average
#   via a RANGE window frame over event-time micros -- the frame variant
#   ROWS cannot express (peers at the same timestamp are all in-frame, so
#   the result is tie-insensitive and deterministic).  Integer cents with
#   truncating division replay exactly in SQL.
# - ``containment_pairs``: excerpt-duplicate detection -- ordered doc
#   pairs where >= 80% of the smaller document's shingles appear in the
#   other (|A∩B| / |A|, the asymmetric containment coefficient).  Jaccard
#   misses a short quote inside a long document (the union term swamps
#   it); containment is the standard fix, and the permyriad threshold is
#   exact integer arithmetic.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_WIN_MICROS = 30 * 60 * 1_000_000


@_register(
    "value_moving_avg_30m",
    f"""
SELECT event_id,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
            // count(*) OVER w AS BIGINT) AS avg_cents
FROM (SELECT event_id, user_id, epoch_us(ts) AS tmic, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY tmic
             RANGE BETWEEN {_WIN_MICROS} PRECEDING AND CURRENT ROW)""",
    ref="extension: trailing 30-minute RANGE-frame moving average per "
    "user -- event-time peers share the frame (tie-insensitive); "
    "integer cents, truncating division",
)
def q_moving_avg_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("tmic"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    return ev.select(
        "event_id",
        F.expr(
            f"sum(cents) OVER (PARTITION BY user_id ORDER BY tmic "
            f"RANGE BETWEEN {_WIN_MICROS} PRECEDING AND CURRENT ROW) div "
            f"count(*) OVER (PARTITION BY user_id ORDER BY tmic "
            f"RANGE BETWEEN {_WIN_MICROS} PRECEDING AND CURRENT ROW)"
        )
        .cast("bigint")
        .alias("avg_cents"),
    )


@_register(
    "containment_pairs",
    f"""
WITH sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= 3 THEN list_transform(
                    generate_series(1, len(w) - 2),
                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                  ELSE [concat_ws(' ', w)] END) AS s
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_sup, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_sub, id_sup, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sz.n_sh AS BIGINT) AS n_sub,
       CAST(n_inter * 10000 // sz.n_sh AS BIGINT) AS cont_permyriad
FROM inter JOIN sizes sz ON sz.doc_id = id_sub
WHERE n_inter * 10000 // sz.n_sh >= 8000""",
    ref="extension: asymmetric containment join (|A∩B|/|A| >= 0.8, "
    "integer permyriad) -- catches excerpt/quote duplicates Jaccard's "
    "union term swamps; shared-shingle equi-join, never all-pairs",
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-sided prefix filtering (operators/dedup.py): identical output
    # to this oracle's naive shared-shingle spec, but candidate work is
    # capped at the rare end of the vocabulary -- the unfiltered join
    # measured 6.6x per 10x rows (SCALE.md wave-44 note)
    from mapreduce6240project_spark.operators.dedup import containment_prefix_pairs

    return containment_prefix_pairs(
        load_table(spark, sf_dir, "documents"), threshold_permyriad=8000
    )


# =========================================================================
# wave 68
# Round-3 coverage wave 68: inventory classification and growth
# accounting.
#
# - ``abc_parts_classification``: ABC inventory analysis -- parts banded
#   by cumulative revenue share (A <= 80%, B <= 95%, C rest), reported as
#   per-class part counts and revenue.  The cumulative window runs over
#   the part-grain aggregate, which is catalog-bounded (orders of
#   magnitude smaller than the fact table) at any data volume.
# - ``new_vs_returning_monthly``: growth accounting -- each month's
#   revenue split into customers whose FIRST order falls in that month
#   (new) vs earlier (returning).  One min-date window per customer, one
#   month rollup; the new/retained split every growth dashboard leads
#   with.
# =========================================================================

@_register(
    "abc_parts_classification",
    """
WITH pr AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT l_partkey, rev_c,
         sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey) AS running,
         sum(rev_c) OVER () AS total
  FROM pr
),
cls AS (
  SELECT CASE WHEN running * 100 <= total * 80 THEN 'A'
              WHEN running * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         rev_c
  FROM cum
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_c) AS BIGINT) AS revenue_cents
FROM cls GROUP BY 1""",
    ref="extension: ABC inventory classification -- cumulative revenue "
    "share bands over the catalog-bounded part aggregate; integer "
    "cross-multiplied thresholds",
)
def q_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).alias(
            "rev_c"
        )
    )
    # running revenue via the range-exchanged prefix sum (descending
    # order expressed as ascending on the negated cents -- the helper's
    # offsets walk partition ids in range order either way) and the
    # total as a 1-row broadcast instead of two unpartitioned windows
    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
    )

    tot = pr.agg(F.sum("rev_c").alias("total"))
    cum = (
        distributed_prefix(
            pr.withColumn("_neg", -F.col("rev_c")),
            ["_neg", "l_partkey"],
            value_col="rev_c",
            cum_col="running",
        )
        .crossJoin(F.broadcast(tot))
        .select("rev_c", "running", "total")
    )
    cls = cum.select(
        F.when(F.expr("running * 100 <= total * 80"), "A")
        .when(F.expr("running * 100 <= total * 95"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_c",
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev_c").cast("bigint").alias("revenue_cents"),
    )


@_register(
    "new_vs_returning_monthly",
    """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         min(CAST(o_orderdate AS DATE))
           OVER (PARTITION BY o_custkey) AS first_d
  FROM orders
)
SELECT CAST(strftime(d, '%Y-%m') AS VARCHAR) AS month,
       CAST(sum(CASE WHEN strftime(d, '%Y-%m') = strftime(first_d, '%Y-%m')
                     THEN cents ELSE 0 END) AS BIGINT) AS new_rev_cents,
       CAST(sum(CASE WHEN strftime(d, '%Y-%m') <> strftime(first_d, '%Y-%m')
                     THEN cents ELSE 0 END) AS BIGINT) AS returning_rev_cents
FROM o GROUP BY 1""",
    ref="extension: new-vs-returning revenue split -- per-customer "
    "first-order window, month rollup; growth accounting",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    o = o.withColumn(
        "first_d", F.expr("min(d) OVER (PARTITION BY o_custkey)")
    )
    is_new = F.date_format("d", "yyyy-MM") == F.date_format("first_d", "yyyy-MM")
    return o.groupBy(F.date_format("d", "yyyy-MM").alias("month")).agg(
        F.sum(F.when(is_new, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("new_rev_cents"),
        F.sum(F.when(~is_new, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("returning_rev_cents"),
    )


# =========================================================================
# wave 69
# Round-3 coverage wave 69: structured record linkage and fulfillment
# quantiles.
#
# - ``part_substitutes``: substitute-part candidates -- same type and
#   size, retail price within 5% (integer permyriad band on cents).
#   Record linkage over structured attributes: the equi-join key
#   (type, size) does the blocking, the price band is a residual filter,
#   so candidate work is bounded by the largest attribute block, never
#   all-pairs.
# - ``fill_days_quantiles``: exact p50/p90 of order-to-ship days per
#   order priority -- per-group exact quantiles via (group, value)
#   counts + a cumulative window over the values, which are day-grain
#   bounded (a few thousand distinct) at any fact volume.  (The synthetic
#   ship/order dates are independent, so the distribution is wide and
#   includes negatives; the exact-quantile machinery is the point.)
# =========================================================================

_BAND = 500  # permyriad: 5%


@_register(
    "part_substitutes",
    f"""
WITH p AS (
  SELECT p_partkey, p_type, p_size,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM part
)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b, a.p_type, a.p_size,
       CAST(abs(a.price_c - b.price_c) * 10000
            // greatest(a.price_c, b.price_c) AS BIGINT) AS diff_permyriad
FROM p a JOIN p b
  ON a.p_type = b.p_type AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE abs(a.price_c - b.price_c) * 10000
      <= {_BAND} * greatest(a.price_c, b.price_c)""",
    ref="extension: substitute-part record linkage -- (type, size) "
    "blocking join + integer price band; candidate work bounded by the "
    "attribute block, never all-pairs",
)
def q_part_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        "p_size",
        F.expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "price_c"
        ),
    )
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_type") == F.col("b.p_type"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(
            F.expr(
                f"abs(a.price_c - b.price_c) * 10000"
                f" <= {_BAND} * greatest(a.price_c, b.price_c)"
            )
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_type").alias("p_type"),
            F.col("a.p_size").alias("p_size"),
            F.expr(
                "abs(a.price_c - b.price_c) * 10000"
                " div greatest(a.price_c, b.price_c)"
            )
            .cast("bigint")
            .alias("diff_permyriad"),
        )
    )


@_register(
    "fill_days_quantiles",
    """
WITH fd AS (
  SELECT o.o_orderpriority AS prio,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
c AS (SELECT prio, days, count(*) AS n FROM fd GROUP BY 1, 2),
cum AS (
  SELECT prio, days, n,
         sum(n) OVER (PARTITION BY prio ORDER BY days) AS cum,
         sum(n) OVER (PARTITION BY prio) AS total
  FROM c
)
SELECT prio AS o_orderpriority,
       CAST(min(CASE WHEN cum >= (5000 * total + 9999) // 10000
                     THEN days END) AS BIGINT) AS p50_days,
       CAST(min(CASE WHEN cum >= (9000 * total + 9999) // 10000
                     THEN days END) AS BIGINT) AS p90_days
FROM cum GROUP BY 1""",
    ref="extension: exact per-group quantiles of order-to-ship days -- "
    "(group, value) counts + day-grain cumulative window; integer "
    "ceil-div ranks",
)
def q_fill_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    fd = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    ).filter(F.col("days").isNotNull())  # NULL dates: no fill interval
    c = fd.groupBy("prio", "days").agg(F.count(F.lit(1)).alias("n"))
    cum = c.select(
        "prio",
        "days",
        F.expr("sum(n) OVER (PARTITION BY prio ORDER BY days)").alias("cum"),
        F.expr("sum(n) OVER (PARTITION BY prio)").alias("total"),
    )
    return cum.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.min(
            F.when(
                F.expr("cum >= (5000 * total + 9999) div 10000"), F.col("days")
            )
        )
        .cast("bigint")
        .alias("p50_days"),
        F.min(
            F.when(
                F.expr("cum >= (9000 * total + 9999) div 10000"), F.col("days")
            )
        )
        .cast("bigint")
        .alias("p90_days"),
    )


# =========================================================================
# wave 74
# Round-3 coverage wave 74: customer-value concentration analytics.
#
# - ``rfm_segments``: the classic Recency/Frequency/Monetary segmentation
#   -- per-customer last-order recency (days vs the corpus max date),
#   order count, and lifetime revenue in cents, each cut into quintiles
#   with ``ntile(5)`` (deterministic tiebreak on custkey), combined into
#   a 3-digit RFM code and reported as segment sizes.  ntile's bucket
#   arithmetic is integer and identical in Spark and DuckDB.
# - ``gini_customer_revenue``: Gini coefficient of lifetime revenue
#   across ordering customers, from the exact rank formula
#   ``G = (2*sum(i*x_i) - (n+1)*sum(x))/(n*sum(x))`` over cents revenue
#   with a deterministic (revenue, custkey) total order.  All sufficient
#   statistics in DECIMAL(38,0); the single final division runs in IEEE
#   doubles under an explicit ``floor`` -- the numerator times 10000
#   exceeds bigint already at sf0.1 (caught by tools/stress10x.py), and
#   DuckDB's ``//`` on decimals rounds instead of flooring (wave-73
#   lesson), so double division with identical expression shape in both
#   engines is the deterministic overflow-proof form (the established
#   ``quality_score`` convention).
# - ``hhi_supplier_nation``: Herfindahl-Hirschman concentration of
#   supplier revenue within each nation -- permyriad shares of
#   dollar-quantized revenue (``rev_d * 10000 div sum(rev_d)``), then an
#   integer sum of squared shares.  Dollar quantization keeps every
#   intermediate below 2^63 at any input scale (the naive
#   ``sum(rev_c^2)`` form overflowed bigint already at sf0.001);
#   aggregation + one nation-partitioned window, embarrassingly scalable.
#
# Scale: ``hhi_supplier_nation`` is group-by only.  The RFM ntile and the
# Gini rank use a global customer-ordered window -- exact by design at
# test scale; the 100 TB variant swaps the exact ranks for quantile
# cut-points (approx_percentile) and a binned Lorenz curve, which the
# docstring records as the intended production fallback (same pattern as
# ``doc_size_pct_rank``).
# =========================================================================

_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


@_register(
    "rfm_segments",
    f"""
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', CAST(max(o_orderdate) AS DATE),
                   CAST(max(max(o_orderdate)) OVER () AS DATE)) AS recency_d,
         count(*) AS freq,
         sum({_CENTS}) AS monetary_c
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
), scored AS (
  SELECT ntile(5) OVER (ORDER BY recency_d, o_custkey) AS r_q,
         ntile(5) OVER (ORDER BY freq, o_custkey) AS f_q,
         ntile(5) OVER (ORDER BY monetary_c, o_custkey) AS m_q
  FROM per_cust
)
SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code,
       CAST(count(*) AS BIGINT) AS n_customers
FROM scored GROUP BY 1""",
    ref="extension: RFM quintile segmentation -- per-customer recency/"
    "frequency/monetary ntile(5) codes with deterministic tiebreaks",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact NTILE without the single-task global sort: each quintile
    # comes from operators/prefix.distributed_prefix's range-exchanged
    # rank plus the integer NTILE formula -- value-identical to the
    # window form the oracle runs (tools/plan_lint.py found the window
    # version; the 100 TB fallback note in the wave-74 header is now
    # moot because the exact form scales).
    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
        ntile_from_rank,
    )

    # an order with no customer key belongs to no RFM segment, and its
    # NULL key is an ordering wildcard the engines place oppositely in
    # the quintile ranks (dirty-tpch contract)
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .filter(F.col("o_custkey").isNotNull())
    )
    base = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.expr(_CENTS)).alias("monetary_c"),
    )
    mx = base.agg(F.max("last_d").alias("_mx"))
    per_cust = pin(
        base.crossJoin(F.broadcast(mx))
        .withColumn("recency_d", F.datediff(F.col("_mx"), F.col("last_d")))
        .drop("_mx")
    )

    def quintile(order_col: str, out: str) -> DataFrame:
        ranked = distributed_prefix(
            per_cust.select("o_custkey", order_col),
            [order_col, "o_custkey"],
            total_col="_n",
        )
        return ranked.select(
            "o_custkey", ntile_from_rank("_rank", "_n", 5).alias(out)
        )

    scored = (
        quintile("recency_d", "r_q")
        .join(quintile("freq", "f_q"), "o_custkey")
        .join(quintile("monetary_c", "m_q"), "o_custkey")
    )
    return (
        scored.groupBy(
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
            .cast("bigint")
            .alias("rfm_code")
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "gini_customer_revenue",
    f"""
WITH rev AS (
  SELECT o_custkey, CAST(sum({_CENTS}) AS DECIMAL(38,0)) AS rev_c
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev_c,
         CAST(row_number() OVER (ORDER BY rev_c, o_custkey)
              AS DECIMAL(38,0)) AS i
  FROM rev
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
       CAST(floor(CAST(2 * sum(i * rev_c) - (count(*) + 1) * sum(rev_c)
                       AS DOUBLE) * 10000
                  / CAST(count(*) * sum(rev_c) AS DOUBLE)) AS BIGINT)
         AS gini_permyriad
FROM ranked""",
    ref="extension: exact Gini coefficient of customer lifetime revenue "
    "from the rank formula, integer cents + DECIMAL(38,0) statistics",
)
def q_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rank-formula Gini with the rank from the range-exchanged prefix
    # helper instead of an unpartitioned row_number window (same exact
    # ranks, no single-task global sort)
    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
    )

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.expr(_CENTS)).cast("decimal(38,0)").alias("rev_c")
    )
    ranked = distributed_prefix(
        rev, ["rev_c", "o_custkey"], rank_col="_rank"
    ).select("rev_c", F.col("_rank").cast("decimal(38,0)").alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_c").cast("bigint").alias("total_rev_c"),
        F.expr(
            "CAST(floor(CAST(2 * sum(i * rev_c) - (count(*) + 1) * sum(rev_c)"
            " AS DOUBLE) * 10000"
            " / CAST(count(*) * sum(rev_c) AS DOUBLE)) AS BIGINT)"
        ).alias("gini_permyriad"),
    )


@_register(
    "hhi_supplier_nation",
    """
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) // 100
           AS rev_d
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), shares AS (
  SELECT s_nationkey,
         rev_d * 10000
           // greatest(sum(rev_d) OVER (PARTITION BY s_nationkey), 1)
           AS share_pm
  FROM rev
)
SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(share_pm * share_pm) // 10000 AS BIGINT) AS hhi_permyriad
FROM shares GROUP BY 1""",
    ref="extension: Herfindahl-Hirschman supplier concentration per "
    "nation -- permyriad shares of dollar-quantized revenue (bigint-"
    "safe at any scale: dollars*10000 < 2^63 up to $9e14 per supplier), "
    "then an exact integer sum of squared shares",
)
def q_hhi_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.expr(
                "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
                " div 100"
            ).alias("rev_d")
        )
    )
    shares = rev.select(
        "s_nationkey",
        F.expr(
            "rev_d * 10000 div greatest("
            "sum(rev_d) OVER (PARTITION BY s_nationkey), 1)"
        ).alias("share_pm"),
    )
    return (
        shares.groupBy(
            F.col("s_nationkey").cast("bigint").alias("s_nationkey")
        )
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.expr(
                "CAST(sum(share_pm * share_pm) div 10000 AS BIGINT)"
            ).alias("hhi_permyriad"),
        )
    )


# =========================================================================
# wave 77
# Round-3 coverage wave 77: backlog accounting, weekday seasonality,
# dedup inflation.
#
# - ``orders_backlog_daily``: open-order backlog per day via event
#   sourcing -- each order contributes +1 on its order date and -1 on its
#   fulfillment date (max lineitem ship date); the backlog is the running
#   sum of those deltas over the day grain.  The delta aggregation is one
#   shuffle over orders; the cumulative scan runs on the tiny day
#   dimension (calendar-bounded), the same prefix-sum shape as
#   ``changepoint_day``.  Orders with no lineitems never close and stay
#   in the backlog tail.
# - ``weekday_value_index``: day-of-week seasonality index of event
#   value -- mean value per ISO weekday relative to the overall mean, in
#   permyriad integers.  The sufficient statistics are exact cent sums;
#   the final ratio ``floor(sum_d * n_total * 10000 / (n_d *
#   sum_total))`` runs in IEEE doubles with identical expression shape
#   in both engines (the all-bigint form overflows at 10x -- same
#   stress-found failure mode as ``gini_customer_revenue``).  Spark has
#   no ``isodow``; ``weekday() + 1`` is the documented equivalent
#   (0=Monday shifted to 1=Monday..7=Sunday, matching DuckDB's
#   ``isodow``).
# - ``corpus_dedup_inflation``: the single-row corpus-card stat every
#   dedup report leads with -- documents and tokens before vs after
#   exact dedup, and the token inflation factor in permyriad.  Tokens
#   "after dedup" counts each distinct normalized text once (the
#   survivor's tokens), so inflation = tokens_total / tokens_unique.
#
# Scale: all three are aggregation-only; the backlog's ordered scan is
# over distinct days (bounded by the calendar), never over orders.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_NTOK = f"len(string_split({_NORM}, ' '))"


@_register(
    "orders_backlog_daily",
    """
WITH fulfill AS (
  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS ship_d
  FROM lineitem GROUP BY 1
), deltas AS (
  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
  UNION ALL
  SELECT f.ship_d AS day, -1 AS delta
  FROM orders o JOIN fulfill f ON o.o_orderkey = f.l_orderkey
), by_day AS (
  SELECT day, sum(delta) AS net FROM deltas
  WHERE day IS NOT NULL GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS backlog
FROM by_day""",
    ref="extension: open-order backlog by event sourcing -- +1 at "
    "order date, -1 at last ship date, prefix sum over the bounded "
    "day dimension",
)
def q_orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    fulfill = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("ship_d")
    )
    opened = o.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.lit(1).alias("delta"),
    )
    closed = (
        o.join(fulfill, o.o_orderkey == fulfill.l_orderkey)
        .select(F.col("ship_d").alias("day"), F.lit(-1).alias("delta"))
    )
    by_day = (
        opened.unionByName(closed)
        # NULL event days (NULL order date / all-NULL ship dates) have
        # no place on the backlog timeline; the engines order NULL days
        # oppositely in the prefix sum (dirty-tpch contract)
        .filter(F.col("day").isNotNull())
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    # ordered scan over distinct days only (calendar-bounded)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return by_day.select(
        F.col("day").cast("string").alias("day"),
        F.sum("net").over(w).cast("bigint").alias("backlog"),
    )


@_register(
    "weekday_value_index",
    """
WITH per_dow AS (
  SELECT isodow(CAST(ts AS DATE)) AS dow,
         count(*) AS n_d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_d
  FROM events GROUP BY 1
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(n_d AS BIGINT) AS n_events,
       CAST(sum_d AS BIGINT) AS sum_value_c,
       CAST(floor(CAST(sum_d AS DOUBLE) * sum(n_d) OVER () * 10000
                  / (CAST(n_d AS DOUBLE) * sum(sum_d) OVER ()))
            AS BIGINT) AS index_pm
FROM per_dow""",
    ref="extension: weekday seasonality index -- per-ISO-weekday mean "
    "value vs overall mean, exact cents, single end division",
)
def q_weekday_value_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.weekday(F.col("ts").cast("date")) + 1).alias("dow"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
    )
    per_dow = ev.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_d"), F.sum("v_c").alias("sum_d")
    )
    w = Window.partitionBy()
    return per_dow.select(
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n_d").cast("bigint").alias("n_events"),
        F.col("sum_d").cast("bigint").alias("sum_value_c"),
        F.expr(
            "CAST(floor(CAST(sum_d AS DOUBLE) * sum(n_d) OVER () * 10000"
            " / (CAST(n_d AS DOUBLE) * sum(sum_d) OVER ()))"
            " AS BIGINT)"
        ).alias("index_pm"),
    )


@_register(
    "corpus_dedup_inflation",
    f"""
WITH toks AS (
  SELECT md5({_NORM}) AS fp, {_NTOK} AS n_tok FROM documents
), uniq AS (
  SELECT fp, min(n_tok) AS n_tok, count(*) AS n_copies
  FROM toks GROUP BY fp
)
SELECT CAST(sum(n_copies) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique_docs,
       CAST(sum(n_tok * n_copies) AS BIGINT) AS tokens_total,
       CAST(sum(n_tok) AS BIGINT) AS tokens_unique,
       CAST(sum(n_tok * n_copies) * 10000 AS BIGINT)
         // CAST(sum(n_tok) AS BIGINT) AS inflation_pm
FROM uniq""",
    ref="extension: corpus dedup-inflation card stat -- docs/tokens "
    "before vs after exact dedup in one digest shuffle (identical "
    "texts share one token count, so min = the survivor's)",
)
def q_corpus_dedup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.md5(normalize_text("text")).alias("fp"),
        F.size(F.split(normalize_text("text"), " ")).alias("n_tok"),
    )
    uniq = toks.groupBy("fp").agg(
        F.min("n_tok").alias("n_tok"), F.count(F.lit(1)).alias("n_copies")
    )
    return uniq.agg(
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_docs"),
        F.sum(F.col("n_tok") * F.col("n_copies"))
        .cast("bigint")
        .alias("tokens_total"),
        F.sum("n_tok").cast("bigint").alias("tokens_unique"),
        F.expr(
            "CAST(sum(n_tok * n_copies) * 10000 AS BIGINT)"
            " div CAST(sum(n_tok) AS BIGINT)"
        ).alias("inflation_pm"),
    )


# =========================================================================
# wave 80
# Round-3 coverage wave 80: cohort quintile migration, percent-of-
# parent rollup, robust (winsorized) mean.
#
# - ``value_quintile_migration``: week-over-week customer-value quintile
#   transition matrix -- the churn/upsell dashboard behind every
#   lifecycle team.  Per (user, ISO week) value totals in exact cents ->
#   ``ntile(5)`` partitioned BY WEEK (each week sorts independently --
#   no global sort) with a deterministic ``(v_c, user_id)`` order ->
#   self-join user rows to the following week (integer day-index + 7,
#   engine-neutral) -> count per (week, from-quintile, to-quintile).
#   Users absent the next week leave the matrix (churn is the complement
#   of the row sums, derivable).
# - ``nation_share_of_region``: percent-of-parent rollup -- each
#   nation's order revenue as a permyriad share of its region's total.
#   Orders aggregate once per custkey, join the small customer->nation->
#   region dimension chain (broadcast), and the window share runs over
#   the 25-row nation table.  The hierarchical complement to
#   ``rollup_revenue`` (which totals levels; this expresses each level
#   as a fraction of its parent).
# - ``winsorized_mean_value``: 1%/99% winsorized mean of event value --
#   the robust mean that survives fat tails where the plain mean follows
#   outliers.  Exact and scale-safe via the repo's quantized-histogram
#   pattern (``changepoint_day``, ``ks_value_drift``): cents histogram
#   (bounded distinct values) -> cumulative counts on the tiny histogram
#   -> discrete p1/p99 cut points -> clamp-weighted sum.  Both engines
#   run the identical cumulative-count definition, so no percentile-
#   implementation divergence; everything is BIGINT until the final
#   floor division.
#
# Scale: week-partitioned ntile sorts, broadcast dimension joins, and a
# histogram whose size is bounded by the value domain (not row count).
# =========================================================================

@_register(
    "value_quintile_migration",
    """
WITH uw AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('week', ts) AS DATE)) AS wk,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_c
  FROM events GROUP BY 1, 2
), q AS (
  SELECT user_id, wk,
         ntile(5) OVER (PARTITION BY wk ORDER BY v_c, user_id) AS quintile
  FROM uw
)
SELECT CAST(a.wk AS BIGINT) AS wk_from,
       CAST(a.quintile AS BIGINT) AS q_from,
       CAST(b.quintile AS BIGINT) AS q_to,
       CAST(count(*) AS BIGINT) AS n_users
FROM q a JOIN q b ON a.user_id = b.user_id AND b.wk = a.wk + 7
GROUP BY 1, 2, 3""",
    ref="extension: week-over-week value-quintile transition matrix -- "
    "week-partitioned ntile (no global sort), integer week index join",
)
def q_value_quintile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.select(
            "user_id",
            F.datediff(
                F.date_trunc("week", F.col("ts")).cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("wk"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
        )
        .groupBy("user_id", "wk")
        .agg(F.sum("v_c").alias("v_c"))
    )
    q = uw.select(
        "user_id",
        "wk",
        F.ntile(5)
        .over(Window.partitionBy("wk").orderBy("v_c", "user_id"))
        .alias("quintile"),
    )
    a, b = q.alias("a"), q.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.wk") == F.col("a.wk") + 7),
        )
        .groupBy(
            F.col("a.wk").cast("bigint").alias("wk_from"),
            F.col("a.quintile").cast("bigint").alias("q_from"),
            F.col("b.quintile").cast("bigint").alias("q_to"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@_register(
    "nation_share_of_region",
    """
WITH nat_rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation, CAST(rev_c AS BIGINT) AS revenue_c,
       CAST(rev_c * 10000 // sum(rev_c) OVER (PARTITION BY region)
            AS BIGINT) AS share_pm
FROM nat_rev""",
    ref="extension: percent-of-parent hierarchy share -- nation revenue "
    "as permyriad of its region; broadcast dim chain, window over the "
    "25-row nation rollup",
)
def q_nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "rev_c"
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat_rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("rev_c").alias("rev_c"))
    )
    w = Window.partitionBy("region")
    return nat_rev.select(
        "region",
        "nation",
        F.col("rev_c").cast("bigint").alias("revenue_c"),
        F.expr("rev_c * 10000").cast("bigint")
        .alias("_num"),
        F.sum("rev_c").over(w).alias("_den"),
    ).select(
        "region",
        "nation",
        "revenue_c",
        F.expr("_num div _den").cast("bigint").alias("share_pm"),
    )


@_register(
    "winsorized_mean_value",
    """
WITH h AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c, count(*) AS n
  FROM events GROUP BY 1
), cum AS (
  SELECT v_c, n, sum(n) OVER (ORDER BY v_c) AS cn,
         sum(n) OVER () AS total
  FROM h
), cuts AS (
  SELECT min(CASE WHEN cn * 100 >= total THEN v_c END) AS lo,
         min(CASE WHEN cn * 100 >= total * 99 THEN v_c END) AS hi,
         max(total) AS total
  FROM cum
)
SELECT CAST(c.total AS BIGINT) AS n_events,
       CAST(c.lo AS BIGINT) AS p01_c,
       CAST(c.hi AS BIGINT) AS p99_c,
       CAST(sum(GREATEST(c.lo, LEAST(c.hi, h.v_c)) * h.n) // c.total
            AS BIGINT) AS winsorized_mean_c,
       CAST(sum(h.v_c * h.n) // c.total AS BIGINT) AS plain_mean_c
FROM h CROSS JOIN cuts c
GROUP BY c.total, c.lo, c.hi""",
    ref="extension: 1%/99% winsorized mean via exact integer cents "
    "histogram -- cumulative cut points on the bounded histogram, "
    "clamp-weighted sum; robust-mean companion to mad_outlier_prices",
)
def q_winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c")
        )
        .groupBy("v_c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # cumulative scan over the histogram only (bounded by the cents
    # domain, not by row count)
    wc = Window.orderBy("v_c").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "v_c",
        "n",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    cuts = cum.agg(
        F.min(F.when(F.col("cn") * 100 >= F.col("total"), F.col("v_c"))).alias(
            "lo"
        ),
        F.min(
            F.when(F.col("cn") * 100 >= F.col("total") * 99, F.col("v_c"))
        ).alias("hi"),
        F.max("total").alias("total"),
    )
    # 1-row cuts broadcast against the small histogram
    joined = h.crossJoin(F.broadcast(cuts))
    return joined.groupBy("total", "lo", "hi").agg(
        F.sum(
            F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("v_c")))
            * F.col("n")
        ).alias("_wsum"),
        F.sum(F.col("v_c") * F.col("n")).alias("_psum"),
    ).select(
        F.col("total").cast("bigint").alias("n_events"),
        F.col("lo").cast("bigint").alias("p01_c"),
        F.col("hi").cast("bigint").alias("p99_c"),
        F.expr("_wsum div total").cast("bigint").alias("winsorized_mean_c"),
        F.expr("_psum div total").cast("bigint").alias("plain_mean_c"),
    )


# =========================================================================
# wave 88
# Round-3 coverage wave 88: growth series, open-order aging, wide-
# table export.
#
# - ``mom_revenue_growth``: month-over-month revenue growth -- monthly
#   cent totals on the integer month index (year*12+month), previous
#   month via ``lag`` over the bounded ~80-row month dimension, growth
#   in permyriad of the prior month.  The first month (no prior) is
#   excluded.  The growth-series complement to ``segment_trend_slope``
#   (level trend) and ``new_vs_returning_monthly`` (mix).
# - ``open_order_aging``: aging report of orders that have NO lineitem
#   at all (never fulfilled -- the anti-join complement of
#   ``orders_backlog_daily``'s event-sourced balance): age from order
#   date to the corpus's last ship date, bucketed into whole years, with
#   order counts and exposure revenue.  Anti-join + map-only bucketing;
#   the 1-row corpus-end aggregate is broadcast.
# - ``obt_export_checksum``: the One-Big-Table export every training /
#   BI pipeline ships -- orders denormalized through customer -> nation
#   -> region (broadcast dimension chain), written to parquet
#   PARTITIONED BY region, read back through the partition layout, and
#   content-verified per region with the order-independent modular
#   checksum (``table_checksum_orders`` convention: canonical row
#   rendering -> 60-bit md5 -> DECIMAL(38) sum mod 2^61-1).  The oracle
#   computes the same checksum from the source tables directly -- a
#   lossless export must reproduce it per partition.
#
# Scale: month/age grids are calendar-bounded; the OBT join broadcasts
# dimensions and the partitioned write is the layout a real cluster
# export produces.
# =========================================================================

_MERSENNE61 = (1 << 61) - 1


@_register(
    "mom_revenue_growth",
    """
WITH m AS (
  SELECT year(CAST(o_orderdate AS DATE)) * 12
           + month(CAST(o_orderdate AS DATE)) AS mon,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
), g AS (
  SELECT mon, rev_c, lag(rev_c) OVER (ORDER BY mon) AS prev_c
  FROM m
)
SELECT CAST(mon AS BIGINT) AS mon,
       CAST(rev_c AS BIGINT) AS revenue_c,
       CAST((rev_c - prev_c) * 10000 // prev_c AS BIGINT) AS growth_pm
FROM g WHERE prev_c IS NOT NULL""",
    ref="extension: month-over-month revenue growth in permyriad -- "
    "integer month index, lag over the bounded month dimension",
)
def q_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL order date has no month: it would form a phantom NULL-month
    # group that the lag walk orders differently per engine
    # (dirty-tpch contract)
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    m = (
        o.select(
            (
                F.year(F.col("o_orderdate").cast("date")) * 12
                + F.month(F.col("o_orderdate").cast("date"))
            ).alias("mon"),
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
                "v"
            ),
        )
        .groupBy("mon")
        .agg(F.sum("v").alias("rev_c"))
    )
    g = m.withColumn("prev_c", F.lag("rev_c").over(Window.orderBy("mon")))
    return g.filter(F.col("prev_c").isNotNull()).select(
        F.col("mon").cast("bigint").alias("mon"),
        F.col("rev_c").cast("bigint").alias("revenue_c"),
        F.expr("(rev_c - prev_c) * 10000 div prev_c")
        .cast("bigint")
        .alias("growth_pm"),
    )


@_register(
    "open_order_aging",
    """
WITH endt AS (
  SELECT max(CAST(l_shipdate AS DATE)) AS t_end FROM lineitem
), open_o AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey)
)
SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      (SELECT t_end FROM endt)) // 365 AS BIGINT)
         AS age_years,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS exposure_c
FROM open_o GROUP BY 1""",
    ref="extension: aging buckets of never-fulfilled orders (no "
    "lineitem) at corpus end -- anti-join + whole-year bucketing; "
    "exposure complement of orders_backlog_daily",
)
def q_open_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    endt = li.agg(
        F.max(F.col("l_shipdate").cast("date")).alias("t_end")
    )
    open_o = o.join(
        li.select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
        "o_orderkey",
        "left_anti",
    )
    return (
        open_o.crossJoin(F.broadcast(endt))
        .select(
            F.expr(
                "CAST(datediff(t_end, CAST(o_orderdate AS DATE))"
                " div 365 AS BIGINT)"
            ).alias("age_years"),
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
                "v"
            ),
        )
        .groupBy("age_years")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("v").cast("bigint").alias("exposure_c"),
        )
    )


@_register(
    "obt_export_checksum",
    f"""
WITH obt AS (
  SELECT r.r_name AS region, o.o_orderkey, o.o_custkey, c.c_name,
         n.n_name AS nation,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
), h AS (
  SELECT region,
         ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
                                       c_name, nation, total_c)),
                         1, 15))::BIGINT AS hv
  FROM obt
)
SELECT region, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(hv) % {_MERSENNE61} AS BIGINT) AS checksum
FROM h GROUP BY region""",
    ref="extension: One-Big-Table export -- orders denormalized "
    "through the dimension chain, parquet sink PARTITIONED BY region, "
    "read back and content-verified per partition with the "
    "table_checksum_orders modular checksum",
)
def q_obt_export_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "total_c"
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    obt = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            "o_orderkey",
            "o_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "total_c",
        )
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_obt_")
    obt.write.mode("overwrite").partitionBy("region").parquet(path)
    back = spark.read.parquet(path)
    hv = hash60(
        F.concat_ws(
            "|",
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("c_name"),
            F.col("nation"),
            F.col("total_c"),
        )
    )
    return (
        back.select(F.col("region").cast("string").alias("region"), hv.alias("hv"))
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum(F.col("hv").cast("decimal(38,0)")) % _MERSENNE61)
            .cast("bigint")
            .alias("checksum"),
        )
    )


# =========================================================================
# wave 89
# Round-3 coverage wave 89: agreement statistic, revenue waterfall,
# feature standardization.
#
# - ``lang_id_kappa``: Cohen's kappa between the labeled ``lang`` and
#   the marker-argmax LID prediction -- chance-corrected agreement, the
#   scalar that tells you whether ``lang_id_accuracy``'s number beats
#   the class-prior baseline (accuracy alone flatters skewed corpora).
#   Built from the SAME confusion counts as ``lang_confusion_matrix``
#   (the oracle reuses the verified scoring SQL), then pure integer
#   arithmetic: kappa = (n*sum(diag) - sum(row_k*col_k)) /
#   (n^2 - sum(row_k*col_k)) in exact micro units.
# - ``revenue_waterfall_monthly``: the gross -> -discount -> +tax -> net
#   monthly decomposition (the finance waterfall behind every revenue
#   chart; ``pricing_summary`` aggregates the same terms per flag, this
#   is the time-series form).  One rounding per row per term (exact
#   cents), one month-grain shuffle.
# - ``embedding_standardize``: per-dimension z-scoring of the embedding
#   matrix -- the standardization step before PCA/whitening/linear
#   probes (``embedding_covariance`` measures the raw second moments;
#   this APPLIES the normalization).  Sufficient stats per dim in
#   DECIMAL(38), std quantized once to micro units in double sqrt
#   (identical expression both engines), then the z-value for every
#   (vector, dim) cell in exact milli units via integer-widened
#   division; constant dims emit z = 0.  Map-side explode + a 64-row
#   broadcast join -- no global sort.
#
# Scale: kappa and the waterfall reduce to label-pair / month grids;
# standardization broadcasts 64 per-dim stats against a map-only
# explode.
# =========================================================================

def _kappa_sql() -> str:
    from mapreduce6240project_spark.plans.curation_ext import _confusion_sql

    return f"""
WITH conf AS ({_confusion_sql()}),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
              AS BIGINT) AS diag
  FROM conf
),
marg AS (
  SELECT CAST(sum(r.rn * c.cn) AS BIGINT) AS pe_num
  FROM (SELECT true_lang AS k, sum(n) AS rn FROM conf GROUP BY 1) r
  JOIN (SELECT pred_lang AS k, sum(n) AS cn FROM conf GROUP BY 1) c
    ON r.k = c.k
)
SELECT t.n AS n_docs,
       CAST(t.diag * 10000 // t.n AS BIGINT) AS accuracy_pm,
       CAST((t.n * t.diag - m.pe_num) * 1000000
            // (t.n * t.n - m.pe_num) AS BIGINT) AS kappa_micro
FROM tot t, marg m"""


@_register(
    "lang_id_kappa",
    _kappa_sql(),
    ref="extension: Cohen's kappa of the marker-argmax LID vs labels "
    "-- chance-corrected agreement from the lang_confusion_matrix "
    "counts, exact integer arithmetic",
)
def q_lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs)
    conf = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = conf.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("true_lang") == F.col("pred_lang"), F.col("n")))
        .cast("bigint")
        .alias("diag"),
    ).select("n", F.coalesce("diag", F.lit(0)).alias("diag"))
    r = conf.groupBy(F.col("true_lang").alias("k")).agg(
        F.sum("n").alias("rn")
    )
    c = conf.groupBy(F.col("pred_lang").alias("k")).agg(
        F.sum("n").alias("cn")
    )
    marg = (
        r.join(c, "k")
        .agg(F.sum(F.col("rn") * F.col("cn")).cast("bigint").alias("pe_num"))
    )
    return tot.crossJoin(F.broadcast(marg)).select(
        F.col("n").alias("n_docs"),
        F.expr("diag * 10000 div n").cast("bigint").alias("accuracy_pm"),
        F.expr("(n * diag - pe_num) * 1000000 div (n * n - pe_num)")
        .cast("bigint")
        .alias("kappa_micro"),
    )


@_register(
    "revenue_waterfall_monthly",
    """
SELECT CAST(year(CAST(l_shipdate AS DATE)) * 12
            + month(CAST(l_shipdate AS DATE)) AS BIGINT) AS mon,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS gross_c,
       CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS discount_c,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * l_tax
                           * 100 + 0.5) AS BIGINT)) AS BIGINT) AS tax_c,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            - sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                       AS BIGINT))
            + sum(CAST(floor(l_extendedprice * (1 - l_discount) * l_tax
                             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS net_c
FROM lineitem GROUP BY 1""",
    ref="extension: monthly gross -> -discount -> +tax -> net revenue "
    "waterfall in exact cents (one rounding per row per term); "
    "time-series form of pricing_summary",
)
def q_revenue_waterfall_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
    d = F.expr(
        "CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)"
    )
    t = F.expr(
        "CAST(floor(l_extendedprice * (1 - l_discount) * l_tax * 100"
        " + 0.5) AS BIGINT)"
    )
    mon = (
        F.year(F.col("l_shipdate").cast("date")) * 12
        + F.month(F.col("l_shipdate").cast("date"))
    ).cast("bigint")
    agg = li.select(
        mon.alias("mon"), g.alias("g"), d.alias("d"), t.alias("t")
    ).groupBy("mon").agg(
        F.sum("g").cast("bigint").alias("gross_c"),
        F.sum("d").cast("bigint").alias("discount_c"),
        F.sum("t").cast("bigint").alias("tax_c"),
    )
    return agg.select(
        "mon",
        "gross_c",
        "discount_c",
        "tax_c",
        (F.col("gross_c") - F.col("discount_c") + F.col("tax_c"))
        .cast("bigint")
        .alias("net_c"),
    )


@_register(
    "embedding_standardize",
    """
WITH q AS (
  SELECT e.vec_id, CAST(t.i AS INT) - 1 AS pos,
         CAST(floor(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)
                    * 1000000) AS BIGINT) AS qx
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
), s AS (
  SELECT pos, CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(qx) AS DECIMAL(38,0)) AS sx,
         sum(CAST(qx AS HUGEINT) * qx) AS sxx
  FROM q GROUP BY pos
), st AS (
  SELECT pos, n, sx,
         CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n)
              AS BIGINT) AS std_micro
  FROM s
)
SELECT q.vec_id, CAST(q.pos AS BIGINT) AS pos,
       CAST(CASE WHEN st.std_micro = 0 THEN 0
                 ELSE CAST((q.qx * st.n - st.sx) * 1000 AS HUGEINT)
                      // CAST(st.std_micro * st.n AS HUGEINT) END
            AS BIGINT) AS z_milli
FROM q JOIN st ON q.pos = st.pos""",
    ref="extension: per-dimension z-scoring of embeddings -- "
    "DECIMAL(38) sufficient stats, one micro-quantized std per dim, "
    "exact milli z-values via widened integer division; applies what "
    "embedding_covariance measures",
)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "pos",
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias(
            "qx"
        ),
    )
    s = q.groupBy("pos").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("qx").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("qx").cast("decimal(38,0)")
            * F.col("qx").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    st = s.select(
        "pos",
        "n",
        "sx",
        F.expr(
            "CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n)"
            " AS BIGINT)"
        ).alias("std_micro"),
    )
    return q.join(F.broadcast(st), "pos").select(
        "vec_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.expr(
            "CAST(CASE WHEN std_micro = 0 THEN 0"
            " ELSE CAST((qx * n - sx) * 1000 AS DECIMAL(38,0))"
            " div CAST(std_micro * n AS DECIMAL(38,0)) END AS BIGINT)"
        ).alias("z_milli"),
    )


# =========================================================================
# wave 96: Bradley-Terry preference strengths over brand head-to-heads
#
# ``bradley_terry_brands``: fit the Bradley-Terry pairwise-preference
# model to within-order brand competitions (the brand with the higher
# spend in an order beats each other brand in that order) with three
# unrolled minorize-maximize iterations: s_i <- W_i / sum_j n_ij /
# (s_i + s_j), mean-normalized each round.  The model behind chess
# ratings, LLM arena leaderboards, and pairwise label aggregation --
# expressed without a driver loop.
#
# Replayability: strengths live in integer MICRO units; each
# pair term and each update is floored half-up BEFORE any sum, so the
# per-brand denominator (an integer sum of integers) is immune to
# Spark's partial-aggregation order.  The intermediate double
# expressions are written identically on both engines (same literal
# scale factors, same parenthesization), so IEEE determinism carries
# the rest.  100 TB: the head-to-head table is one self-join keyed on
# the order (fanout bounded by brands-per-order squared, ~tens), the
# fit runs on the |brands|^2 aggregate -- independent of order count.
# =========================================================================

_BT_ITERS = 3


def _bt_iter_sql(prev: str, idx: int) -> str:
    """One MM update + mean normalization, strengths in micro."""
    return f"""
den{idx} AS (
  SELECT g.a,
         CAST(sum(CAST(floor(g.n * 1000000000.0
             / ((sa.s + sb.s) / 1000000.0) + 0.5) AS BIGINT)) AS BIGINT)
           AS den
  FROM games g
  JOIN {prev} sa ON sa.a = g.a
  JOIN {prev} sb ON sb.a = g.b
  GROUP BY 1
),
raw{idx} AS (
  SELECT w.a,
         CAST(floor(w.w * 1000000000000000.0 / den{idx}.den + 0.5)
              AS BIGINT) AS s
  FROM wins w JOIN den{idx} ON den{idx}.a = w.a
),
tot{idx} AS (SELECT CAST(sum(s) AS BIGINT) AS t,
                    CAST(count(*) AS BIGINT) AS nb FROM raw{idx}),
s{idx} AS (
  SELECT a, CAST(floor(s * (nb * 1000000.0) / t + 0.5) AS BIGINT) AS s
  FROM raw{idx} CROSS JOIN tot{idx}
)"""


@_register(
    "bradley_terry_brands",
    """
WITH ob AS (
  SELECT l_orderkey, p.p_brand,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS spend
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
duels AS (
  SELECT CASE WHEN a.spend > b.spend THEN a.p_brand ELSE b.p_brand END AS win,
         CASE WHEN a.spend > b.spend THEN b.p_brand ELSE a.p_brand END AS lose
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  WHERE a.spend <> b.spend
),
wl AS (
  SELECT win AS a, lose AS b, CAST(count(*) AS BIGINT) AS w
  FROM duels GROUP BY 1, 2
),
games AS (
  SELECT COALESCE(x.a, y.b) AS a, COALESCE(x.b, y.a) AS b,
         COALESCE(x.w, 0) + COALESCE(y.w, 0) AS n
  FROM wl x FULL OUTER JOIN wl y ON x.a = y.b AND x.b = y.a
),
wins AS (SELECT a, CAST(sum(w) AS BIGINT) AS w FROM wl GROUP BY 1),
s0 AS (SELECT a, CAST(1000000 AS BIGINT) AS s FROM wins),"""
    + ",".join(_bt_iter_sql(f"s{i - 1}" if i > 1 else "s0", i)
               for i in range(1, _BT_ITERS + 1))
    + f"""
SELECT w.a AS p_brand, w.w AS wins,
       s{_BT_ITERS}.s AS strength_micro
FROM wins w JOIN s{_BT_ITERS} ON s{_BT_ITERS}.a = w.a""",
    ref="extension: Bradley-Terry MM fit (3 unrolled iterations, "
    "mean-normalized integer-micro strengths) over within-order brand "
    "spend duels -- pairwise preference aggregation as hash joins",
)
def q_bradley_terry_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_orderkey", "p_brand")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("spend")
        )
    )
    a = ob.alias("a")
    b = ob.select(
        "l_orderkey",
        F.col("p_brand").alias("brand_b"),
        F.col("spend").alias("spend_b"),
    ).alias("b")
    duels = (
        a.join(b, "l_orderkey")
        .filter(
            (F.col("p_brand") < F.col("brand_b"))
            & (F.col("spend") != F.col("spend_b"))
        )
        .select(
            F.when(
                F.col("spend") > F.col("spend_b"), F.col("p_brand")
            )
            .otherwise(F.col("brand_b"))
            .alias("win"),
            F.when(
                F.col("spend") > F.col("spend_b"), F.col("brand_b")
            )
            .otherwise(F.col("p_brand"))
            .alias("lose"),
        )
    )
    wl = duels.groupBy(
        F.col("win").alias("a"), F.col("lose").alias("b")
    ).agg(F.count(F.lit(1)).alias("w"))
    y = wl.select(
        F.col("a").alias("ya"), F.col("b").alias("yb"), F.col("w").alias("yw")
    )
    games = (
        wl.join(
            y, (F.col("a") == F.col("yb")) & (F.col("b") == F.col("ya")), "full"
        )
        .select(
            F.coalesce(F.col("a"), F.col("yb")).alias("a"),
            F.coalesce(F.col("b"), F.col("ya")).alias("b"),
            (
                F.coalesce(F.col("w"), F.lit(0))
                + F.coalesce(F.col("yw"), F.lit(0))
            ).alias("n"),
        )
    )
    # Iterative-state discipline (SURVEY §7): the MM recurrence
    # references the previous s twice (den's sa/sb) and wins/games every
    # round, so unpersisted lineage grows EXPONENTIALLY in _BT_ITERS --
    # r7 PLANPROFILE measured 1187 exchanges for this one query.
    # Persist the two fixed inputs (<=|brands|^2 rows) and truncate each
    # iteration's lineage with an eager localCheckpoint: the plan is now
    # linear in iterations (3 tiny joins over a ~25-row checkpoint), and
    # exchange reuse is no longer load-bearing for correctness.
    games = pin(games)
    wins = pin(wl.groupBy("a").agg(F.sum("w").alias("w")))
    s = wins.select("a", F.lit(1000000).cast("bigint").alias("s"))
    for _ in range(_BT_ITERS):
        sa = s.select(F.col("a").alias("ja"), F.col("s").alias("s_a"))
        sb = s.select(F.col("a").alias("jb"), F.col("s").alias("s_b"))
        den = (
            games.join(sa, games.a == sa.ja)
            .join(sb, games.b == sb.jb)
            .groupBy(F.col("a"))
            .agg(
                F.sum(
                    F.floor(
                        F.col("n")
                        * 1000000000.0
                        / ((F.col("s_a") + F.col("s_b")) / 1000000.0)
                        + F.lit(0.5)
                    ).cast("bigint")
                ).alias("den")
            )
        )
        raw = wins.join(den, "a").select(
            "a",
            F.floor(
                F.col("w") * 1000000000000000.0 / F.col("den") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("s"),
        )
        tot = raw.agg(
            F.sum("s").alias("t"), F.count(F.lit(1)).alias("nb")
        )
        s = raw.crossJoin(F.broadcast(tot)).select(
            "a",
            F.floor(
                F.col("s") * (F.col("nb") * 1000000.0) / F.col("t")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("s"),
        )
        s = checkpoint(s)
    return wins.join(s, "a").select(
        F.col("a").alias("p_brand"),
        F.col("w").alias("wins"),
        F.col("s").alias("strength_micro"),
    )


# =========================================================================
# wave 99: decision-stump split-gain audit
#
# ``stump_split_gain``: the one-level decision tree every feature-
# importance pipeline starts from -- which discount-bin threshold best
# separates returned from kept lineitems, scored by Gini impurity
# decrease.  Counts are exact integers per candidate split; each
# side's Gini and the weighted impurity are micro-quantized with the
# identical expression on both engines; the winner is flagged with a
# smallest-split tie-break.  One hash aggregate over (bin, returnflag)
# -- 11x2 cells -- then a 9-row sweep: cost independent of data size.
# =========================================================================


@_register(
    "stump_split_gain",
    """
WITH base AS (
  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem
  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL
),
cells AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ret) AS BIGINT) AS r
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(r) AS BIGINT) AS rt
        FROM cells),
splits AS (SELECT unnest(generate_series(1, 9)) AS s),
sides AS (
  SELECT splits.s,
         CAST(sum(CASE WHEN cells.bin < splits.s THEN cells.n ELSE 0 END)
              AS BIGINT) AS nl,
         CAST(sum(CASE WHEN cells.bin < splits.s THEN cells.r ELSE 0 END)
              AS BIGINT) AS rl
  FROM cells CROSS JOIN splits GROUP BY 1
),
scored AS (
  SELECT sides.s, nl, rl, tot.nt - nl AS nr, tot.rt - rl AS rr,
         CAST(CASE WHEN nl = 0 THEN 0
              ELSE floor((1.0 - (rl * 1.0 / nl) * (rl * 1.0 / nl)
                              - ((nl - rl) * 1.0 / nl)
                                * ((nl - rl) * 1.0 / nl))
                         * 1000000 + 0.5) END AS BIGINT) AS gini_l_micro,
         CAST(CASE WHEN tot.nt - nl = 0 THEN 0
              ELSE floor((1.0 - ((tot.rt - rl) * 1.0 / (tot.nt - nl))
                                * ((tot.rt - rl) * 1.0 / (tot.nt - nl))
                              - ((tot.nt - nl - tot.rt + rl) * 1.0
                                 / (tot.nt - nl))
                                * ((tot.nt - nl - tot.rt + rl) * 1.0
                                   / (tot.nt - nl)))
                         * 1000000 + 0.5) END AS BIGINT) AS gini_r_micro
  FROM sides CROSS JOIN tot
),
wtd AS (
  SELECT scored.*,
         CAST((nl * gini_l_micro + nr * gini_r_micro) // (nl + nr)
              AS BIGINT) AS weighted_micro
  FROM scored
),
best AS (SELECT min(s) AS bs FROM wtd
         WHERE weighted_micro = (SELECT min(weighted_micro) FROM wtd))
SELECT CAST(wtd.s AS BIGINT) AS split_bin, wtd.nl, wtd.rl, wtd.nr,
       wtd.rr, wtd.gini_l_micro, wtd.gini_r_micro, wtd.weighted_micro,
       CAST(CASE WHEN wtd.s = best.bs THEN 1 ELSE 0 END AS BIGINT)
         AS is_best
FROM wtd CROSS JOIN best""",
    ref="extension: decision-stump Gini split sweep over discount bins "
    "predicting returns -- the first step of tree-based feature "
    "importance, on an 11x2 contingency aggregate",
)
def q_stump_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_discount").isNotNull() & F.col("l_returnflag").isNotNull()
    )
    cells = li.select(
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias(
            "bin"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    ).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ret").alias("r")
    )
    tot = cells.agg(F.sum("n").alias("nt"), F.sum("r").alias("rt"))
    splits = F.explode(F.array(*[F.lit(s) for s in range(1, 10)])).alias("s")
    sides = (
        cells.select("bin", "n", "r", splits)
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("bin") < F.col("s"), F.col("n")).otherwise(0))
            .alias("nl"),
            F.sum(F.when(F.col("bin") < F.col("s"), F.col("r")).otherwise(0))
            .alias("rl"),
        )
    )
    j = sides.crossJoin(F.broadcast(tot))
    nl, rl = F.col("nl"), F.col("rl")
    nr = F.col("nt") - nl
    rr = F.col("rt") - rl

    def gini(num_pos, num_all):
        p1 = num_pos * 1.0 / num_all
        p0 = (num_all - num_pos) * 1.0 / num_all
        return F.floor(
            (F.lit(1.0) - p1 * p1 - p0 * p0) * 1000000 + F.lit(0.5)
        )

    scored = j.select(
        "s",
        nl.alias("nl"),
        rl.alias("rl"),
        nr.alias("nr"),
        rr.alias("rr"),
        F.when(nl == 0, 0).otherwise(gini(rl, nl)).cast("bigint").alias(
            "gini_l_micro"
        ),
        F.when(nr == 0, 0).otherwise(gini(rr, nr)).cast("bigint").alias(
            "gini_r_micro"
        ),
    ).withColumn(
        "weighted_micro",
        F.expr(
            "(nl * gini_l_micro + nr * gini_r_micro) div (nl + nr)"
        ).cast("bigint"),
    )
    mn = scored.agg(F.min("weighted_micro").alias("mw"))
    best = (
        scored.crossJoin(F.broadcast(mn))
        .filter(F.col("weighted_micro") == F.col("mw"))
        .agg(F.min("s").alias("bs"))
    )
    return scored.crossJoin(F.broadcast(best)).select(
        F.col("s").cast("bigint").alias("split_bin"),
        "nl",
        "rl",
        "nr",
        "rr",
        "gini_l_micro",
        "gini_r_micro",
        "weighted_micro",
        F.when(F.col("s") == F.col("bs"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_best"),
    )
