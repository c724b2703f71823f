"""Temporal-join queries (ext): as-of join and bucketed range join
over the events + orders tables — the two joins every event-stream /
market-data pipeline needs and Spark has no built-in for.

Both oracles are genuinely independent implementations: DuckDB's
native ``ASOF LEFT JOIN`` checks the union-merge window shape, and a
plain theta-join checks the bucketed range join — so the hash-match
proves the *decomposition* (union+window, explode+equi-join) computes
the textbook semantics, not that two copies of the same plan agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround
from musicflow_spark.operators.timejoin import (
    US_PER_DAY,
    asof_join,
    days_between,
    micros,
    overlap_join_bucketed,
    range_join_bucketed,
)
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table

WINDOW_DAYS = 7


def _orders_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One order per (custkey, orderdate) — max orderkey wins.  The
    as-of tie rule ("latest right row in scan order") is not
    deterministic under duplicate (key, ts), so the dedup is part of
    the query contract on BOTH engines."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )


def events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (ext): every event matched to the customer's latest
    order at-or-before the event timestamp — union-merge window shape
    (operators/timejoin.py::asof_join), one hash shuffle on user_id,
    left-outer semantics for users with no prior order."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    matched = asof_join(
        events,
        _orders_deduped(spark, sf_dir),
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
    )
    return matched.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("order_price"),
        F.when(
            F.col("o_orderkey").isNotNull(),
            days_between(matched, "ts", "o_orderdate"),
        ).alias("days_since_order"),
    )


EVENTS_ASOF_ORDER_SQL = """
WITH o1 AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                 ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1)
SELECT e.event_id, e.user_id,
       o.o_orderkey  AS order_key,
       o.o_totalprice AS order_price,
       CASE WHEN o.o_orderkey IS NULL THEN NULL
            ELSE (epoch_us(e.ts) - epoch_us(o.o_orderdate)) // 86400000000
       END AS days_since_order
FROM events e ASOF LEFT JOIN o1 o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""


def first_week_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (ext): each user's events inside their
    first-week activity window [first_ts, first_ts + 7d), aggregated
    per user — explode-over-day-buckets equi-join
    (operators/timejoin.py::range_join_bucketed) against intervals
    derived from the data itself (the synthetic orders and events
    tables do not overlap in time, so order-anchored windows would be
    a vacuously-empty check), then the usual integer-cents
    order-invariant sum.  The 7-day window spans 8 day-buckets, so
    the interval explode is genuinely exercised."""
    events = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    iv = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr(f"INTERVAL {WINDOW_DAYS} DAYS"))
        .withColumnRenamed("user_id", "iv_user")
    )
    joined = range_join_bucketed(
        events,
        iv,
        point_key="user_id",
        interval_key="iv_user",
        point_ts="ts",
        interval_lo="w_start",
        interval_hi="w_end",
        bucket_us=US_PER_DAY,
    )
    return joined.groupBy(F.col("user_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
    )


FIRST_WEEK_EVENT_WINDOW_SQL = f"""
WITH w AS (
  SELECT user_id, min(ts) AS w_start, min(ts) + INTERVAL {WINDOW_DAYS} DAY AS w_end
  FROM events GROUP BY user_id)
SELECT w.user_id,
       count(*) AS n_events,
       CAST(sum(cast(round(e.value * 100) AS bigint)) AS BIGINT) AS value_cents
FROM w JOIN events e
  ON e.user_id = w.user_id
 AND e.ts >= w.w_start
 AND e.ts < w.w_end
GROUP BY w.user_id
"""


def shipment_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (ext): pairs of heavy shipments
    (quantity >= 50) from the same supplier whose transit windows
    [shipdate, shipdate + quantity days) intersect — the
    exactly-once bucket-emission shape
    (operators/timejoin.py::overlap_join_bucketed), no theta join, no
    pair dedup shuffle.  The oracle is the quadratic theta self-join,
    so the hash match certifies the bucket scheme loses no pair and
    emits none twice.  Bucket = 32 days, near the ~50-day interval
    length (replication factor ~2.6)."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 50)
    ship_us = micros(li, "l_shipdate")
    base = li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("line_id"),
        "l_suppkey",
        ship_us.alias("lo_us"),
        (ship_us + F.col("l_quantity").cast("long") * US_PER_DAY).alias("hi_us"),
    )
    right = base.select(
        F.col("line_id").alias("line_id_b"),
        F.col("l_suppkey").alias("suppkey_b"),
        F.col("lo_us").alias("lo_us_b"),
        F.col("hi_us").alias("hi_us_b"),
    )
    pairs = overlap_join_bucketed(
        base,
        right,
        left_key="l_suppkey",
        right_key="suppkey_b",
        left_lo="lo_us",
        left_hi="hi_us",
        right_lo="lo_us_b",
        right_hi="hi_us_b",
        bucket_us=32 * US_PER_DAY,
    )
    return pairs.filter(F.col("line_id") < F.col("line_id_b")).select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("line_id").alias("id_a"),
        F.col("line_id_b").alias("id_b"),
        F.expr(
            "(least(hi_us, hi_us_b) - greatest(lo_us, lo_us_b))"
            f" div {US_PER_DAY}"
        ).alias("overlap_days"),
    )


SHIPMENT_OVERLAP_PAIRS_SQL = """
WITH t AS (
  SELECT l_orderkey * 100 + l_linenumber AS line_id,
         l_suppkey,
         epoch_us(l_shipdate) AS lo_us,
         epoch_us(l_shipdate) + CAST(l_quantity AS BIGINT) * 86400000000 AS hi_us
  FROM lineitem WHERE l_quantity >= 50)
SELECT a.l_suppkey AS suppkey,
       a.line_id AS id_a,
       b.line_id AS id_b,
       CAST((least(a.hi_us, b.hi_us) - greatest(a.lo_us, b.lo_us))
            // 86400000000 AS BIGINT) AS overlap_days
FROM t a JOIN t b
  ON a.l_suppkey = b.l_suppkey AND a.line_id < b.line_id
 AND a.lo_us < b.hi_us AND b.lo_us < a.hi_us
"""


# ------------------------------------------------- gaps and islands
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (ext): per user, the longest run of
    consecutive active days, the number of distinct runs, and total
    active days — the classic ``day - row_number() days`` anchor
    trick, which turns each consecutive island into one constant
    group key with no self-join and no iteration.

    Scale shape: two user-keyed exchanges total — the (user, day)
    dedup aggregate, then the user-partitioned window (whose
    partitioning the two downstream group-bys reuse); no global
    window, no gap cross-join.  Active-day dedup happens FIRST, so
    the window sees at most one row per (user, day)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("run_len").alias("active_days"),
    )


USER_ACTIVITY_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               * INTERVAL 1 DAY AS anchor
  FROM days
),
runs AS (
  SELECT user_id, anchor, count(*) AS run_len
  FROM islands GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(max(run_len) AS BIGINT) AS longest_streak,
       count(*) AS n_streaks,
       CAST(sum(run_len) AS BIGINT) AS active_days
FROM runs GROUP BY user_id
"""


# ------------------------------------- forward fill / interpolation
def daily_value_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series repair (ext): calendar spine + LOCF forward fill +
    linear interpolation across observation gaps — the
    ``last_value/first_value ... IGNORE NULLS`` window surface the
    warehouse queries had not yet exercised.

    Days whose day-of-month is divisible by 3 are masked to simulate
    sensor dropout (deterministic on both engines, guarantees real
    gaps at every SF); interpolation reconstructs them from the
    nearest observed neighbors, LOCF carries the last value, and
    edge days fall back to the nearest existing side.

    Scale shape: everything beyond the one events groupBy runs on the
    day-grain frame (years -> thousands of rows), so the global
    windows are the same documented dimension-sized single-partition
    pattern as ``daily_moving_stats`` (plan-audit allowlisted); at a
    100 TB grain you would partition these windows by series id."""
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = ev.groupBy(day.alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    obs = F.when(F.dayofmonth("day") % 3 != 0, F.col("cents"))
    j = spine.join(daily, "day", "left").select("day", obs.alias("obs_cents"))

    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last("obs_cents", ignorenulls=True).over(w_prev)
    next_v = F.first("obs_cents", ignorenulls=True).over(w_next)
    obs_day = F.when(F.col("obs_cents").isNotNull(), F.col("day"))
    filled = j.select(
        "day",
        "obs_cents",
        prev_v.alias("ffill_cents"),
        next_v.alias("_nv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("_pd"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("_nd"),
    )
    gap = F.datediff("_nd", "_pd")
    frac = F.datediff("day", "_pd") / gap
    interp = (
        F.when(F.col("obs_cents").isNotNull(), F.col("obs_cents").cast("double"))
        .when(
            F.col("ffill_cents").isNotNull() & F.col("_nv").isNotNull(),
            F.col("ffill_cents") + (F.col("_nv") - F.col("ffill_cents")) * frac,
        )
        .otherwise(F.coalesce("ffill_cents", "_nv").cast("double"))
    )
    return filled.select(
        "day", "obs_cents", "ffill_cents", pround(interp, 4).alias("interp_cents")
    )


DAILY_VALUE_INTERPOLATED_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
j AS (
  SELECT s.day,
         CASE WHEN day(s.day) % 3 <> 0 THEN d.cents END AS obs_cents
  FROM spine s LEFT JOIN daily d ON s.day = d.day
),
filled AS (
  SELECT day, obs_cents,
         last_value(obs_cents IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ffill_cents,
         first_value(obs_cents IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS nv,
         last_value(CASE WHEN obs_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS pd,
         first_value(CASE WHEN obs_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS nd
  FROM j
)
SELECT day, obs_cents, ffill_cents,
       round((CASE
         WHEN obs_cents IS NOT NULL THEN CAST(obs_cents AS DOUBLE)
         WHEN ffill_cents IS NOT NULL AND nv IS NOT NULL
           THEN ffill_cents + (nv - ffill_cents)
                * (date_diff('day', pd, day) * 1.0 / date_diff('day', pd, nd))
         ELSE CAST(coalesce(ffill_cents, nv) AS DOUBLE)
       END) * 10000) / 10000 AS interp_cents
FROM filled
"""


def user_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PARTITIONED form of the fill-window family — what
    ``daily_value_interpolated``'s scale note says you run at 100 TB:
    per-user last-observation-carried-forward over each user's own
    day sequence, so every window is keyed by series id and no global
    sort exists anywhere.

    Same deterministic dropout mask (day-of-month % 3) as the global
    twin; output keeps the masked observation and its LOCF repair
    side by side.  Scale shape: one (user, day) aggregate shuffle,
    then a user-partitioned window that AQE co-partitions with it —
    the operator is embarrassingly parallel across series."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    obs = F.when(F.dayofmonth("day") % 3 != 0, F.col("cents"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "user_id",
        "day",
        obs.alias("obs_cents"),
        F.last(obs, ignorenulls=True).over(w).alias("locf_cents"),
    )


USER_VALUE_LOCF_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
)
SELECT user_id, day,
       CASE WHEN day(day) % 3 <> 0 THEN cents END AS obs_cents,
       last_value(CASE WHEN day(day) % 3 <> 0 THEN cents END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_cents
FROM daily
"""


RECURSIVE_YEARLY_REVENUE_SQL = """
WITH RECURSIVE yrev AS (
  SELECT date_trunc('YEAR', o_orderdate) AS y,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
),
bounds AS (SELECT min(y) AS y0, max(y) AS y1 FROM yrev),
ladder(year_start, cum_cents) AS (
  SELECT b.y0,
         COALESCE((SELECT rev_cents FROM yrev WHERE yrev.y = b.y0),
                  CAST(0 AS BIGINT))
  FROM bounds b
  UNION ALL
  SELECT l.year_start + INTERVAL 1 YEAR,
         l.cum_cents + COALESCE((SELECT rev_cents FROM yrev
                                 WHERE yrev.y = l.year_start + INTERVAL 1 YEAR),
                                 CAST(0 AS BIGINT))
  FROM ladder l JOIN bounds b ON l.year_start < b.y1
)
SELECT l.year_start,
       CAST(COALESCE(r.rev_cents, 0) AS BIGINT) AS rev_cents,
       CAST(l.cum_cents AS BIGINT) AS cum_cents
FROM ladder l LEFT JOIN yrev r ON r.y = l.year_start
"""


def recursive_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (ext, Spark 4.1 ``WITH RECURSIVE``): the yearly
    calendar ladder AND its running revenue total computed by the
    recursion itself — each step derives (year+1, cum+rev(year+1))
    from the previous row, the linear-recurrence shape (amortization
    schedules, compounding balances) that a window cumsum can also
    express but hierarchical/iterative SQL ports arrive written this
    way.  The oracle runs the equivalent single-statement recursion
    on DuckDB, so the engine's recursion semantics (UNION ALL,
    acyclic step, correlated scalar lookup in the recursive member)
    are certified against an independent implementation, not just
    our own window twin.

    Scale shape: every recursion step is one Spark job (~0.2 s of
    fixed scheduling cost regardless of data size), so the ladder
    grain must keep depth small — year grain is 7 steps here; the
    month-grain variant measured 17 s of pure step overhead.  The
    grain aggregate is MATERIALIZED (localCheckpoint) before the
    recursion: a CTE referenced from a recursive member is re-inlined
    every iteration, so without the checkpoint each step re-ran the
    full orders groupBy (measured 26 s at sf0.1).  Deep linear
    recurrences belong in a window cumsum; recursion is for genuinely
    iterative semantics at bounded depth."""
    orders = read_table(spark, sf_dir, "orders")
    yrev = (
        orders.groupBy(F.date_trunc("YEAR", "o_orderdate").alias("y"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("rev_cents")
        )
        .localCheckpoint(eager=True)
    )
    yrev.createOrReplaceTempView("ryl_yrev")
    return spark.sql(
        """
WITH RECURSIVE
bounds AS (SELECT min(y) AS y0, max(y) AS y1 FROM ryl_yrev),
ladder(year_start, cum_cents) AS (
  SELECT b.y0,
         COALESCE((SELECT rev_cents FROM ryl_yrev WHERE ryl_yrev.y = b.y0),
                  CAST(0 AS BIGINT))
  FROM bounds b
  UNION ALL
  SELECT l.year_start + INTERVAL 1 YEAR,
         l.cum_cents + COALESCE((SELECT rev_cents FROM ryl_yrev
                                 WHERE ryl_yrev.y = l.year_start + INTERVAL 1 YEAR),
                                 CAST(0 AS BIGINT))
  FROM ladder l JOIN bounds b ON l.year_start < b.y1
)
SELECT l.year_start,
       CAST(COALESCE(r.rev_cents, 0) AS BIGINT) AS rev_cents,
       CAST(l.cum_cents AS BIGINT) AS cum_cents
FROM ladder l LEFT JOIN ryl_yrev r ON r.y = l.year_start
"""
    )


QUERIES = [
    Query(
        "user_value_locf",
        "ext: per-series LOCF fill (partitioned IGNORE-NULLS window)",
        user_value_locf,
        USER_VALUE_LOCF_SQL,
    ),
    Query(
        "recursive_yearly_revenue",
        "ext: WITH RECURSIVE year ladder + recurrence-computed running total",
        recursive_yearly_revenue,
        RECURSIVE_YEARLY_REVENUE_SQL,
    ),
    Query(
        "daily_value_interpolated",
        "ext: calendar gap repair — LOCF + linear interp (IGNORE NULLS windows)",
        daily_value_interpolated,
        DAILY_VALUE_INTERPOLATED_SQL,
    ),
    Query(
        "user_activity_streaks",
        "ext: gaps-and-islands consecutive-day streaks (anchor-date window)",
        user_activity_streaks,
        USER_ACTIVITY_STREAKS_SQL,
    ),
    Query(
        "events_asof_order",
        "ext: as-of join (union-merge window)",
        events_asof_order,
        EVENTS_ASOF_ORDER_SQL,
        bench=True,
    ),
    Query(
        "first_week_event_window",
        "ext: bucketed range join (point-in-interval)",
        first_week_event_window,
        FIRST_WEEK_EVENT_WINDOW_SQL,
        bench=True,
    ),
    Query(
        "shipment_overlap_pairs",
        "ext: interval-overlap join, exactly-once bucket emission",
        shipment_overlap_pairs,
        SHIPMENT_OVERLAP_PAIRS_SQL,
        bench=True,
    ),
]
