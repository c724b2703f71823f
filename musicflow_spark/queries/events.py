"""Event-table queries: the ordered/stateful operator families (W2/O3
top-1-per-key, sessionization, windowed aggregation, F10 time
rendering, F21 JSON extraction).  The same logic runs as a structured
stream in streaming/events.py; these are the batch twins the oracle
can check."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround
from musicflow_spark.functions.timeutils import ms_to_clock
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table


# ------------------------------------------------------- top-1 per key
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/O3: 'first hit wins' — the reference takes the first API
    result per search (spotify_elt.py:255-257 break-after-first) ==
    rank candidates per key, keep rank 1.  Here: latest event per user
    with a deterministic tiebreak."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", pround(F.col("value"), 2).alias("value"))
    )


LATEST_EVENT_PER_USER_SQL = """
SELECT user_id, event_id, ts, event_type, round(value * 100.0) / 100.0 AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


# ------------------------------------------------------- sessionization
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap-flag cumsum (the batch form of
    streaming session windows; beyond-reference extension, flagged in
    SURVEY §2.9).  Gap threshold 30 min; timestamps compared at whole-
    second precision on both engines (unix_timestamp truncates)."""
    ev = read_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = ev.withColumn(
        "prev_s", F.lag(F.unix_timestamp("ts")).over(w_order)
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_s").isNull()
            | ((F.unix_timestamp("ts") - F.col("prev_s")) > 1800),
            1,
        ).otherwise(0),
    )
    with_session = with_gap.withColumn(
        "session_id",
        F.sum("is_new").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            # integer-cents arithmetic: double addition is order-dependent,
            # so a float sum can round differently per engine; summing exact
            # longs is order-invariant (same trick as session_window_stats)
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias(
                "session_value"
            ),
        )
    )


USER_SESSIONS_SQL = """
WITH gaps AS (
  SELECT *,
         lag(cast(floor(epoch(ts)) AS bigint)) OVER w AS prev_s,
         cast(floor(epoch(ts)) AS bigint)             AS ts_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), flagged AS (
  SELECT *,
         CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS is_new
  FROM gaps
), sessions AS (
  SELECT *,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*)             AS n_events,
       min(ts)              AS session_start,
       max(ts)              AS session_end,
       sum(cast(round(value * 100) AS bigint)) / 100.0 AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# ------------------------------------------- native session windows
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization on the native ``session_window`` primitive —
    the exact batch twin of streaming/events.py::user_sessions_stream
    (same merge rule: events < 30 min apart join one session; session
    end = last event + gap).  Unlike user_sessions (lag/cumsum at
    whole-second precision), this merges at full microsecond
    precision, so it is the semantics the streaming engine enforces."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


SESSION_WINDOW_STATS_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
), flagged AS (
  SELECT *,
         CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sess AS (
  SELECT *,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id,
       min(ts)                                 AS session_start,
       max(ts) + INTERVAL '30 minutes'         AS session_end,
       count(*)                                AS n_events,
       sum(cast(round(value * 100) AS bigint)) / 100.0 AS session_value
FROM sess
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


# -------------------------------------------------- tumbling window agg
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the batch twin of the streaming
    watermark+window agg (streaming/events.py); also A1/A2 grouping."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact integer-cents arithmetic: the sum is order-invariant
            # and the avg divides identical operands on every engine
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0
            ).alias("total_value"),
            pround(
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                / (F.count(F.lit(1)) * 100.0),
                4,
            ).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


HOURLY_EVENT_STATS_SQL = """
SELECT date_trunc('hour', ts)   AS hour_start,
       event_type               AS event_type,
       count(*)                 AS n_events,
       sum(cast(round(value * 100) AS bigint)) / 100.0 AS total_value,
       round(sum(cast(round(value * 100) AS bigint)) / (count(*) * 100.0) * 10000.0) / 10000.0 AS avg_value,
       count(DISTINCT user_id)  AS n_users
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""


# ---------------------------------------------------- clock rendering
def event_value_as_clock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F13: the BigQuery TIME-rendering idiom
    (time(timestamp_seconds(div(ms,1000))), int_join_spotify_uris.sql:130)
    as engine-portable integer arithmetic -> 'HH:mm:ss' string.
    value*1000 plays the duration_ms role."""
    ev = read_table(spark, sf_dir, "events")
    ms = (F.col("value") * 1000).cast("long")
    return (
        ev.select(
            "event_id",
            ms.alias("duration_ms"),
            ms_to_clock(ms).alias("duration_time"),
        )
    )


EVENT_VALUE_AS_CLOCK_SQL = """
WITH ms AS (SELECT event_id, cast(trunc(value * 1000) AS bigint) AS duration_ms FROM events)
SELECT event_id, duration_ms,
       printf('%02d:%02d:%02d',
              (duration_ms // 1000) // 3600,
              ((duration_ms // 1000) % 3600) // 60,
              (duration_ms // 1000) % 60)     AS duration_time
FROM ms
ORDER BY event_id
"""


# ---------------------------------------------------- JSON extraction
def event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21: JSON decode of the props payload (the reference caches
    match structs as JSON in Redis, spotify_elt.py:773-797;
    from_json/get_json_object is the Spark-native equivalent)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object(F.col("props"), "$.k").cast("long").alias("k_value"),
        )
        .filter(F.col("k_value").isNotNull())
    )


EVENT_PROPS_EXTRACT_SQL = """
SELECT event_id,
       cast(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS bigint) AS k_value
FROM events
WHERE regexp_extract(props, '"k":\\s*(-?\\d+)', 1) <> ''
ORDER BY event_id
"""


def event_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 at scale (ext): the semi-structured props payload parsed
    ONCE into Spark 4's VARIANT binary encoding, then typed-path
    extraction (``try_variant_get``) feeding a numeric rollup.

    Why VARIANT and not ``get_json_object``: string-JSON re-parses
    the payload per path per row; VARIANT parses once into a
    tree-encoded binary and every subsequent path access is an O(path)
    lookup — on a 100 TB event table with several extracted paths this
    is the difference between N full JSON parses and one.  The typed
    getter also nulls (rather than throws) on path/type misses, so
    malformed payloads degrade to the F18-style null-routing the rest
    of the engine already handles."""
    ev = read_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENT_PROPS_VARIANT_STATS_SQL = """
WITH kv AS (
  SELECT event_type,
         CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k
  FROM events
  WHERE regexp_extract(props, '"k":\\s*(-?\\d+)', 1) <> ''
)
SELECT event_type,
       count(*) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM kv
GROUP BY event_type
"""


# --------------------------------------------------- date spine / gap fill
def daily_event_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap fill (ext): one row per day between the
    corpus' first and last event, zero-filled where nothing happened —
    the dbt date-spine idiom (a downstream chart must see the quiet
    days).  The spine generates from a 1-row min/max aggregate
    (broadcast, sequence+explode); the daily counts shuffle once."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("value_cents", F.lit(0)).alias("value_cents"),
    )


DAILY_EVENT_SPINE_SQL = """
WITH b AS (
  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1 FROM events),
spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
daily AS (
  SELECT date_trunc('day', ts) AS day,
         count(*) AS n_events,
         CAST(sum(cast(round(value * 100) AS bigint)) AS BIGINT) AS value_cents
  FROM events GROUP BY 1)
SELECT spine.day,
       coalesce(daily.n_events, 0)    AS n_events,
       coalesce(daily.value_cents, 0) AS value_cents
FROM spine LEFT JOIN daily ON spine.day = daily.day
"""


# --------------------------------------------------------- funnel
def signup_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (ext): per signed-up user, the first
    purchase at-or-after their first signup and the exact
    seconds-to-convert — the event-sequence analysis every product
    pipeline runs.  Two keyed aggregations + one co-partitioned join;
    the temporal gate rides the join's post-filter (same shape as the
    range join, keyed on user)."""
    ev = read_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    out = su.join(pu, "user_id", "left")
    # micros() handles both timestamp flavors (the testdata parquet
    # reads as TIMESTAMP_NTZ under Spark 4's NTZ inference, where
    # unix_micros does not resolve)
    from musicflow_spark.operators.timejoin import micros

    return out.select(
        "user_id",
        "signup_ts",
        "first_purchase_ts",
        F.col("first_purchase_ts").isNotNull().alias("converted"),
        F.when(
            F.col("first_purchase_ts").isNotNull(),
            (
                (micros(out, "first_purchase_ts") - micros(out, "signup_ts"))
                / F.lit(1_000_000)
            ).cast("long"),
        ).alias("secs_to_convert"),
    )


SIGNUP_CONVERSION_FUNNEL_SQL = """
WITH su AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
pu AS (
  SELECT e.user_id, min(e.ts) AS first_purchase_ts
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
  GROUP BY e.user_id)
SELECT su.user_id, su.signup_ts, pu.first_purchase_ts,
       pu.first_purchase_ts IS NOT NULL AS converted,
       CASE WHEN pu.first_purchase_ts IS NOT NULL
            THEN cast((epoch_us(pu.first_purchase_ts) - epoch_us(su.signup_ts)) // 1000000 AS bigint)
       END AS secs_to_convert
FROM su LEFT JOIN pu ON su.user_id = pu.user_id
"""


# --------------------------------------------------- value histogram
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width distribution profile (ext): 25-unit value bins with
    count and integer-cents mass per bin, clamped to [0, 19] so the
    binning is total on any input.  Map-side arithmetic + one keyed
    aggregate — the cheapest possible full-table profile; the bin
    column is also the natural partition key for a histogram sink."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    bin_ = F.greatest(F.least(F.floor(cents / 2500), F.lit(19)), F.lit(0)).cast("long")
    return (
        ev.select(bin_.alias("bin"), cents.alias("cents"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
    )


EVENT_VALUE_HISTOGRAM_SQL = """
SELECT greatest(least(cast(floor(cast(round(value * 100) AS BIGINT) / 2500) AS BIGINT), 19), 0) AS bin,
       count(*) AS n_events,
       CAST(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
"""


# --------------------------------------------------------- pivot
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (ext): per-user event-type value matrix — long-to-wide
    reshaping with an EXPLICIT pivot value list (the two-arg form:
    without it Spark runs an extra distinct job to discover values,
    and the output schema depends on the data — both wrong at scale).
    One shuffle on user_id; each cell is the order-invariant
    integer-cents sum."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.withColumn("__c__", cents)
        .groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.coalesce(F.sum("__c__"), F.lit(0)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"{t}_cents") for t in EVENT_TYPES],
        )
    )


USER_EVENT_PIVOT_SQL = f"""
SELECT user_id,
       {", ".join(
           f"coalesce(CAST(sum(cast(round(value * 100) AS bigint)) FILTER (event_type = '{t}') AS BIGINT), 0) AS {t}_cents"
           for t in EVENT_TYPES
       )}
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------- outlier filter
def event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-gated outlier filter (ext): events above their
    type's exact p99 — the distribution-aware anomaly/cap filter every
    metrics pipeline needs.  The per-type threshold table is
    aggregate-sized, so the probe join broadcasts; the exact
    ``percentile`` keeps the oracle checkable (at corpus scale swap
    ``percentile_approx``, documented in doc_length_profile).  The
    filter compares against the 4dp-rounded threshold on BOTH engines:
    Spark's interpolated percentile and DuckDB's quantile_cont agree
    to 4dp, not to the last ulp, and a raw comparison would let a
    boundary row flip sets."""
    ev = read_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        pround(F.expr("percentile(value, 0.99)"), 4).alias("p99")
    )
    return (
        ev.join(F.broadcast(th), "event_type")
        .filter(F.col("value") > F.col("p99"))
        .select("event_id", "event_type", "value", "p99")
    )


EVENT_OUTLIERS_SQL = """
WITH th AS (
  SELECT event_type,
         round(quantile_cont(value, 0.99) * 10000.0) / 10000.0 AS p99
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value, th.p99
FROM events e JOIN th USING (event_type)
WHERE e.value > th.p99
"""


def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (ext): users bucketed by the ISO week
    of their first event; per (cohort week, weeks since) the count of
    distinct active users — the standard product-retention triangle.

    Plan at scale: the (user, week) distinct collapses events before
    anything else (map-side combine), the cohort min rides the same
    user-hash partitioning, and the self-join is co-partitioned on
    user_id — so the expensive input is touched once and every later
    stage works on user-grain or week-grain frames."""
    uw = (
        read_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("wk"))
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            F.to_date("cohort_wk").alias("cohort_week"),
            (
                F.datediff(F.to_date("wk"), F.to_date("cohort_wk")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


WEEKLY_COHORT_RETENTION_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
c AS (
  SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id)
SELECT CAST(c.cohort_wk AS DATE) AS cohort_week,
       CAST(date_diff('day', CAST(c.cohort_wk AS DATE), CAST(uw.wk AS DATE)) / 7 AS INT) AS week_offset,
       count(DISTINCT uw.user_id) AS active_users
FROM uw JOIN c USING (user_id)
GROUP BY 1, 2
"""


# ------------------------------------------------- multi-touch attribution
ATTR_LOOKBACK_DAYS = 7


def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution (ext): every
    purchase distributes 10000 basis points across the click/view
    touches in its 7-day lookback — 40% to first, 40% to last, the
    middle 20% split evenly, with the integer-division remainder
    assigned to the first touch so credit conserves exactly
    (Σ credit = 10000 · attributed conversions, asserted in pytest).
    All credit arithmetic is integer bp, so the engines agree
    bit-for-bit.

    Scale shape: conversions ⋈ touches is an equi-join on user_id
    with the time-range predicate as a join filter — per-user work is
    bounded by per-user event volume, never cross-user; the path
    window partitions on conv_id (fine-grained keys, no skew).
    Reference analogue: none (no event tier); the first/last-credit
    window shape is W2's first-hit-wins generalised to fractional
    credit."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    path = (
        conv.join(touch, "user_id")
        .filter(
            (F.col("touch_ts") < F.col("conv_ts"))
            & (
                F.col("touch_ts")
                >= F.col("conv_ts") - F.expr(f"INTERVAL {ATTR_LOOKBACK_DAYS} DAYS")
            )
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
        )
    )
    credit = F.expr(
        "case when n = 1 then 10000 "
        "when n = 2 then 5000 "
        "when rn = n then 4000 "
        "when rn = 1 then 4000 + (2000 - (n - 2) * (2000 div (n - 2))) "
        "else 2000 div (n - 2) end"
    ).cast("long")
    pos = F.expr(
        "case when n = 1 then 'solo' when rn = 1 then 'first' "
        "when rn = n then 'last' else 'middle' end"
    )
    return (
        path.withColumn("credit_bp", credit)
        .withColumn("position", pos)
        .groupBy("channel", "position")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.count_distinct("conv_id").alias("n_conversions"),
            F.sum("credit_bp").alias("credit_bp"),
        )
    )


EVENT_ATTRIBUTION_SQL = f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT event_id AS touch_id, user_id, ts AS touch_ts, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')),
path AS (
  SELECT c.conv_id, t.channel,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.touch_ts, t.touch_id) AS rn,
         count(*) OVER (PARTITION BY c.conv_id) AS n
  FROM conv c
  JOIN touch t ON t.user_id = c.user_id
   AND t.touch_ts < c.conv_ts
   AND t.touch_ts >= c.conv_ts - INTERVAL {ATTR_LOOKBACK_DAYS} DAY)
SELECT channel,
       CASE WHEN n = 1 THEN 'solo' WHEN rn = 1 THEN 'first'
            WHEN rn = n THEN 'last' ELSE 'middle' END AS position,
       count(*) AS n_touches,
       count(DISTINCT conv_id) AS n_conversions,
       CAST(sum(CASE WHEN n = 1 THEN 10000
                     WHEN n = 2 THEN 5000
                     WHEN rn = n THEN 4000
                     WHEN rn = 1 THEN 4000 + (2000 - (n - 2) * (2000 // (n - 2)))
                     ELSE 2000 // (n - 2) END) AS BIGINT) AS credit_bp
FROM path
GROUP BY 1, 2
"""


# -------------------------------- interval-estimated conversion
WILSON_Z = 1.96  # 95% two-sided


def segment_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate per market segment with the Wilson score lower
    bound — the interval estimate every growth dashboard ranks by
    instead of the raw rate (a 1/1 segment must NOT outrank a 90/100
    one).  Numerators/denominators are exact integers; the bound is
    one fixed IEEE double expression per segment row (5 rows), pround
    6-dp on both engines.  Scale: events→customer is a broadcast dim
    join; per-user conversion is one keyed agg; everything after is
    segment-cardinality."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias("converted")
        )
        .join(F.broadcast(cust), "user_id")
    )
    seg = per_user.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    z = WILSON_Z
    p = F.col("n_converted").cast("double") / F.col("n_users")
    n = F.col("n_users").cast("double")
    lo = (
        p
        + z * z / (2 * n)
        - z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    ) / (1 + z * z / n)
    return seg.select(
        "c_mktsegment",
        "n_users",
        "n_converted",
        pround(p, 6).alias("conv_rate"),
        pround(lo, 6).alias("wilson_lo"),
    )


SEGMENT_CONVERSION_WILSON_SQL = f"""
WITH per_user AS (
  SELECT e.user_id,
         max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events e GROUP BY e.user_id),
seg AS (
  SELECT c.c_mktsegment, count(*) AS n_users,
         CAST(sum(u.converted) AS BIGINT) AS n_converted
  FROM per_user u JOIN customer c ON u.user_id = c.c_custkey
  GROUP BY 1)
SELECT c_mktsegment, n_users, n_converted,
       round((CAST(n_converted AS DOUBLE) / n_users) * 1000000.0) / 1000000.0
         AS conv_rate,
       round(((CAST(n_converted AS DOUBLE) / n_users
               + {WILSON_Z} * {WILSON_Z} / (2 * CAST(n_users AS DOUBLE))
               - {WILSON_Z} * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                     * (1 - CAST(n_converted AS DOUBLE) / n_users)
                     / CAST(n_users AS DOUBLE)
                   + {WILSON_Z} * {WILSON_Z}
                     / (4 * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
              / (1 + {WILSON_Z} * {WILSON_Z} / CAST(n_users AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS wilson_lo
FROM seg
"""


# ------------------------------------- time-range window frames
RATE_WINDOW_US = 3_600 * 1_000_000  # trailing hour, epoch micros


def user_rolling_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity (burst detection): for every
    event, how many events (and how much value) the same user produced
    in the preceding hour INCLUDING this one — a true time-RANGE
    window frame (RANGE BETWEEN 3600s PRECEDING AND CURRENT ROW), the
    frame mode the row-frame (daily_moving_stats) and grid-window
    (hourly) queries don't exercise: the frame width varies per row
    with the data.  Ordering key is exact epoch MICROS as int64
    (operators/timejoin.py::micros — timezone-independent for both
    timestamp flavors), so frame membership is integer comparison on
    both engines; RANGE peers (equal timestamps) aggregate together,
    which is exactly why per-row frames need no tiebreak.

    Scale shape: one keyed shuffle (user_id), per-partition sort —
    the sessionization lattice; frame evaluation is a sliding pointer
    over the sorted run, linear per user."""
    from musicflow_spark.operators.timejoin import micros

    ev = read_table(spark, sf_dir, "events")
    ev = ev.select(
        "event_id",
        "user_id",
        micros(ev, "ts").alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-RATE_WINDOW_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        F.sum("cents").over(w).alias("cents_trailing_hour"),
    )


USER_ROLLING_EVENT_RATE_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT event_id, user_id,
       count(*) OVER w AS n_trailing_hour,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_trailing_hour
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {RATE_WINDOW_US} PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------- MAD robust outliers
MAD_K = 3  # flag |x - median| > K * MAD


def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |value − median| > 3·MAD per event
    type — the median/median-absolute-deviation screen that, unlike
    the mean/stddev z-score (``event_outliers``), is itself immune to
    the outliers it hunts (50% breakdown point vs 0%).  Exactness:
    values are integer cents; both medians are EXACT dyadic-point
    percentiles (interpolation of two integers at 0.5 is exact in
    IEEE-754, see nation_value_percentiles), so deviations live on a
    quarter-cent grid and the strict > comparison cannot straddle an
    ulp between engines.

    Scale shape: two keyed percentile aggregates + two equi-joins on
    event_type; exact percentile holds per-group values — the
    documented sketch swap at higher cardinality is the KLL tier
    (kll_value_quantiles)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(F.percentile("cents", 0.5).alias("med"))
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(mad, "event_type")
        .filter(F.col("adev") > MAD_K * F.col("mad"))
        .select("event_id", "event_type", "cents", "med", "mad")
    )


EVENT_VALUE_MAD_OUTLIERS_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM ev GROUP BY 1),
dev AS (
  SELECT e.event_id, e.event_type, e.cents, m.med,
         abs(e.cents - m.med) AS adev
  FROM ev e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.event_id, d.event_type, d.cents, d.med, m.mad
FROM dev d JOIN mad m USING (event_type)
WHERE d.adev > {MAD_K} * m.mad
"""


# -------------------------------------- sequence-pattern detection
#: single-char alphabet for the event-sequence string
_EVT_CHAR = {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"}
FUNNEL_PATTERN = "vc+p"  # view, >=1 clicks, purchase — contiguous


def user_funnel_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern detection: each user's
    event history becomes one character string in exact (ts, event_id)
    order and a regex counts non-overlapping occurrences of the
    strict funnel view→click⁺→purchase — row-pattern matching over
    event streams, the SQL:2016 feature Spark lacks natively,
    recovered as ordered-string aggregation + regexp_count.  Leftmost
    non-overlapping greedy semantics agree between Java regex and
    DuckDB's RE2 for this pattern class, and the total order is fully
    tiebroken, so counts replay exactly.

    Scale shape: ONE keyed shuffle (collect per user); per-user
    sequence length is bounded by that user's activity (the same
    per-key bound as sessionization), never by corpus size."""
    ev = read_table(spark, sf_dir, "events")
    chr_col = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _EVT_CHAR.items() for x in kv]
        ),
        F.col("event_type"),
    )
    seqs = (
        ev.select("user_id", "ts", "event_id", chr_col.alias("c"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").alias("seq_len"),
        F.regexp_count(F.col("seq"), F.lit(FUNNEL_PATTERN)).alias("n_funnels"),
        (F.regexp_count(F.col("seq"), F.lit(FUNNEL_PATTERN)) > 0).alias("converted"),
    )


USER_FUNNEL_SEQUENCES_SQL = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(CASE event_type
                      WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                      WHEN 'error' THEN 'e' END,
                    '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id,
       CAST(length(seq) AS INT) AS seq_len,
       CAST(len(regexp_extract_all(seq, '{FUNNEL_PATTERN}')) AS INT) AS n_funnels,
       len(regexp_extract_all(seq, '{FUNNEL_PATTERN}')) > 0 AS converted
FROM seqs
"""


QUERIES = [
    Query(
        "segment_conversion_wilson",
        "ext: Wilson-score interval estimation of grouped conversion rates (exact integer counts, fixed IEEE bound expression)",
        segment_conversion_wilson,
        SEGMENT_CONVERSION_WILSON_SQL,
    ),
    Query(
        "user_rolling_event_rate",
        "ext: per-row time-RANGE window frame (trailing-hour burst rate on exact epoch micros)",
        user_rolling_event_rate,
        USER_ROLLING_EVENT_RATE_SQL,
    ),
    Query(
        "event_value_mad_outliers",
        "ext: median/MAD robust outlier screen (exact dyadic percentiles, quarter-cent deviation grid)",
        event_value_mad_outliers,
        EVENT_VALUE_MAD_OUTLIERS_SQL,
    ),
    Query(
        "user_funnel_sequences",
        "ext: row-pattern matching over event streams (ordered sequence string + regex funnel count)",
        user_funnel_sequences,
        USER_FUNNEL_SEQUENCES_SQL,
    ),
    Query("latest_event_per_user", "W2,O3", latest_event_per_user, LATEST_EVENT_PER_USER_SQL),
    Query("user_sessions", "W2,A1,A2 (ext: sessionization)", user_sessions, USER_SESSIONS_SQL, bench=True),
    Query("session_window_stats", "ext: session windows (streaming twin)", session_window_stats, SESSION_WINDOW_STATS_SQL),
    Query("hourly_event_stats", "A1,A2 (ext: windowed agg)", hourly_event_stats, HOURLY_EVENT_STATS_SQL),
    Query("event_value_as_clock", "F10,F13", event_value_as_clock, EVENT_VALUE_AS_CLOCK_SQL),
    Query(
        "event_attribution",
        "ext: U-shaped multi-touch attribution (integer basis points, exact credit conservation)",
        event_attribution,
        EVENT_ATTRIBUTION_SQL,
    ),
    Query("event_props_extract", "F21", event_props_extract, EVENT_PROPS_EXTRACT_SQL),
    Query(
        "event_props_variant_stats",
        "ext: VARIANT semi-structured extraction (parse once, typed paths)",
        event_props_variant_stats,
        EVENT_PROPS_VARIANT_STATS_SQL,
    ),
    Query("event_outliers", "ext: percentile-gated outlier filter", event_outliers, EVENT_OUTLIERS_SQL),
    Query("user_event_pivot", "ext: long-to-wide pivot (explicit values)", user_event_pivot, USER_EVENT_PIVOT_SQL),
    Query("daily_event_spine", "ext: calendar-spine gap fill", daily_event_spine, DAILY_EVENT_SPINE_SQL),
    Query("signup_conversion_funnel", "ext: conversion funnel (event sequencing)", signup_conversion_funnel, SIGNUP_CONVERSION_FUNNEL_SQL),
    Query("event_value_histogram", "ext: fixed-width histogram profile", event_value_histogram, EVENT_VALUE_HISTOGRAM_SQL),
    Query("weekly_cohort_retention", "ext: cohort retention triangle", weekly_cohort_retention, WEEKLY_COHORT_RETENTION_SQL),
]
