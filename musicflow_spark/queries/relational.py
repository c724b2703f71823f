"""Relational operator queries over the driver's TPC-H-ish tables.

Each query re-expresses an operator family from SURVEY.md §2 (the
reference's dbt/SQL surface) against the synthetic star schema, so the
DuckDB oracle can check it end-to-end.  SURVEY ids in each docstring.

Scale notes are inline: broadcast for dimension sides, shuffle keys
chosen to co-partition the big joins, window partitions keyed so no
single-partition global sorts exist except where the reference itself
is global (W1, documented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround, pround_sql
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [read_table(spark, sf_dir, n) for n in names]


# --------------------------------------------------------------------- Q1
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregate: A1/A2 (count/sum group-bys),
    A10/F11 (round), O1 (order by) — the reference's statistics marts
    (most_saved_channels.sql, youtube_statistics.sql) in one query."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            pround(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            pround(F.avg("l_quantity"), 4).alias("avg_qty"),
            pround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            pround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity) * 100.0) / 100.0                                       AS sum_qty,
       round(sum(l_extendedprice) * 100.0) / 100.0                                  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)) * 100.0) / 100.0               AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100.0) / 100.0 AS sum_charge,
       round(avg(l_quantity) * 10000.0) / 10000.0                                   AS avg_qty,
       round(avg(l_extendedprice) * 10000.0) / 10000.0                              AS avg_price,
       round(avg(l_discount) * 10000.0) / 10000.0                                   AS avg_disc,
       count(*)                                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ------------------------------------------------------- snowflake flatten
def snowflake_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's wide denormalizing join (J1-J5: spotify_log
    snowflake -> one row, int_join_spotify_uris.sql:5-91) re-shaped on
    the TPC-H star: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    ⋈ supplier(⋈ nation), plus the derived-column idioms: F16 CASE
    discriminator, F17 coalesce, A10 percentage, F11 round.

    Scale: nation/region/supplier are broadcast (dimension sides, like
    the reference's 7-row search_types); lineitem⋈orders co-partitions
    on orderkey — one shuffle each side, AQE handles skew.
    """
    li, orders, cust, nat, reg, supp = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region", "supplier"
    )
    cust_geo = (
        cust.join(
            F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"], "inner"
        )
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"], "inner")
        .select(
            "c_custkey",
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("cust_nation"),
            F.col("r_name").alias("cust_region"),
            "c_mktsegment",
        )
    )
    supp_geo = supp.join(
        F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"], "inner"
    ).select("s_suppkey", F.col("s_name").alias("supp_name"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "inner")
        .join(cust_geo, orders["o_custkey"] == cust_geo["c_custkey"], "inner")
        .join(F.broadcast(supp_geo), li["l_suppkey"] == supp_geo["s_suppkey"], "inner")
        .select(
            "l_orderkey",
            "l_linenumber",
            "cust_name",
            "cust_nation",
            "cust_region",
            "supp_name",
            "supp_nation",
            F.col("o_orderstatus").alias("order_status"),
            # F16: CASE discriminator (the spotify_type idiom)
            F.when(F.col("o_totalprice") >= 200000, F.lit("large"))
            .when(F.col("o_totalprice") >= 50000, F.lit("medium"))
            .otherwise(F.lit("small"))
            .alias("order_size"),
            # F17: coalesce across alternatives (polymorphic-FK idiom)
            F.coalesce(
                F.when(F.col("l_returnflag") == "N", None).otherwise(
                    F.col("l_returnflag")
                ),
                F.col("l_linestatus"),
            ).alias("flag_or_status"),
            pround(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
            ).alias("revenue"),
            # A10: percentage metric
            pround(F.col("l_discount") * 100, 2).alias("discount_pct"),
        )
    )


SNOWFLAKE_FLATTEN_SQL = """
SELECT l.l_orderkey                                   AS l_orderkey,
       l.l_linenumber                                 AS l_linenumber,
       c.c_name                                       AS cust_name,
       n.n_name                                       AS cust_nation,
       r.r_name                                       AS cust_region,
       s.s_name                                       AS supp_name,
       sn.n_name                                      AS supp_nation,
       o.o_orderstatus                                AS order_status,
       CASE WHEN o.o_totalprice >= 200000 THEN 'large'
            WHEN o.o_totalprice >= 50000  THEN 'medium'
            ELSE 'small' END                          AS order_size,
       coalesce(CASE WHEN l.l_returnflag = 'N' THEN NULL ELSE l.l_returnflag END,
                l.l_linestatus)                       AS flag_or_status,
       round(l.l_extendedprice * (1 - l.l_discount) * 100.0) / 100.0 AS revenue,
       round(l.l_discount * 100 * 100.0) / 100.0      AS discount_pct
FROM lineitem l
JOIN orders   o  ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey  = c.c_custkey
JOIN nation   n  ON c.c_nationkey = n.n_nationkey
JOIN region   r  ON n.n_regionkey = r.r_regionkey
JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
JOIN nation   sn ON s.s_nationkey = sn.n_nationkey
ORDER BY l_orderkey, l_linenumber
"""


# ------------------------------------------------------------ anti join
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: the reference's left-anti 'not found' mart
    (log_not_found_videos.sql:10-13) — native left_anti join."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


# ----------------------------------------------------------- found ratio
def order_ratio_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 + A1 + A10: left join with null-skipping count(col) and a
    percentage — the reference's ratio_of_found_by_playlists.sql:10-18
    (count(sl.log_id) over a left join / count(1))."""
    cust, orders, nat = _t(spark, sf_dir, "customer", "orders", "nation")
    joined = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"], "inner"
    ).join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("rows_cnt"),
            F.count("o_orderkey").alias("matched_cnt"),
            pround(F.count("o_orderkey") * 100.0 / F.count(F.lit(1)), 2).alias(
                "found_pct"
            ),
        )
    )


ORDER_RATIO_BY_NATION_SQL = """
SELECT n.n_name                                         AS n_name,
       count(*)                                         AS rows_cnt,
       count(o.o_orderkey)                              AS matched_cnt,
       round(count(o.o_orderkey) * 100.0 / count(*) * 100.0) / 100.0 AS found_pct
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY n.n_name
ORDER BY found_pct DESC, n_name
"""


# ------------------------------------------------- duplicates + string_agg
def parts_in_multiple_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (string_agg DISTINCT, ordered) + A5 (HAVING cnt>1) + F6
    (concat URL-building) — videos_saved_more_than_once.sql:8-17.
    The ordered-distinct aggregation is collect_set -> array_sort ->
    array_join (Spark aggregation is unordered; SURVEY §7 watch-list #2).
    """
    (li,) = _t(spark, sf_dir, "lineitem")
    # ONE distinct-set aggregate: n_orders is the set's size.  A
    # separate countDistinct alongside collect_set makes Spark plan an
    # Expand (row duplication for the distinct path) — same answer,
    # twice the shuffle input.
    return (
        li.groupBy("l_partkey")
        .agg(
            F.array_sort(F.collect_set(F.col("l_orderkey").cast("string"))).alias("__ks__")
        )
        .filter(F.size("__ks__") > 1)
        .select(
            "l_partkey",
            F.concat(F.lit("part://"), F.col("l_partkey").cast("string")).alias(
                "part_url"
            ),
            F.size("__ks__").cast("long").alias("n_orders"),
            F.array_join("__ks__", ",").alias("order_keys"),
        )
    )


PARTS_IN_MULTIPLE_ORDERS_SQL = """
SELECT l_partkey,
       'part://' || cast(l_partkey AS varchar)  AS part_url,
       count(DISTINCT l_orderkey)               AS n_orders,
       string_agg(DISTINCT cast(l_orderkey AS varchar), ','
                  ORDER BY cast(l_orderkey AS varchar)) AS order_keys
FROM lineitem
GROUP BY l_partkey
HAVING count(DISTINCT l_orderkey) > 1
ORDER BY l_partkey
"""


# ------------------------------------------------------ ordered array_agg
def lineitems_in_line_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: array_agg(x ORDER BY k) — the reference's only ARRAY-typed
    relation (extract_other_playlists, spotify_elt.py:71-72) collects
    video titles ordered by library id.  Spark aggregation is unordered,
    so collect structs of (sort_key, value) and array_sort before
    joining (SURVEY §7 watch-list #2).  Emitted as a string so the
    oracle hash is array-encoding-agnostic."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("l_linenumber", "l_partkey"))
                    ),
                    lambda s: s["l_partkey"].cast("string"),
                ),
                ",",
            ).alias("parts_in_line_order"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").cast("double").alias("total_qty"),
        )
    )


LINEITEMS_IN_LINE_ORDER_SQL = """
SELECT l_orderkey,
       string_agg(cast(l_partkey AS varchar), ',' ORDER BY l_linenumber, l_partkey) AS parts_in_line_order,
       count(*)                                                          AS n_lines,
       cast(sum(l_quantity) AS double)                                   AS total_qty
FROM lineitem
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


# ------------------------------------------------------- guarded upsert
def guarded_upsert_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the reference's guarded upsert ("keep existing row unless its
    playlist_uri is null", spotify_elt.py:344-354) as a prefer-non-X
    window rank: per part keep one lineitem row, preferring unreturned
    rows ('N'), then latest shipdate, with a deterministic tiebreak.
    NOT plain dropDuplicates (SURVEY §7 watch-list #3)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    # every output column appears in the sort so the kept row is fully
    # deterministic even when (l_orderkey, l_linenumber) repeats
    w = Window.partitionBy("l_partkey").orderBy(
        F.when(F.col("l_returnflag") == "N", 0).otherwise(1),
        F.col("l_shipdate").desc(),
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
    )


GUARDED_UPSERT_PARTS_SQL = """
SELECT l_partkey, l_orderkey, l_linenumber, l_returnflag, l_shipdate
FROM lineitem
QUALIFY row_number() OVER (
    PARTITION BY l_partkey
    ORDER BY CASE WHEN l_returnflag = 'N' THEN 0 ELSE 1 END,
             l_shipdate DESC, l_orderkey, l_linenumber, l_returnflag) = 1
ORDER BY l_partkey
"""


# ------------------------------------------------------- global row_number
def nation_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: global row_number surrogate id (log_for_tableau.sql:98 does
    row_number() over (order by search_type_id)).  Single-partition by
    construction — acceptable only on dimension-sized inputs like this
    one; at fact scale the engine swaps in
    operators/ids.py::surrogate_ids (range-partition + per-partition
    offsets; equality to this window proven by part_surrogate_ids)."""
    nat, reg = _t(spark, sf_dir, "nation", "region")
    return (
        nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"], "inner")
        .select("n_name", F.col("r_name").alias("region_name"))
        .withColumn("surrogate_id", F.row_number().over(Window.orderBy("n_name")))
        .orderBy("surrogate_id")
    )


NATION_SURROGATE_IDS_SQL = """
SELECT n.n_name                                   AS n_name,
       r.r_name                                   AS region_name,
       row_number() OVER (ORDER BY n.n_name)      AS surrogate_id
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY surrogate_id
"""


def part_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 at scale: the same dense row_number numbering produced with
    NO global window — operators/ids.py::surrogate_ids range-partitions
    on the order columns and adds per-partition offsets (the
    zipWithIndex shape).  The oracle is the plain global row_number,
    proving the two formulations are equal on a total order."""
    from musicflow_spark.operators.ids import surrogate_ids

    (part,) = _t(spark, sf_dir, "part")
    return surrogate_ids(
        part.select("p_partkey", "p_brand"), ["p_brand", "p_partkey"], num_partitions=8
    ).select("p_partkey", "p_brand", "surrogate_id")


PART_SURROGATE_IDS_SQL = """
SELECT p_partkey, p_brand,
       row_number() OVER (ORDER BY p_brand, p_partkey) AS surrogate_id
FROM part
ORDER BY surrogate_id
"""


# ------------------------------------------------ branch union + typed nulls
def order_priority_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (threshold routing) + U1 (UNION ALL of branches) + F18 (typed
    null literals): the log_for_tableau.sql:87-93 current-vs-other-user
    branch union, re-keyed on order value.  Each branch projects a
    different column set, padded with cast(null as ...) exactly like
    log_for_tableau.sql:45-48."""
    (orders,) = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") >= 150000).select(
        "o_orderkey",
        F.lit("large").alias("branch"),
        F.round("o_totalprice", 2).alias("amount"),
        F.lit(None).cast("string").alias("priority_note"),
    )
    small = orders.filter(F.col("o_totalprice") < 150000).select(
        "o_orderkey",
        F.lit("small").alias("branch"),
        F.round("o_totalprice", 2).alias("amount"),
        F.col("o_orderpriority").alias("priority_note"),
    )
    return big.unionByName(small)


ORDER_PRIORITY_ROUTING_SQL = """
SELECT o_orderkey, 'large' AS branch, round(o_totalprice, 2) AS amount,
       cast(NULL AS varchar) AS priority_note
FROM orders WHERE o_totalprice >= 150000
UNION ALL
SELECT o_orderkey, 'small' AS branch, round(o_totalprice, 2) AS amount,
       o_orderpriority AS priority_note
FROM orders WHERE o_totalprice < 150000
ORDER BY o_orderkey
"""


# --------------------------------------------------- conservation counts
def conservation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 + J11: the no_lost_videos.sql:3-30 conservation law — three
    scalar counts cross-joined into one row and compared:
    count(customer) == count(with orders) + count(without orders)."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    total = cust.agg(F.count(F.lit(1)).alias("total_customers"))
    with_o = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    without_o = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("without_orders"))
    )
    return (
        total.crossJoin(with_o)
        .crossJoin(without_o)
        .withColumn(
            "conserved",
            F.col("total_customers")
            == F.col("with_orders") + F.col("without_orders"),
        )
    )


CONSERVATION_COUNTS_SQL = """
SELECT t.total_customers, w.with_orders, wo.without_orders,
       t.total_customers = w.with_orders + wo.without_orders AS conserved
FROM (SELECT count(*) AS total_customers FROM customer) t
CROSS JOIN (SELECT count(*) AS with_orders FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) w
CROSS JOIN (SELECT count(*) AS without_orders FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) wo
"""


# ------------------------------------------------------------- distinct
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: dict-keyed dedup (youtube_elt.py:36-38 natural-key dicts) ==
    relational DISTINCT."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
    )


DISTINCT_FLAG_STATUS_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem ORDER BY l_returnflag, l_linestatus
"""


# ------------------------------------------------------------ top-k join
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective filters on both sides of a 3-way join,
    then group + deterministic top-k (O1/O3 + J5).  The limit has a
    unique tiebreak (l_orderkey) so the result is total-order stable."""
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "inner")
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .join(li, orders["o_orderkey"] == li["l_orderkey"], "inner")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


TOP_REVENUE_ORDERS_SQL = """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100.0) / 100.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def iso_duration_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: ISO-8601 duration parsing (the reference uses the
    aniso8601 library per row, youtube_elt.py:223-226,273-276) as
    native regexp_extract + arithmetic, then F10 clock rendering of
    the parsed value.  Durations are synthesized from order keys with
    zero components omitted ('PT5S', 'PT3M5S', 'PT1H5S', ...) so the
    optional-part grammar is exercised."""
    from musicflow_spark.functions.timeutils import iso8601_duration_to_ms, ms_to_clock

    o = read_table(spark, sf_dir, "orders")
    h = F.col("o_orderkey") % 24
    m = F.col("o_orderkey") % 60
    s = (F.col("o_orderkey") * 7) % 60
    iso = F.concat(
        F.lit("PT"),
        F.when(h > 0, F.concat(h.cast("string"), F.lit("H"))).otherwise(""),
        F.when(m > 0, F.concat(m.cast("string"), F.lit("M"))).otherwise(""),
        s.cast("string"),
        F.lit("S"),
    )
    parsed = iso8601_duration_to_ms(F.col("iso_duration"))
    return (
        o.select("o_orderkey", iso.alias("iso_duration"))
        .select(
            "o_orderkey",
            "iso_duration",
            parsed.alias("duration_ms"),
            ms_to_clock(parsed).alias("duration_time"),
        )
    )


ISO_DURATION_PARSE_SQL = r"""
WITH built AS (
  SELECT o_orderkey,
         'PT'
         || CASE WHEN o_orderkey % 24 > 0 THEN cast(o_orderkey % 24 AS varchar) || 'H' ELSE '' END
         || CASE WHEN o_orderkey % 60 > 0 THEN cast(o_orderkey % 60 AS varchar) || 'M' ELSE '' END
         || cast((o_orderkey * 7) % 60 AS varchar) || 'S' AS iso_duration
  FROM orders
), parsed AS (
  SELECT o_orderkey, iso_duration,
         (cast(coalesce(nullif(regexp_extract(iso_duration, '(\d+)H', 1), ''), '0') AS bigint) * 3600
          + cast(coalesce(nullif(regexp_extract(iso_duration, '(\d+)M', 1), ''), '0') AS bigint) * 60
          + cast(coalesce(nullif(regexp_extract(iso_duration, '(\d+)S', 1), ''), '0') AS bigint)) * 1000
         AS duration_ms
  FROM built
)
SELECT o_orderkey, iso_duration, duration_ms,
       printf('%02d:%02d:%02d',
              (duration_ms // 1000) // 3600,
              ((duration_ms // 1000) % 3600) // 60,
              (duration_ms // 1000) % 60) AS duration_time
FROM parsed
ORDER BY o_orderkey
"""


# -------------------------------------------------- OLAP rollup / cube
def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (ext: OLAP rollup): the pricing summary
    re-aggregated at (flag, status), (flag), and grand-total levels in
    ONE pass — Spark's ``rollup`` expands grouping sets inside a
    single Expand+Aggregate, so the cost is one shuffle, not three
    scans.  ``grouping_id`` disambiguates a real null group from a
    subtotal row (same bitmask convention as DuckDB's GROUPING)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "price_cents"
            ),
            F.grouping_id().alias("gid"),
        )
        .select("l_returnflag", "l_linestatus", "n_rows", "sum_qty", "price_cents", "gid")
    )


PRICING_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       cast(sum(cast(round(l_quantity) AS bigint)) AS bigint) AS sum_qty,
       cast(sum(cast(round(l_extendedprice * 100) AS bigint)) AS bigint) AS price_cents,
       cast(GROUPING(l_returnflag, l_linestatus) AS bigint) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ------------------------------------------------- ranking-window family
def customer_segment_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (ext): decile + percent_rank of account
    balance within each market segment — the ranking-window family
    beyond row_number (W1).  Partitioned by segment, so the sort is
    per-group and distributes; the tiebreak chain (acctbal desc,
    custkey) makes both rank functions deterministic."""
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(10).over(w).cast("long").alias("decile"),
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


CUSTOMER_SEGMENT_DECILES_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ntile(10) OVER w AS decile,
       round(percent_rank() OVER w * 1000000.0) / 1000000.0 AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


def top_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price per nation (W-family: partitioned
    window top-k).  The rank window partitions on the nation key, so
    the only wide exchange is the orders⋈customer shuffle on custkey;
    nation is a broadcast dim.  Tiebreak on o_orderkey makes the
    cut deterministic; o_totalprice passes through unmodified (no
    float arithmetic to drift)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("n_name").alias("nation_name"),
            F.col("rk").alias("nation_rank"),
            "o_orderkey",
            "o_totalprice",
        )
    )


TOP_ORDERS_PER_NATION_SQL = """
SELECT n.n_name AS nation_name,
       row_number() OVER (PARTITION BY c.c_nationkey
                          ORDER BY o.o_totalprice DESC, o.o_orderkey) AS nation_rank,
       o.o_orderkey,
       o.o_totalprice
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
QUALIFY nation_rank <= 3
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated aggregate: revenue from lineitems
    whose quantity is below 20% of their part's average — the
    'compare each row to its group's aggregate' idiom.

    Shape: the correlated subquery is a window average over the SAME
    partitioning the filter consumes, so the whole query costs ONE
    shuffle on l_partkey (no self-join of lineitem against a grouped
    copy of itself); the brand filter is a broadcast semi-join that
    prunes before the shuffle.  l_quantity is integral so the window
    average is an exact int-sum / count — both engines produce the
    identical double, and the 20% threshold compare cannot drift."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    w = Window.partitionBy("l_partkey")
    below = (
        li.join(
            F.broadcast(brand_parts),
            li["l_partkey"] == brand_parts["p_partkey"],
        )
        .withColumn("qty_thresh", F.avg("l_quantity").over(w) * 0.2)
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
    )
    return below.agg(
        pround(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            / 100.0
            / 7.0,
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


SMALL_QUANTITY_REVENUE_SQL = """
WITH below AS (
  SELECT l.l_extendedprice, l.l_quantity,
         0.2 * avg(l.l_quantity) OVER (PARTITION BY l.l_partkey) AS qty_thresh
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#13')
SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0 * 100.0) / 100.0 AS avg_yearly,
       count(*) AS n_small
FROM below
WHERE l_quantity < qty_thresh
"""


def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: customers above the average positive account
    balance with NO orders in the trailing 90 days — scalar-subquery
    threshold + anti join + group rollup.  Both scalars (the balance
    threshold and the date cutoff) derive from exact integer
    aggregates / max, so the comparisons cannot drift; each rides a
    1-row broadcast.  The anti join shuffles on custkey only after
    the balance filter pruned the build side."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    thresh = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(cents).alias("sc"), F.count(F.lit(1)).alias("n"))
        .select((F.col("sc") / (F.col("n") * 100.0)).alias("bal_thresh"))
    )
    cutoff = orders.agg(
        F.date_sub(F.max("o_orderdate"), 90).alias("d_cut")
    )
    recent = orders.join(F.broadcast(cutoff), F.lit(True)).filter(
        F.col("o_orderdate") >= F.col("d_cut")
    )
    rich = cust.join(F.broadcast(thresh), F.lit(True)).filter(
        F.col("c_acctbal") > F.col("bal_thresh")
    )
    dormant = rich.join(
        recent.select("o_custkey"),
        rich["c_custkey"] == recent["o_custkey"],
        "left_anti",
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum(cents).alias("acctbal_cents"),
    )


DORMANT_RICH_CUSTOMERS_SQL = """
WITH t AS (
  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
         / (count(*) * 100.0) AS bal_thresh
  FROM customer WHERE c_acctbal > 0),
cut AS (
  SELECT max(o_orderdate) - INTERVAL 90 DAY AS d_cut FROM orders),
recent AS (
  SELECT DISTINCT o_custkey FROM orders, cut WHERE o_orderdate >= d_cut)
SELECT c.c_nationkey,
       count(*) AS n_custs,
       CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer c, t
WHERE c.c_acctbal > t.bal_thresh
  AND c.c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c.c_nationkey
"""


def promo_revenue_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: disjunction of conjunctive brackets over a
    part⋈lineitem join — the OR-of-ANDs predicate Catalyst must split
    into per-scan pushdowns (common conjuncts reach both scans; the
    mixed-table disjunction evaluates post-join).  part is broadcast;
    revenue in exact cents."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(bracket).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("long")
        ).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


PROMO_REVENUE_BRACKETS_SQL = """
SELECT CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lineitems
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1  AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
"""


def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: revenue flow between two nations by ship year
    — the same dimension (nation) joined twice under different roles,
    with a cross-role inequality evaluated post-join.

    Scale shape: both role-filtered dimension chains (supplier⋈nation,
    customer⋈nation) collapse to small broadcasts, and each prunes its
    fact side BEFORE the one big shuffle (lineitem⋈orders on orderkey)
    — with two of 25 nations kept, ~92% of each fact never shuffles."""
    li, orders, cust, supp, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    keep = ("NATION_3", "NATION_7")
    sup = (
        supp.join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .filter(F.col("supp_nation").isin(*keep))
        .select("s_suppkey", "supp_nation")
    )
    cus = (
        cust.join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nk"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .filter(F.col("cust_nation").isin(*keep))
        .select("c_custkey", "cust_nation")
    )
    li_s = li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    ord_c = orders.join(
        F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    return (
        li_s.join(ord_c, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                    0,
                ).cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


NATION_PAIR_TRADE_VOLUME_SQL = """
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('NATION_3', 'NATION_7')
  AND nc.n_name IN ('NATION_3', 'NATION_7')
  AND ns.n_name <> nc.n_name
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
"""


def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped: one nation's share of ECONOMY-part revenue
    sold into the ASIA region, per order year — a conditional-sum
    ratio over a five-table join.

    Scale shape: part filter, supplier⋈nation role chain, and
    region⋈nation⋈customer chain all broadcast and prune the facts
    before the single lineitem⋈orders shuffle.  The share divides two
    exact cent sums (long/long): one IEEE divide, identical in both
    engines — no float-sum drift possible."""
    li, orders, cust, supp, nation, region, part = _t(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "nation", "region", "part",
    )
    econ = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    sup = supp.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("s_nk"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    asia_keys = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("a_nk"))
    )
    asia_cust = cust.join(
        F.broadcast(asia_keys), F.col("c_nationkey") == F.col("a_nk")
    ).select("c_custkey")
    li_f = li.join(F.broadcast(econ), F.col("l_partkey") == F.col("p_partkey")).join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    )
    ord_f = orders.join(
        F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", F.year("o_orderdate").alias("order_year"))
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    return (
        li_f.join(ord_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("order_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", cents).otherwise(
                    F.lit(0)
                )
            ).alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "order_year",
            "nation_cents",
            "total_cents",
            (F.col("nation_cents") / F.col("total_cents")).alias("mkt_share"),
        )
    )


MARKET_SHARE_BY_YEAR_SQL = """
WITH j AS (
  SELECT year(o.o_orderdate) AS order_year,
         ns.n_name AS supp_nation,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS cents
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN region r ON nc.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA')
SELECT order_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END)
         / sum(cents) AS mkt_share
FROM j
GROUP BY order_year
"""


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: parts whose revenue exceeds a fraction of
    GLOBAL revenue — group-by with a scalar-subquery HAVING.

    Scale shape: the global total re-aggregates the per-part partials
    (one extra reduce over an already-tiny frame) instead of a second
    scan of lineitem, then rides a 1-row broadcast back.  The
    threshold multiplies an exact long by a literal — one IEEE op,
    portable."""
    (li,) = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("part_cents")
    )
    per_part = per_part.localCheckpoint(eager=False)
    total = per_part.agg(F.sum("part_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total), F.lit(True))
        .filter(F.col("part_cents") > F.col("total_cents") * 0.0007)
        .select("l_partkey", "part_cents")
    )


IMPORTANT_PARTS_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS part_cents
  FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, part_cents
FROM per_part
WHERE part_cents > (SELECT sum(part_cents) FROM per_part) * 0.0007
"""


def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: orders whose summed lineitem quantity tops a
    threshold, joined back to orders⋈customer — the
    aggregate-then-semi-join idiom.

    Scale shape: the HAVING survivors are a tiny frame (p99 of
    per-order quantity is 262 vs the 300 cut), so they broadcast back
    to orders — the only shuffle is the lineitem groupBy on orderkey.
    Customer is fact-sized, so it joins un-hinted (AQE picks the
    strategy; at sf0.1 it still broadcasts, at 100 TB it shuffles on
    the already-tiny survivor⋈orders frame).  Quantities are
    integral; summed as longs."""
    li, orders, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "total_qty",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("totalprice_cents"),
        )
    )


LARGE_VOLUME_ORDERS_SQL = """
SELECT c.c_name,
       o.o_orderkey,
       o.o_orderdate,
       big.total_qty,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents
FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 300) big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def sole_late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: suppliers who were the ONLY late shipper on a
    multi-supplier order ("late" = shipped >100 days after the order
    date; this corpus has no commit/receipt dates).  The classic
    EXISTS + NOT-EXISTS double self-correlation, rewritten as one
    aggregation pass: per (order, supplier) compute any-late, then per
    order count suppliers and late suppliers, keep (late ∧ n_supps≥2 ∧
    n_late=1).  The oracle states the textbook EXISTS/NOT-EXISTS form,
    certifying the rewrite.

    Scale shape: lineitem⋈orders co-partitions on orderkey; the
    (order,supplier) aggregate reuses that partitioning (orderkey is a
    prefix of the grouping key), the per-order rollup stays on the
    same key, and the qualifying-order list joins back un-hinted: its
    size grows with SF (~1% of orders), so a forced broadcast would
    eventually blow the 8 GiB cap — AQE broadcasts it while it is
    below spark.sql.autoBroadcastJoinThreshold and falls back to a
    shuffle on the already-co-partitioned orderkey otherwise — no
    self-join of lineitem ever materializes.  The obvious
    "one groupBy with two countDistincts" alternative was measured
    SLOWER (2.3s vs 1.8s at sf0.1): distinct-count pairs expand every
    input row ~3x before the shuffle, costing more than this form's
    checkpoint + broadcast-back."""
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    lo = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 100)).cast(
                "int"
            )
        ).alias("late")
    )
    per_os = per_os.localCheckpoint(eager=False)
    sole_orders = (
        per_os.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supps"),
            F.sum("late").alias("n_late"),
        )
        .filter((F.col("n_supps") >= 2) & (F.col("n_late") == 1))
        .select(F.col("l_orderkey").alias("sole_ok"))
    )
    return (
        per_os.filter(F.col("late") == 1)
        .join(sole_orders, F.col("l_orderkey") == F.col("sole_ok"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
    )


SOLE_LATE_SHIPPERS_SQL = """
WITH lo AS (
  SELECT l.l_orderkey AS ok, l.l_suppkey AS sk, l.l_shipdate AS sd, o.o_orderdate AS od
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
late AS (
  SELECT DISTINCT ok, sk FROM lo WHERE sd > od + INTERVAL 100 DAY)
SELECT s.s_suppkey, s.s_name, count(*) AS numwait
FROM late l1
JOIN supplier s ON l1.sk = s.s_suppkey
WHERE EXISTS (SELECT 1 FROM lo l2 WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
  AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.ok = l1.ok AND l3.sk <> l1.sk)
GROUP BY s.s_suppkey, s.s_name
"""


def nullaware_segment_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a NULLABLE probe key, expressed through the SQL
    front end (spark.sql over a temp view) — exercises two surfaces
    no other registered query touches:

    1. ANSI three-valued NOT-IN semantics: ``nullif`` makes MACHINERY
       probe keys NULL, and ``NULL NOT IN (non-empty set)`` is
       UNKNOWN, so those rows are dropped — the opposite of what a
       DataFrame left_anti on ``==`` would do (it KEEPS null-key probe
       rows).  Catalyst plans this as the null-aware anti join (NAAJ,
       single-key broadcast form), a dedicated physical operator.
       If the subquery is empty (possible at tiny SF), NOT IN is TRUE
       for every row including NULL keys — both engines agree, the
       oracle stays green at every SF.
    2. SQL-API parity: the identical SQL text runs on Spark and
       DuckDB, proving the engine's SQL surface (views, CTEs,
       subqueries) matches the DataFrame registry path.

    Scale shape: the subquery side is a distinct over a dimension
    (broadcast, KB-scale); the probe side never shuffles."""
    (cust,) = _t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("naa_customer")
    return spark.sql(
        NULLAWARE_SEGMENT_ANTI_SQL.replace("FROM customer", "FROM naa_customer")
    )


NULLAWARE_SEGMENT_ANTI_SQL = """
WITH probe AS (
  SELECT c_custkey,
         nullif(c_mktsegment, 'MACHINERY') AS seg_key,
         c_mktsegment
  FROM customer),
sub AS (
  SELECT DISTINCT c_mktsegment AS bad_seg FROM customer
  WHERE c_acctbal < -990)
SELECT c_mktsegment, count(*) AS n_customers
FROM probe
WHERE seg_key NOT IN (SELECT bad_seg FROM sub)
GROUP BY c_mktsegment
"""


PIPE_RETURN_STATUS_STATS_SQL_SPARK = """
FROM lineitem
|> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
|> EXTEND CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
     AS rev_cents
|> AGGREGATE count(*) AS n_items,
             CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
     GROUP BY l_returnflag, l_linestatus
|> WHERE n_items > 0
"""

# DuckDB has no pipe syntax: the oracle states the identical query in
# classic form, certifying the pipe front end against an independent
# engine rather than a same-engine rewrite
PIPE_RETURN_STATUS_STATS_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l_returnflag, l_linestatus
HAVING count(*) > 0
"""


def pipe_return_status_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (ext, Spark 4.0 ``|>`` operators): the
    filter→extend→aggregate→having chain written as sequential pipe
    stages — the form incremental query builders and migration
    tooling emit.  Runs through the SQL front end on a temp view; the
    oracle is the equivalent classic SQL on DuckDB, so the pipe
    parser's semantics (EXTEND column scoping, AGGREGATE ... GROUP
    BY, post-aggregation WHERE = HAVING) are value-certified, not
    just parsed.

    Scale shape: identical plan to the classic form — Catalyst
    normalizes pipes before optimization, so pushdown/pruning are
    unchanged (one scan, one map-combined aggregate)."""
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        PIPE_RETURN_STATUS_STATS_SQL_SPARK.replace("FROM lineitem", "FROM pipe_lineitem")
    )


def late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: count orders per priority having AT LEAST ONE
    lineitem shipped >90 days after the order date — the EXISTS
    correlated subquery, planned as an explicit LEFT SEMI join (the
    one join type no other registered query exercises; J9's semi
    probes live in the match engine's pytest path).

    Scale shape: the semi join ships only the probe's join key from
    the build side and short-circuits on first match — no fan-out, so
    an order with 7 late lineitems still yields one row with zero
    dedup work.  lineitem is pre-filtered by the date predicate
    before the orderkey shuffle; the count aggregate reuses nothing
    exotic — two shuffles total."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    lo = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late_keys = lo.filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    ).select("o_orderkey")
    return (
        orders.join(
            late_keys,
            orders["o_orderkey"] == late_keys["o_orderkey"],
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


LATE_ORDER_PRIORITY_COUNTS_SQL = """
SELECT o.o_orderpriority, count(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
"""


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics (ext): per customer, the
    lag/lead/first-value window family over the order sequence —
    days since the previous order, days until the next, and days
    since the customer's first order, plus a per-customer mean gap.
    The one window surface the registry did not yet exercise
    end-to-end (lag + lead + first_value in a single pass over one
    keyed sort).  Exact integer day arithmetic on epoch micros keeps
    every column hash-portable.  One shuffle on custkey; the window
    and the final aggregate reuse the same partitioning."""
    orders = _t(spark, sf_dir, "orders")[0]
    # o_orderdate loads as TIMESTAMP_NTZ; route through the
    # flavor-safe converter used by the temporal-join family
    from musicflow_spark.operators.timejoin import US_PER_DAY, micros

    o = orders.select(
        "o_custkey",
        "o_orderkey",
        micros(orders, "o_orderdate").alias("ts_us"),
    )
    w = Window.partitionBy("o_custkey").orderBy("ts_us", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        "o_orderkey",
        ((F.col("ts_us") - F.lag("ts_us").over(w)) / US_PER_DAY)
        .cast("long")
        .alias("days_since_prev"),
        ((F.lead("ts_us").over(w) - F.col("ts_us")) / US_PER_DAY)
        .cast("long")
        .alias("days_until_next"),
        ((F.col("ts_us") - F.first("ts_us").over(w)) / US_PER_DAY)
        .cast("long")
        .alias("days_since_first"),
    )
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("days_since_prev").alias("total_gap_days"),
        F.max("days_since_first").alias("span_days"),
        F.sum((F.col("days_until_next").isNull()).cast("long")).alias("n_last"),
    )


CUSTOMER_ORDER_GAPS_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS ts_us FROM orders),
g AS (
  SELECT o_custkey, o_orderkey,
         CAST((ts_us - lag(ts_us) OVER w) // 86400000000 AS BIGINT) AS days_since_prev,
         CAST((lead(ts_us) OVER w - ts_us) // 86400000000 AS BIGINT) AS days_until_next,
         CAST((ts_us - first_value(ts_us) OVER w) // 86400000000 AS BIGINT) AS days_since_first
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey))
SELECT o_custkey,
       count(*) AS n_orders,
       CAST(sum(days_since_prev) AS BIGINT) AS total_gap_days,
       CAST(max(days_since_first) AS BIGINT) AS span_days,
       CAST(sum(CASE WHEN days_until_next IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_last
FROM g
GROUP BY o_custkey
"""


LATERAL_TOP_CUSTOMERS_SQL = """
SELECT n.n_name, t.c_custkey, t.bal_cents
FROM nation n,
LATERAL (SELECT c_custkey,
                CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY bal_cents DESC, c_custkey
         LIMIT 3) t
"""


def lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL front end (ext):
    the 3 richest customers per nation as a per-row dependent
    subquery — the SQL surface (correlated LATERAL + per-group LIMIT)
    distinct from the window-function top-k the registry already
    plans (`top_orders_per_nation`).  Identical SQL text runs on
    DuckDB, so the hash match certifies Spark's lateral decorrelation
    against an engine that executes it natively.  Catalyst
    decorrelates to a ranked window under the hood — per-key work,
    no per-row re-scan at scale."""
    cust, nation = _t(spark, sf_dir, "customer", "nation")
    cust.createOrReplaceTempView("lat_customer")
    nation.createOrReplaceTempView("lat_nation")
    return spark.sql(
        LATERAL_TOP_CUSTOMERS_SQL.replace("FROM customer", "FROM lat_customer")
        .replace("FROM nation", "FROM lat_nation")
    )


REGIONAL_ROLLUP_SQL = """
SELECT r.r_name,
       n.n_name,
       CAST(grouping(r.r_name) * 2 + grouping(n.n_name) AS BIGINT) AS gid,
       CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
       count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


def regional_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (ext): customer balances at nation,
    region, and grand-total grain in ONE aggregation pass — the
    drill-down complement of the registry's CUBE query
    (`order_status_cube` plans every combination; ROLLUP prunes to
    the prefix hierarchy, 25+5+1 rows instead of the cube's cross).
    Spark compiles it to a single Expand + hash aggregate; the
    grouping-bit column disambiguates real NULLs from subtotal rows
    on both engines."""
    cust, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    j = (
        cust.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") * 2 + F.grouping("n_name"))
            .cast("long")
            .alias("gid"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias(
                "bal_cents"
            ),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .select("r_name", "n_name", "gid", "bal_cents", "n_customers")
    )


# ------------------------------------------------------ Q5/Q6/Q10 shapes
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: revenue per nation for orders whose customer
    and lineitem supplier sit in the SAME nation of one region — the
    same-nation equality is a second join predicate across two
    dimension chains, the shape that forces join-order planning.

    Scale shape: region->nation collapses to a broadcast list; the
    customer chain carries its nation key to the orders join; the
    only big shuffles are orders⋈customer (custkey) and
    lineitem⋈orders (orderkey); the same-nation constraint applies at
    the supplier broadcast probe, never as a post-join filter over a
    fact x fact blow-up."""
    li, orders, cust, supp, nation, region = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    asia = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    c = cust.join(
        F.broadcast(asia), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("c_nationkey").alias("cn"), "n_name")
    o = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cn", "n_name")
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(supp.select("s_suppkey", "s_nationkey")),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("s_nationkey") == F.col("cn")),
    )
    return j.groupBy("n_name").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
            .cast("long")
        ).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


REGIONAL_SUPPLIER_VOLUME_SQL = """
SELECT n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: the pure scan-filter-aggregate — what a year
    of revenue would change if small-quantity discounts in a band
    were dropped.  The date and quantity predicates push to the
    parquet scan; the discount band compares on exact integer basis
    points (raw double-literal comparison is an engine-parity trap).
    Zero joins, one map-side-combined scalar aggregate."""
    li = _t(spark, sf_dir, "lineitem")[0]
    disc_bp = F.round(F.col("l_discount") * 100, 0).cast("long")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & disc_bp.between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return j.agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long") * disc_bp
        ).alias("delta_centibp"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


FORECAST_REVENUE_DELTA_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS delta_centibp,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
"""


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: customers who returned the most revenue in a
    quarter — selective order window, returnflag filter on the fact,
    wide customer payload carried through the aggregation, global
    top-20 with a unique tiebreak (TakeOrderedAndProject, no full
    sort).  Customer/nation ride broadcasts; the orderkey shuffle is
    the only big exchange."""
    li, orders, cust, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
                .cast("long")
            ).alias("revenue_cents")
        )
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


RETURNED_ITEM_CUSTOMERS_SQL = """
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue_cents DESC, c.c_custkey
LIMIT 20
"""


# ------------------------------------------- grouped closed-form OLS
def brand_price_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form linear regression (ext): for every part
    brand, OLS of line revenue (integer cents) on quantity — the
    slope is the brand's effective unit price, the intercept absorbs
    fixed pricing effects, r² certifies the fit.  The grouped
    closed-form GLM is the scalable alternative to iterative
    solvers: ONE map-side-combinable aggregation collects the exact
    int64 moment vector (n, Σx, Σy, Σxy, Σx², Σy²) per group, and
    the coefficients are pure column math on the 25-row result.

    Portability: moments are exact int64; the coefficient arithmetic
    converts each moment to double ONCE and applies an identical
    IEEE expression tree in both engines (int64→double conversion
    and double *,-,/ are all correctly rounded, so the outputs are
    bit-identical before the defensive 6-dp pround).

    Scale: lineitem→part is a broadcast dim join; the moment agg
    shuffles 25 groups of 6 longs; nothing else moves."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round("l_quantity", 0).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("y * y")).alias("syy"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = d("n") * d("sxx") - d("sx") * d("sx")
    sst = d("n") * d("syy") - d("sy") * d("sy")
    slope = num / den
    return m.select(
        "p_brand",
        "n",
        pround(slope, 6).alias("slope_cents_per_unit"),
        pround((d("sy") - slope * d("sx")) / d("n"), 6).alias("intercept_cents"),
        pround(num * num / (den * sst), 6).alias("r2"),
    ).orderBy("p_brand")


BRAND_PRICE_OLS_SQL = f"""
WITH m AS (
  SELECT p_brand,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM (SELECT l_partkey,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem) l
  JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand)
SELECT p_brand, n,
       {pround_sql("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)} AS slope_cents_per_unit,
       {pround_sql("(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)", 6)} AS intercept_cents,
       {pround_sql("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)} AS r2
FROM m
ORDER BY p_brand
"""


def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts: every part not
    dominated on (cheaper price, bigger size) — the classic
    "best tradeoff set" OLAP operator, computed in O(n log n) via the
    sort-and-running-max identity instead of the naive quadratic
    dominance anti-join: reduce to max(size) per distinct price, keep
    a price level iff its best size strictly beats the running max of
    all STRICTLY cheaper levels, then join back so same-price-same-size
    duplicates (which don't dominate each other — no strict
    inequality) all survive.

    Price lives in exact integer cents.  Scale shape: the groupBy
    collapses the table to distinct-price-level cardinality (bounded
    by the cents grid, orders of magnitude below row count) BEFORE the
    one global running-max window — the same reduced-frame argument as
    the quantile grids; the join-back is a broadcast of the (tiny)
    frontier levels into the part scan."""
    part = read_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100, 0).cast("long")
    levels = (
        part.select(cents.alias("price_cents"), "p_size")
        .groupBy("price_cents")
        .agg(F.max("p_size").alias("best_size"))
    )
    w = (
        Window.orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        levels.withColumn("prev_best", F.max("best_size").over(w))
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_size") > F.col("prev_best"))
        )
        .select("price_cents", "best_size")
    )
    rows = part.select("p_partkey", cents.alias("price_cents"), "p_size")
    return rows.join(
        F.broadcast(frontier),
        (rows["price_cents"] == frontier["price_cents"])
        & (rows["p_size"] == frontier["best_size"]),
    ).select(rows["p_partkey"], rows["p_size"], rows["price_cents"])


PART_PRICE_SIZE_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part),
levels AS (
  SELECT price_cents, max(p_size) AS best_size FROM p GROUP BY price_cents),
frontier AS (
  SELECT price_cents, best_size FROM (
    SELECT price_cents, best_size,
           max(best_size) OVER (ORDER BY price_cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
    FROM levels)
  WHERE prev_best IS NULL OR best_size > prev_best)
SELECT p.p_partkey, p.p_size, p.price_cents
FROM p JOIN frontier f
  ON p.price_cents = f.price_cents AND p.p_size = f.best_size
"""


QUERIES = [
    Query(
        "part_price_size_skyline",
        "ext: 2-D skyline / Pareto frontier (distinct-level reduction + running-max window, duplicate-safe)",
        part_price_size_skyline,
        PART_PRICE_SIZE_SKYLINE_SQL,
    ),
    Query(
        "brand_price_ols",
        "ext: grouped closed-form OLS (exact int64 moment vector, IEEE-deterministic coefficients)",
        brand_price_ols,
        BRAND_PRICE_OLS_SQL,
    ),
    Query("pricing_summary", "A1,A2,A10,F11,O1", pricing_summary, PRICING_SUMMARY_SQL, bench=True),
    Query("iso_duration_parse", "F14,F10,F13", iso_duration_parse, ISO_DURATION_PARSE_SQL),
    Query("snowflake_flatten", "J1-J5,F16,F17,A10,F11", snowflake_flatten, SNOWFLAKE_FLATTEN_SQL, bench=True),
    Query("customers_without_orders", "J6,U3", customers_without_orders, CUSTOMERS_WITHOUT_ORDERS_SQL),
    Query("order_ratio_by_nation", "J7,A1,A10", order_ratio_by_nation, ORDER_RATIO_BY_NATION_SQL),
    Query("parts_in_multiple_orders", "A4,A5,F6", parts_in_multiple_orders, PARTS_IN_MULTIPLE_ORDERS_SQL, bench=True),
    Query("lineitems_in_line_order", "A3,A2,F19", lineitems_in_line_order, LINEITEMS_IN_LINE_ORDER_SQL),
    Query("guarded_upsert_parts", "A8,W2", guarded_upsert_parts, GUARDED_UPSERT_PARTS_SQL, bench=True),
    Query("nation_surrogate_ids", "W1", nation_surrogate_ids, NATION_SURROGATE_IDS_SQL),
    Query("part_surrogate_ids", "W1 (scale form)", part_surrogate_ids, PART_SURROGATE_IDS_SQL),
    Query("order_priority_routing", "P7,U1,F18,F16", order_priority_routing, ORDER_PRIORITY_ROUTING_SQL),
    Query("conservation_counts", "A9,J11", conservation_counts, CONSERVATION_COUNTS_SQL),
    Query("distinct_flag_status", "A7", distinct_flag_status, DISTINCT_FLAG_STATUS_SQL),
    Query("top_revenue_orders", "J5,O1,O3,A2", top_revenue_orders, TOP_REVENUE_ORDERS_SQL, bench=True),
    Query("pricing_rollup", "ext: OLAP rollup (grouping sets)", pricing_rollup, PRICING_ROLLUP_SQL),
    Query("customer_segment_deciles", "ext: ntile/percent_rank windows", customer_segment_deciles, CUSTOMER_SEGMENT_DECILES_SQL),
    Query("top_orders_per_nation", "ext: partitioned window top-k; W1,O1", top_orders_per_nation, TOP_ORDERS_PER_NATION_SQL, bench=True),
    Query("small_quantity_revenue", "ext: correlated group-aggregate filter (Q17 shape)", small_quantity_revenue, SMALL_QUANTITY_REVENUE_SQL),
    Query("dormant_rich_customers", "ext: scalar-threshold + anti join rollup (Q22 shape)", dormant_rich_customers, DORMANT_RICH_CUSTOMERS_SQL),
    Query("promo_revenue_brackets", "ext: OR-of-ANDs bracket pushdown (Q19 shape)", promo_revenue_brackets, PROMO_REVENUE_BRACKETS_SQL),
    Query("nation_pair_trade_volume", "ext: dual-role dimension join (Q7 shape)", nation_pair_trade_volume, NATION_PAIR_TRADE_VOLUME_SQL),
    Query("market_share_by_year", "ext: conditional-sum ratio over 5-table join (Q8 shape)", market_share_by_year, MARKET_SHARE_BY_YEAR_SQL),
    Query("important_parts", "ext: group-by vs global-scalar HAVING (Q11 shape)", important_parts, IMPORTANT_PARTS_SQL),
    Query("large_volume_orders", "ext: aggregate-then-semi-join (Q18 shape)", large_volume_orders, LARGE_VOLUME_ORDERS_SQL),
    Query("sole_late_shippers", "ext: EXISTS+NOT-EXISTS self-correlation (Q21 shape)", sole_late_shippers, SOLE_LATE_SHIPPERS_SQL, bench=True),
    Query("nullaware_segment_anti", "ext: NOT IN three-valued logic / null-aware anti join; SQL front end", nullaware_segment_anti, NULLAWARE_SEGMENT_ANTI_SQL),
    Query("late_order_priority_counts", "ext: EXISTS via explicit LEFT SEMI join (Q4 shape)", late_order_priority_counts, LATE_ORDER_PRIORITY_COUNTS_SQL),
    Query("pipe_return_status_stats", "ext: SQL pipe-syntax front end (|> chain), classic-SQL oracle", pipe_return_status_stats, PIPE_RETURN_STATUS_STATS_SQL),
    Query("regional_supplier_volume", "ext: same-nation dual-chain join (Q5 shape)", regional_supplier_volume, REGIONAL_SUPPLIER_VOLUME_SQL),
    Query("forecast_revenue_delta", "ext: pure scan-filter-aggregate (Q6 shape)", forecast_revenue_delta, FORECAST_REVENUE_DELTA_SQL),
    Query("returned_item_customers", "ext: wide-payload group + global top-k (Q10 shape)", returned_item_customers, RETURNED_ITEM_CUSTOMERS_SQL),
    Query("customer_order_gaps", "ext: lag/lead/first_value inter-order gap stats", customer_order_gaps, CUSTOMER_ORDER_GAPS_SQL),
    Query("lateral_top_customers", "ext: LATERAL correlated subquery (SQL front end)", lateral_top_customers, LATERAL_TOP_CUSTOMERS_SQL),
    Query("regional_rollup", "ext: ROLLUP prefix-hierarchy totals (grouping bits)", regional_rollup, REGIONAL_ROLLUP_SQL),
]
