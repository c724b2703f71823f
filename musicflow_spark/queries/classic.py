"""Remaining classic decision-support query shapes (TPC-H Q2/Q9/Q12/
Q14/Q15/Q16/Q20 analogues) over the driver's trimmed star schema.

The driver's tables omit ``partsupp``, ``l_shipmode`` and the
commit/receipt dates, so each query re-derives the missing surface
from ``lineitem`` (the part⋈supplier bridge) or from date arithmetic
— the *plan shape* each classic query exists to exercise (correlated
min-per-group join-back, conditional-sum share, scalar-subquery max,
NOT-IN-excluded count-distinct, nested semi-join chains) is
preserved exactly.  Money stays integer cents end-to-end (round ×100
per row, cast long, CAST AS BIGINT in the oracle) so hashes are
bit-portable between Spark and DuckDB.

Reference parity: the reference's analyses layer is plain grouped
SQL (/root/reference/dbt/analyses/*.sql); these queries extend the
same surface to the full classic join-shape inventory, per SURVEY §2
"ext" scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from musicflow_spark.functions.portable import pround
from musicflow_spark.queries.registry import Query
from musicflow_spark.sources.catalog import read_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [read_table(spark, sf_dir, n) for n in names]


def _supplied(li: DataFrame) -> DataFrame:
    """The lineitem-derived part⋈supplier bridge (partsupp stand-in):
    total integral quantity each supplier shipped of each part.

    Scale shape: one map-side-combined groupBy on the composite key
    (partkey, suppkey) — cardinality is bounded by distinct pairs,
    orders of magnitude below lineitem row count."""
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("supplied_qty")
    )


_SUPPLIED_SQL = """
SELECT l_partkey, l_suppkey,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supplied_qty
FROM lineitem GROUP BY l_partkey, l_suppkey
"""


# ----------------------------------------------------------------- Q2 shape
def best_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped: for each EUROPE-supplied mid-size part, the
    supplier(s) achieving the per-part MAX supplied quantity — the
    correlated-aggregate-then-equi-join-back idiom (Q2's
    ``ps_supplycost = (SELECT min(...))``), with the region filter
    applied inside the correlated scope on BOTH sides.

    Scale shape: the bridge aggregate shuffles once on (partkey,
    suppkey); the per-part max is a second map-combined groupBy on
    partkey; the join-back is an equi-join on (partkey, qty) — no
    window, no cross product.  supplier⋈nation⋈region collapses to a
    broadcast eligibility list."""
    li, part, supp, nation, region = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    europe_supp = (
        supp.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    bridge = _supplied(li).join(
        F.broadcast(europe_supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    best = bridge.groupBy("l_partkey").agg(F.max("supplied_qty").alias("best_qty"))
    mid_parts = part.filter(
        (F.col("p_size").between(10, 20)) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name", "p_brand")
    return (
        bridge.join(
            best,
            (bridge["l_partkey"] == best["l_partkey"])
            & (bridge["supplied_qty"] == best["best_qty"]),
        )
        .drop(best["l_partkey"])
        .join(F.broadcast(mid_parts), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "s_name",
            "n_name",
            "supplied_qty",
            F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        )
    )


BEST_SUPPLIER_PER_PART_SQL = f"""
WITH bridge AS (
  SELECT b.l_partkey, b.supplied_qty, s.s_name, s.s_acctbal, n.n_name
  FROM ({_SUPPLIED_SQL}) b
  JOIN supplier s ON b.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
)
SELECT p.p_partkey, p.p_name, p.p_brand, b.s_name, b.n_name, b.supplied_qty,
       CAST(round(b.s_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM bridge b
JOIN part p ON b.l_partkey = p.p_partkey
WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
  AND b.supplied_qty = (SELECT max(b2.supplied_qty) FROM bridge b2
                        WHERE b2.l_partkey = b.l_partkey)
"""


# ----------------------------------------------------------------- Q9 shape
def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: per supplier-nation × order-year profit on
    color-named parts — the 5-table join where the grouping keys come
    from two different dimension chains (supplier→nation and
    orders→year).  Profit = revenue cents − 10% retail-price cost
    proxy (the schema has no ps_supplycost), all integer cents.

    Scale shape: part (name-filtered) and supplier⋈nation broadcast;
    lineitem⋈orders shuffles on orderkey — the single big exchange.
    The year comes off orders before the join so no post-join
    recompute."""
    li, orders, part, supp, nation = _t(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation"
    )
    red_parts = part.filter(F.col("p_name").like("%red%")).select(
        "p_partkey", F.round(F.col("p_retailprice") * 10, 0).cast("long").alias("cost_decicents")
    )
    snat = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    oyear = orders.select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    return (
        li.join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(snat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(oyear, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "amount_cents",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
            .cast("long")
            - F.col("l_quantity").cast("long") * F.col("cost_decicents"),
        )
        .groupBy("n_name", "o_year")
        .agg(
            F.sum("amount_cents").alias("profit_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


NATION_PROFIT_BY_YEAR_SQL = """
SELECT n.n_name, year(o.o_orderdate) AS o_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                - CAST(l.l_quantity AS BIGINT)
                  * CAST(round(p.p_retailprice * 10) AS BIGINT)) AS BIGINT)
         AS profit_cents,
       count(*) AS n_lineitems
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
GROUP BY n.n_name, year(o.o_orderdate)
"""


# ---------------------------------------------------------------- Q12 shape
def ship_latency_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: conditional CASE-sums of order priorities
    grouped by a lineitem-derived shipping class (the schema has no
    l_shipmode, so the class is the order→ship latency bucket — same
    derived-group + dual-conditional-count plan).

    Scale shape: one orderkey shuffle for lineitem⋈orders, the CASE
    evaluation is map-side before the final 3-row aggregate."""
    li, orders = _t(spark, sf_dir, "lineitem", "orders")
    j = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    ship_class = (
        F.when(lag <= 30, F.lit("FAST"))
        .when(lag <= 90, F.lit("REGULAR"))
        .otherwise(F.lit("SLOW"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.withColumn("ship_class", ship_class)
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0).cast("long")).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1).cast("long")).alias("low_line_count"),
        )
    )


SHIP_LATENCY_PRIORITY_COUNTS_SQL = """
SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 30
            THEN 'FAST'
            WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 90
            THEN 'REGULAR' ELSE 'SLOW' END AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------- Q14 shape
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: PROMO parts' percentage of one month's
    revenue — conditional-sum over a broadcast dimension probe,
    collapsing to a single row.

    Scale shape: date filter pushes to the lineitem scan; part
    broadcasts; both sums are integer cents so the only float op is
    the final ratio (pround-portable)."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long"))).alias(
                "promo_cents"
            ),
            F.sum(rev).alias("total_cents"),
        )
    )
    return j.select(
        "promo_cents",
        "total_cents",
        pround(F.col("promo_cents") * 100.0 / F.col("total_cents"), 4).alias(
            "promo_pct"
        ),
    )


PROMO_REVENUE_SHARE_SQL = """
WITH s AS (
  SELECT
    CAST(sum(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS promo_cents,
    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
      AS total_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
    AND l.l_shipdate <  TIMESTAMP '1996-04-01'
)
SELECT promo_cents, total_cents,
       round(promo_cents * 100.0 / total_cents * 10000) / 10000 AS promo_pct
FROM s
"""


# ---------------------------------------------------------------- Q15 shape
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: the supplier(s) whose quarterly revenue
    equals the global maximum — the view + scalar-subquery-max idiom,
    kept tie-safe (Q15's spec note) by comparing against the max
    rather than LIMIT 1.

    Scale shape: one suppkey shuffle for the per-supplier aggregate;
    the global max is a 1-row broadcast probed back into the same
    aggregate — no global sort, no window over all suppliers."""
    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    by_supp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
                .cast("long")
            ).alias("total_revenue_cents")
        )
    )
    mx = by_supp.agg(F.max("total_revenue_cents").alias("mx"))
    return (
        by_supp.join(F.broadcast(mx), F.col("total_revenue_cents") == F.col("mx"))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


TOP_SUPPLIER_REVENUE_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)
"""


# ---------------------------------------------------------------- Q16 shape
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: distinct supplier count per (brand, type,
    size-bucket) for non-PROMO, non-Brand#9 parts, EXCLUDING
    suppliers on a blocklist (negative account balance stands in for
    Q16's 'Customer Complaints' comment filter) — count-distinct over
    a bridge with a NOT-IN side filter.

    Scale shape: the blocklist is a broadcast anti join (keys
    non-null, so the plan stays LeftAnti, not NAAJ); the bridge
    dedups map-side on the composite key before the count-distinct
    shuffle on the 3 grouping columns."""
    li, part, supp = _t(spark, sf_dir, "lineitem", "part", "supplier")
    blocked = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = part.filter(
        (F.col("p_brand") != "Brand#9") & (F.col("p_type") != "PROMO")
    ).select(
        "p_partkey",
        "p_brand",
        "p_type",
        (F.floor((F.col("p_size") - 1) / 10) * 10 + 1).alias("size_bucket"),
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(blocked), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    )
    return pairs.groupBy("p_brand", "p_type", "size_bucket").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


PART_SUPPLIER_VARIETY_SQL = """
SELECT p.p_brand, p.p_type,
       (p.p_size - 1) // 10 * 10 + 1 AS size_bucket,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#9' AND p.p_type <> 'PROMO'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, 3
"""


# ---------------------------------------------------------------- Q20 shape
def excess_inventory_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped: suppliers in one nation who, for at least
    one blue-named part, shipped more than 20% of that part's total
    1996 volume — the nested IN-chain (parts ⊂ names → (part,supp)
    aggregate vs per-part total → supplier semi-join).

    Scale shape: both aggregates shuffle on partkey(+suppkey) with
    map-side combine; the 20% threshold compares integers
    (supplied*5 > total) so no float drift; the final step is a LEFT
    SEMI join into the broadcast nation-filtered supplier dim."""
    li, part, supp, nation = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    blue = part.filter(F.col("p_name").like("blue%")).select("p_partkey")
    li96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).join(F.broadcast(blue), F.col("l_partkey") == F.col("p_partkey"))
    per_pair = li96.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("supplied_qty")
    )
    per_part = li96.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty")
    )
    hot = (
        per_pair.join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("supplied_qty") * 5 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    named = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_9")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return named.join(
        hot, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


EXCESS_INVENTORY_SUPPLIERS_SQL = """
WITH li96 AS (
  SELECT l.l_partkey, l.l_suppkey, CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'blue%'
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
),
per_pair AS (
  SELECT l_partkey, l_suppkey, CAST(sum(qty) AS BIGINT) AS supplied_qty
  FROM li96 GROUP BY l_partkey, l_suppkey
),
per_part AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total_qty
  FROM li96 GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_9'
WHERE s.s_suppkey IN (
  SELECT pp.l_suppkey FROM per_pair pp
  JOIN per_part pt ON pp.l_partkey = pt.l_partkey
  WHERE pp.supplied_qty * 5 > pt.total_qty
)
"""


# -------------------------------------------- association rules
AR_MIN_PAIR = 3  # min co-occurrence baskets for a rule to surface
MAX_BASKET = 64  # baskets above this are excluded from pair mining


def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order co-purchases: for
    every part pair co-bought in >= 3 orders, emit BOTH directed rules
    antecedent -> consequent with integer-grid support, confidence
    (basis points, (c_ab*10000) div c_a) and lift (milli,
    (c_ab*N*1000) div (c_a*c_b)) — the support/confidence/lift triple
    every recommendation pipeline starts from, kept in exact integer
    division so the ranking replays bit-for-bit.

    Scale shape: baskets are the per-order DISTINCT item sets, so the
    pair self-join shuffles on l_orderkey and per-key work is bounded
    by basket size — and that bound is ENFORCED, not assumed: baskets
    above MAX_BASKET items are excluded before pairing (standard
    market-basket practice; one pathological 100k-item basket would
    otherwise cost 10^10 pairs on its own).  Item supports are one
    map-side-combined groupBy; the rule join-back to supports is two
    partkey equi-joins; the basket count N is a 1-row broadcast.  The
    same plan at 100 TB only grows the orderkey shuffle linearly."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    small = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") <= MAX_BASKET)
        .select("l_orderkey")
    )
    li = li.join(small, "l_orderkey")
    n_baskets = li.select(
        F.count_distinct("l_orderkey").alias("n_baskets")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c_i"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= AR_MIN_PAIR)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "c_ab"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "c_ab"
        )
    )
    return (
        rules.join(
            item.select(F.col("l_partkey").alias("antecedent"), F.col("c_i").alias("c_a")),
            "antecedent",
        )
        .join(
            item.select(F.col("l_partkey").alias("consequent"), F.col("c_i").alias("c_c")),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "c_ab",
            "c_a",
            "c_c",
            F.expr("(c_ab * 10000) div c_a").alias("conf_bp"),
            F.expr("(c_ab * n_baskets * 1000) div (c_a * c_c)").alias("lift_milli"),
        )
    )


PART_ASSOCIATION_RULES_SQL = f"""
WITH li0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
li AS (
  SELECT * FROM li0
  WHERE l_orderkey IN (SELECT l_orderkey FROM li0
                       GROUP BY 1 HAVING count(*) <= {MAX_BASKET})),
n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
item AS (SELECT l_partkey, count(*) AS c_i FROM li GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c_ab
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {AR_MIN_PAIR}),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, c_ab FROM pairs
  UNION ALL
  SELECT pb AS antecedent, pa AS consequent, c_ab FROM pairs)
SELECT r.antecedent, r.consequent, CAST(r.c_ab AS BIGINT) AS c_ab,
       CAST(ia.c_i AS BIGINT) AS c_a, CAST(ic.c_i AS BIGINT) AS c_c,
       (r.c_ab * 10000) // ia.c_i AS conf_bp,
       (r.c_ab * n.n_baskets * 1000) // (ia.c_i * ic.c_i) AS lift_milli
FROM rules r
JOIN item ia ON ia.l_partkey = r.antecedent
JOIN item ic ON ic.l_partkey = r.consequent
CROSS JOIN n
"""


QUERIES = [
    Query(
        "part_association_rules",
        "ext: market-basket association rules (integer-grid support/confidence/lift, basket-bounded pair join)",
        part_association_rules,
        PART_ASSOCIATION_RULES_SQL,
    ),
    Query(
        "best_supplier_per_part",
        "ext: correlated min/max-per-group join-back (Q2 shape)",
        best_supplier_per_part,
        BEST_SUPPLIER_PER_PART_SQL,
    ),
    Query(
        "nation_profit_by_year",
        "ext: dual-dimension-chain grouping over 5-table join (Q9 shape)",
        nation_profit_by_year,
        NATION_PROFIT_BY_YEAR_SQL,
    ),
    Query(
        "ship_latency_priority_counts",
        "ext: derived-class dual conditional counts (Q12 shape)",
        ship_latency_priority_counts,
        SHIP_LATENCY_PRIORITY_COUNTS_SQL,
    ),
    Query(
        "promo_revenue_share",
        "ext: conditional-sum percentage, single row (Q14 shape)",
        promo_revenue_share,
        PROMO_REVENUE_SHARE_SQL,
    ),
    Query(
        "top_supplier_revenue",
        "ext: scalar-subquery max, tie-safe (Q15 shape)",
        top_supplier_revenue,
        TOP_SUPPLIER_REVENUE_SQL,
    ),
    Query(
        "part_supplier_variety",
        "ext: NOT-IN-excluded count-distinct over bridge (Q16 shape)",
        part_supplier_variety,
        PART_SUPPLIER_VARIETY_SQL,
    ),
    Query(
        "excess_inventory_suppliers",
        "ext: nested semi-join chain, integer threshold (Q20 shape)",
        excess_inventory_suppliers,
        EXCESS_INVENTORY_SUPPLIERS_SQL,
    ),
]
