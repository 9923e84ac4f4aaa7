"""Classic decision-support query shapes (TPC-H Q2/Q6/Q7/Q9/Q15/Q17/
Q18/Q19/Q22 analogs), adapted to the driver's star schema.

The reference's query surface is "named SELECTs over warehouse tables"
(`models/example/*.sql`) plus config-generated predicates
(`tests/dq_sql_notes.md:13-47`); these shapes extend that surface with
the optimizer paths the simpler pack does not yet exercise:

- scan-only filter+agg with full predicate pushdown (Q6 shape),
- multi-fact join with per-year reaggregation (Q7/Q9 shapes),
- correlated scalar-aggregate subqueries decorrelated to aggregate
  joins (Q2/Q15/Q17 shapes),
- group-filter (HAVING) join-back (Q18 shape),
- disjunctive multi-column predicates spanning both join sides
  (Q19 shape),
- global-scalar subquery + anti-join (Q22 shape).

Scale posture: every per-group aggregate feeding a "compare to my
group's aggregate" predicate is built as an explicit aggregate +
broadcast-or-shuffle join on the group key, which is exactly how
Catalyst decorrelates the subquery form — but writing it as a join
keeps the plan visible and lets us choose broadcast when the
aggregate side is small (per-part averages over a dimension-sized
key space) and shuffle when it is fact-sized (per-order sums).
No Python UDFs, no collects; all money math uses the exact-decimal
idiom from `plans/spec.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .spec import QuerySpec, money_sum, sql_money_sum


_TS = "timestamp_ntz"


# ---------------------------------------------------------------------------
# Q6 shape: forecast revenue change — scan-only filter + single agg.
# The entire WHERE clause must reach the parquet scan (PushedFilters);
# there is no join and no group key, so the plan is scan → partial agg
# → single-row final agg. At 100 TB this is the pure I/O-bound case.
# ---------------------------------------------------------------------------

def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast(_TS))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORACLE_FORECAST_REVENUE = f"""
SELECT {sql_money_sum("l_extendedprice * l_discount", "revenue")},
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q7 shape: trade volume between supplier-nation and customer-nation
# pairs by ship year. Two independent dim-chains hang off the same
# fact row (supplier→nation and order→customer→nation), so the fact
# shuffles once (lineitem⋈orders) and every nation/customer hop is a
# broadcast — the pair grouping then reaggregates a small result.
# ---------------------------------------------------------------------------

def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(_TS))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"
            )
        )
    )


ORACLE_NATION_TRADE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS l_year,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "volume")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l_shipdate)
"""


# ---------------------------------------------------------------------------
# Q9 shape: pseudo-profit by supplier nation × ship year for a part
# name family. The schema has no partsupp/supplycost, so cost is
# modeled from the part dimension (quantity × discounted retail) —
# the shape (fact ⋈ two dims, expression mixing columns of all three,
# LIKE filter on the dim) is what matters for the optimizer.
# ---------------------------------------------------------------------------

def part_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "l_quantity"
    ) * F.col("p_retailprice") * F.lit(0.6)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(money_sum(profit, "sum_profit"))
    )


ORACLE_PART_TYPE_PROFIT = f"""
SELECT n_name AS nation,
       EXTRACT(year FROM l_shipdate) AS o_year,
       {sql_money_sum(
           "l_extendedprice * (1 - l_discount)"
           " - l_quantity * p_retailprice * 0.6", "sum_profit")}
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM l_shipdate)
"""


# ---------------------------------------------------------------------------
# Q15 shape: supplier(s) whose quarterly revenue equals the maximum.
# The revenue aggregate is computed once and reused for both the max
# (single-row broadcast) and the equality probe — Catalyst's
# decorrelation of `WHERE total = (SELECT MAX(...))` lands on the
# same plan; writing it as a join keeps the reuse explicit.
# ---------------------------------------------------------------------------

def top_supplier_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast(_TS))
    )
    revenue = li.groupBy("l_suppkey").agg(
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_TOP_SUPPLIER = f"""
WITH revenue AS (
  SELECT l_suppkey,
         {sql_money_sum("l_extendedprice * (1 - l_discount)", "total_revenue")}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# Q17 shape: revenue lost to small-quantity orders — per-part average
# quantity feeding a `l_quantity < 0.2 * avg` predicate on the same
# table. Aggregate once per part (dimension-sized → broadcast), join
# back to the fact, filter, single global sum. The avg uses the exact
# decimal-sum idiom so the 0.2× boundary is bit-identical in DuckDB.
# ---------------------------------------------------------------------------

def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(22,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty")
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey")
        )
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            money_sum(F.col("l_extendedprice"), "total_price"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


ORACLE_SMALL_QTY = f"""
WITH avg_qty AS (
  SELECT l_partkey AS ap_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) / COUNT(*)
           AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_money_sum("l_extendedprice", "total_price")},
       COUNT(*) AS n_small
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty ON l_partkey = ap_partkey
WHERE p_type = 'SMALL' AND l_quantity < 0.5 * avg_qty
"""


# ---------------------------------------------------------------------------
# Q18 shape: large-volume orders — HAVING on a fact-sized group key,
# then join back to orders/customer. The per-order sum shuffles on
# l_orderkey (fact-sized key space: no broadcast), the surviving key
# set is tiny and joins back cheaply; AQE converts that probe join to
# broadcast at runtime.
# ---------------------------------------------------------------------------

def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("g_orderkey"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(22,6)")).alias("dq"))
        .filter(F.col("dq") > 180)
        .select("g_orderkey", F.col("dq").cast("double").alias("total_qty"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("g_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


ORACLE_LARGE_VOLUME = """
WITH big AS (
  SELECT l_orderkey AS g_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(22,6))) > 180
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = g_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive multi-column predicate spanning both join
# sides (brand × size-band × quantity-band). Catalyst extracts the
# common `l_partkey = p_partkey` conjunct as the join key and keeps
# the OR-of-ANDs as a post-join filter; the part side prunes to the
# three brands via a derived `p_brand IN (...)` pushed to the scan.
# ---------------------------------------------------------------------------

def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 15))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 25))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 35))
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_DISJUNCTIVE = f"""
SELECT {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
         AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
         AND l_quantity BETWEEN 20 AND 35)
"""


# ---------------------------------------------------------------------------
# Q22 shape: wealthy customers with no recent orders — global scalar
# aggregate (avg positive balance, broadcast single row) + anti-join
# against the date-pruned orders fact, grouped by market segment. The
# anti-join is the reference's NOT EXISTS idiom (dq_sql_notes.md:17-28)
# at fact scale; the date filter prunes orders before the anti-join
# builds its hash side. (Every customer has ≥1 lifetime order in the
# synthetic data, so the classic "never ordered" form is vacuous —
# the recency filter keeps the same plan shape with a live result.)
# ---------------------------------------------------------------------------

def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast(_TS))
        .select("o_custkey")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(22,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            money_sum(F.col("c_acctbal"), "total_bal"),
        )
    )


ORACLE_IDLE_CUSTOMER = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_custs,
       {sql_money_sum("c_acctbal", "total_bal")}
FROM customer
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(22,6))) AS DOUBLE)
                 / COUNT(*)
        FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q2 shape: cheapest qualified supplier per part — per-part MIN over a
# join, probed back with equality (ties kept, as in Q2). The min is
# computed on the already-joined (part-filtered) pairs, so the second
# pass is a broadcast of per-part minima, not a recompute.
# ---------------------------------------------------------------------------

def min_balance_supplier_per_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # broadcast the filtered part dim BEFORE the pair-distinct: the
    # join is a ~5%-selective semi-filter, so the distinct's shuffle
    # carries 20× fewer rows (1.36s → 0.80s at sf0.1; at 100 TB the
    # distinct is the only fact-sized shuffle in this plan).
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand", "l_suppkey")
        .distinct()
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
    )
    min_bal = pairs.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return pairs.join(
        F.broadcast(min_bal),
        (F.col("p_partkey") == F.col("m_partkey"))
        & (F.col("s_acctbal") == F.col("min_bal")),
    ).select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")


ORACLE_MIN_BAL_SUPPLIER = """
WITH pairs AS (
  SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE p_size <= 10 AND p_type = 'STANDARD'
)
SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
FROM pairs p
WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM pairs m
                   WHERE m.p_partkey = p.p_partkey)
"""


# ---------------------------------------------------------------------------
# Q11 shape: important parts by inventory value for a nation group —
# grouped aggregate compared against a global-scalar fraction of the
# same aggregate. The schema has no partsupp, so "inventory value" is
# the discounted revenue of lineitems shipped by the nations'
# suppliers. The global total is recomputed from the base rows with
# the exact-decimal idiom (NOT by summing the per-part doubles, which
# would be order-dependent), so the 0.002× threshold is bit-identical
# in both engines. Plan: one shuffle on l_partkey for the per-part
# agg; the scalar total is a single-row broadcast; supplier/nation
# hops broadcast. At 100 TB the fact scans twice — acceptable because
# both passes are scan→partial-agg with no wide intermediate.
# ---------------------------------------------------------------------------

_Q11_NATIONS = ("NATION_1", "NATION_2", "NATION_3")


def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*_Q11_NATIONS)
    )
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    filtered = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    per_part = filtered.groupBy(F.col("l_partkey").alias("partkey")).agg(
        money_sum(value, "part_value")
    )
    total = filtered.agg(money_sum(value, "total_value"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > 0.002 * F.col("total_value"))
        .select("partkey", "part_value")
    )


ORACLE_IMPORTANT_PART = f"""
WITH filtered AS (
  SELECT l_partkey, l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN {str(tuple(_Q11_NATIONS))}
)
SELECT l_partkey AS partkey,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "part_value")}
FROM filtered
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(22,6))) AS DOUBLE)
     > 0.002 * (SELECT {sql_money_sum(
         "l_extendedprice * (1 - l_discount)", "t")} FROM filtered)
"""


# ---------------------------------------------------------------------------
# Q12 shape: shipping lateness bands × order-priority classes —
# fact⋈fact equi-join with conditional aggregation (CASE inside SUM).
# The schema has no l_shipmode/commitdate, so the band is derived from
# datediff(ship, order): the Q12 pattern of "group by a derived class,
# count by a CASE over a dim attribute" is preserved exactly. One
# shuffle on the derived band key (3 groups); the priority CASE
# collapses map-side.
# ---------------------------------------------------------------------------

def lateness_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast(_TS))
    )
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(lag > 120, "very_late")
        .when(lag > 60, "late")
        .otherwise("on_time")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(band.alias("lateness"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


ORACLE_LATENESS_PRIORITY = """
SELECT CASE
         WHEN date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) > 120 THEN 'very_late'
         WHEN date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) > 60 THEN 'late'
         ELSE 'on_time'
       END AS lateness,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q16 shape: distinct-supplier counts per part attribute group, with a
# NOT-IN exclusion subquery (suppliers with negative balance play the
# "complaints" role). The exclusion is a broadcast anti-join on the
# tiny supplier-exclusion set; the distinct count shuffles once on the
# (brand, type, size) group key after the pair-distinct pass.
# ---------------------------------------------------------------------------

_Q16_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)


def supplier_part_attribute_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # both broadcast filters run BEFORE the distinct (≈18% survive),
    # and the distinct lands directly on the output grain
    # (brand,type,size,suppkey) so the final count is a plain count,
    # not a countDistinct re-shuffle (0.96s → 0.59s at sf0.1).
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(*_Q16_SIZES)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
    )


ORACLE_SUPPLIER_PART_ATTR = f"""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN {str(_Q16_SIZES)}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20 shape: suppliers who shipped "excess" volume — two aggregates of
# the same relation at the same granularity but different filters
# (year slice vs lifetime), folded into ONE pass with conditional
# aggregation, then a distinct-key semi-join up to the supplier dim.
# Compared to the textbook nested-subquery form this is the
# single-scan plan Catalyst cannot always reach on its own.
# ---------------------------------------------------------------------------

def excess_shipper_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast(_TS)) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast(_TS)
    )
    qty = F.col("l_quantity").cast("decimal(22,6)")
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in96, qty).otherwise(F.lit(0).cast("decimal(22,6)")))
            .cast("double")
            .alias("qty_96"),
            F.sum(qty).cast("double").alias("qty_all"),
        )
    )
    excess_keys = (
        shipped.filter(
            (F.col("qty_96") > 0.5 * F.col("qty_all")) & (F.col("qty_96") > 0)
        )
        .select("l_suppkey")
        .distinct()
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(
            excess_keys, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


ORACLE_EXCESS_SHIPPER = """
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                             AND l_shipdate <  TIMESTAMP '1997-01-01'
                            THEN l_quantity ELSE 0 END
                       AS DECIMAL(22,6))) AS DOUBLE) AS qty_96,
         CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS qty_all
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'SMALL'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM shipped
                    WHERE qty_96 > 0.5 * qty_all AND qty_96 > 0)
"""


# ---------------------------------------------------------------------------
# Q21 shape: suppliers who kept multi-supplier orders waiting — the
# classic EXISTS/NOT-EXISTS pair over sibling lineitems, rewritten as
# a grouped cascade: distinct-supplier count ≥ 2 (EXISTS a
# different supplier) and exactly one late supplier (NOT EXISTS a
# *different* late one); since that late supplier is unique,
# MAX(CASE WHEN late THEN suppkey END) recovers it without a
# join-back. Two-stage aggregate — (order, supp) first, then order —
# instead of two countDistinct+max in one pass, which would plan an
# Expand (3× the shuffle rows); measured 1.4s → 0.94s at sf0.1, and
# at 100 TB the Expand triples the first shuffle's volume. Then a
# dimension-sized groupBy(s_name). "Late" = shipped >60 days after
# order date.
# ---------------------------------------------------------------------------

def waiting_orders_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    pair = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("any_late"))
    )
    per_order = (
        pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum("any_late").alias("nlate"),
            F.max(
                F.when(F.col("any_late") == 1, F.col("l_suppkey"))
            ).alias("late_supp"),
        )
        .filter((F.col("ns") >= 2) & (F.col("nlate") == 1))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        per_order.join(
            F.broadcast(supplier), F.col("late_supp") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


ORACLE_WAITING_ORDERS = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS ns,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                             THEN l_suppkey END) AS nlate,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN l_suppkey END) AS late_supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE ns >= 2 AND nlate = 1
GROUP BY s_name
"""


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in [
        QuerySpec("forecast_revenue_delta", forecast_revenue_delta,
                  ORACLE_FORECAST_REVENUE,
                  "scan-only filter+agg, full predicate pushdown (Q6 shape)"),
        QuerySpec("nation_trade_volume", nation_trade_volume,
                  ORACLE_NATION_TRADE,
                  "two-nation trade pairs by year (Q7 shape)"),
        QuerySpec("part_type_profit", part_type_profit,
                  ORACLE_PART_TYPE_PROFIT,
                  "pseudo-profit by nation×year, LIKE dim filter (Q9 shape)"),
        QuerySpec("top_supplier_quarter", top_supplier_quarter,
                  ORACLE_TOP_SUPPLIER,
                  "revenue view reused for MAX probe (Q15 shape)"),
        QuerySpec("small_quantity_revenue", small_quantity_revenue,
                  ORACLE_SMALL_QTY,
                  "correlated per-part AVG subquery as aggregate join (Q17 shape)"),
        QuerySpec("large_volume_orders", large_volume_orders,
                  ORACLE_LARGE_VOLUME,
                  "HAVING on fact key + join-back (Q18 shape)"),
        QuerySpec("disjunctive_brand_revenue", disjunctive_brand_revenue,
                  ORACLE_DISJUNCTIVE,
                  "OR-of-ANDs predicate spanning join sides (Q19 shape)"),
        QuerySpec("idle_customer_balance", idle_customer_balance,
                  ORACLE_IDLE_CUSTOMER,
                  "global scalar subquery + anti-join (Q22 shape)"),
        QuerySpec("min_balance_supplier_per_part",
                  min_balance_supplier_per_part, ORACLE_MIN_BAL_SUPPLIER,
                  "per-group MIN probe with ties kept (Q2 shape)"),
        QuerySpec("important_part_value", important_part_value,
                  ORACLE_IMPORTANT_PART,
                  "grouped agg vs global-scalar fraction threshold (Q11 shape)"),
        QuerySpec("lateness_priority_counts", lateness_priority_counts,
                  ORACLE_LATENESS_PRIORITY,
                  "derived-band groups + CASE-conditional counts (Q12 shape)"),
        QuerySpec("supplier_part_attribute_counts",
                  supplier_part_attribute_counts, ORACLE_SUPPLIER_PART_ATTR,
                  "distinct-count per attrs + NOT IN anti-join (Q16 shape)"),
        QuerySpec("excess_shipper_suppliers", excess_shipper_suppliers,
                  ORACLE_EXCESS_SHIPPER,
                  "dual-filter agg in one pass + semi-join (Q20 shape)"),
        QuerySpec("waiting_orders_by_supplier", waiting_orders_by_supplier,
                  ORACLE_WAITING_ORDERS,
                  "EXISTS/NOT-EXISTS siblings as one grouped pass (Q21 shape)"),
    ]
}
