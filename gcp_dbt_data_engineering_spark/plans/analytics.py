"""Analytic query library — the dbt-model layer's query surface,
re-expressed as idiomatic DataFrame plans (SURVEY.md §2.2-2.6).

The reference's transformation layer is "named SELECTs over warehouse
tables" (``models/example/*.sql``); its real workloads are the
banking-style scans/joins/aggregations implied by
``tests/dq_sql_notes.md:13-47`` (anti-joins, tolerance joins, date
slices). This module exercises that full relational surface on the
driver's TPC-H-ish tables: multi-way joins (broadcast for dims),
hash aggregation, semi/anti joins, window top-k, conditional
aggregation, JSON extraction.

Scale posture: every query here is a single Catalyst plan — filters
reach the parquet scan, dim tables are broadcast (no shuffle of the
fact table for joins), aggregations are partial-agg + single shuffle on
the group keys. No collects, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .spec import (
    QuerySpec,
    money_avg,
    money_sum,
    money_sum_if,
    sql_money_avg,
    sql_money_sum,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship: revenue by region (TPC-H Q5 shape)
# Exercises the reference's join surface (dq_sql_notes.md:35-43 equi-join
# with post-filter) at star-schema scale: fact ⋈ 4 broadcast dims.
# ---------------------------------------------------------------------------

def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    # orders is date-pruned but still fact-sized → shuffle join with
    # lineitem on the key; customer/nation/region are dims → broadcast.
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_REVENUE_BY_REGION = f"""
SELECT r_name AS region,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")},
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# pricing summary (TPC-H Q1 shape): wide conditional aggregation, the same
# single-pass agg idiom the DQ engine compiles checks into (SURVEY.md §4).
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(F.col("l_quantity"), "sum_qty"),
        money_sum(F.col("l_extendedprice"), "sum_base_price"),
        money_sum(disc_price, "sum_disc_price"),
        money_sum(charge, "sum_charge"),
        money_avg(F.col("l_quantity"), "avg_qty"),
        money_avg(F.col("l_extendedprice"), "avg_price"),
        money_avg(F.col("l_discount"), "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


ORACLE_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       {sql_money_sum("l_quantity", "sum_qty")},
       {sql_money_sum("l_extendedprice", "sum_base_price")},
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
       {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
       {sql_money_avg("l_quantity", "avg_qty")},
       {sql_money_avg("l_extendedprice", "avg_price")},
       {sql_money_avg("l_discount", "avg_disc")},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# shipping priority top-10 (TPC-H Q3 shape): filter + join + agg + window
# top-k with total-order tiebreak (SURVEY.md §2.5 W2).
# ---------------------------------------------------------------------------

def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1996-03-15").cast("timestamp_ntz")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("l_orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    # global top-k: orderBy().limit(k) lets Spark run a distributed
    # TakeOrdered instead of a single-partition window.
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


ORACLE_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# order priority with EXISTS (TPC-H Q4 shape): semi-join — the logical dual
# of the reference's NOT EXISTS anti-join (dq_sql_notes.md:23-27).
# ---------------------------------------------------------------------------

def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# customers without orders: LEFT ANTI join — direct Spark mapping of the
# reference's correlated NOT EXISTS (SURVEY.md §2.3 J2).
# ---------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_avg(F.col("c_acctbal"), "avg_acctbal"),
        )
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {sql_money_avg("c_acctbal", "avg_acctbal")}
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# promo revenue share (TPC-H Q14 shape): conditional agg + stable ratio.
# ---------------------------------------------------------------------------

def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        money_sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)), "promo_revenue"),
        money_sum(rev, "total_revenue"),
    ).select(
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
            "promo_share_pct"
        ),
    )


ORACLE_PROMO_REVENUE = f"""
WITH agg AS (
  SELECT
    {sql_money_sum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", "promo_revenue")},
    {sql_money_sum("l_extendedprice * (1 - l_discount)", "total_revenue")}
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_share_pct
FROM agg
"""


# ---------------------------------------------------------------------------
# top customers by revenue: join + agg + deterministic top-k.
# ---------------------------------------------------------------------------

def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        money_sum(F.col("o_totalprice"), "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        per_cust.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey"), F.col("c_name"), F.col("revenue"), F.col("n_orders")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_TOP_CUSTOMERS = f"""
SELECT c_custkey, c_name, revenue, n_orders
FROM (
  SELECT o_custkey,
         {sql_money_sum("o_totalprice", "revenue")},
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
) o
JOIN customer ON o_custkey = c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# supplier nation revenue: 3-way join keyed off the supplier side.
# ---------------------------------------------------------------------------

def supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("supplier_nation"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.countDistinct(F.col("l_suppkey")).alias("n_suppliers"),
        )
    )


ORACLE_SUPPLIER_NATION = f"""
SELECT n_name AS supplier_nation,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")},
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# brand stats: per-dim-group stats incl. engine-stable avg.
# ---------------------------------------------------------------------------

def brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        money_avg(F.col("p_retailprice"), "avg_price"),
        F.max("p_size").alias("max_size"),
        F.min("p_size").alias("min_size"),
    )


ORACLE_BRAND_STATS = f"""
SELECT p_brand,
       COUNT(*) AS n_parts,
       {sql_money_avg("p_retailprice", "avg_price")},
       MAX(p_size) AS max_size,
       MIN(p_size) AS min_size
FROM part
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# events: daily funnel over the nanosecond-timestamp stream table
# (date-slice idiom of the reference: dq_sql_notes.md:75 fecha filters).
# ---------------------------------------------------------------------------

def events_daily_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("ts").cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money_sum(F.col("value"), "total_value"),
        )
    )


ORACLE_EVENTS_DAILY = f"""
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_money_sum("value", "total_value")}
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


# ---------------------------------------------------------------------------
# events JSON: props is a JSON string — get_json_object extraction
# (the [EXT] hook SURVEY.md §2.6 identifies for events.props).
# ---------------------------------------------------------------------------

def events_json_k_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select(k.alias("k"), F.col("value"))
        .withColumn("k_bucket", F.col("k") % 10)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_avg(F.col("value"), "avg_value"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_EVENTS_JSON = f"""
SELECT CAST(CASE WHEN json_valid(props) THEN
         json_extract_string(props, '$.k') END AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       {sql_money_avg("value", "avg_value")},
       MAX(CAST(CASE WHEN json_valid(props) THEN
         json_extract_string(props, '$.k') END AS BIGINT)) AS max_k
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# price tolerance audit — the reference's J1 shape verbatim
# (dq_sql_notes.md:35-43: LEFT JOIN on the reference/dim table, then a
# theta post-filter ABS(actual - standard) > tolerance), mapped to
# lineitem unit prices vs the part list price. A missing dim row counts
# as a violation (the left join's reason for existing). The dim side is
# broadcast; violations fold into one conditional agg per brand rather
# than a second scan.
# ---------------------------------------------------------------------------

TOLERANCE_FACTOR = 0.5


def price_tolerance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    # unit price is UNDEFINED for l_quantity <= 0: such a line cannot
    # be price-verified, so it COUNTS AS A VIOLATION (same spirit as
    # the missing-dim rule). NULLIF guards the division — SQL does not
    # short-circuit OR, and under ANSI a double 0-divide THROWS in
    # Spark while DuckDB yields inf.
    dev = F.abs(
        F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))
        - F.col("p_retailprice")
    )
    viol = (
        F.col("p_partkey").isNull()
        | (F.col("l_quantity") <= 0)
        | (dev > F.lit(TOLERANCE_FACTOR) * F.col("p_retailprice"))
    )
    return (
        li.join(
            F.broadcast(part),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .groupBy(F.coalesce(F.col("p_brand"), F.lit("UNKNOWN")).alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.count(F.when(viol, 1)).alias("n_violations"),
            F.expr(
                "CAST(COUNT(CASE WHEN p_partkey IS NULL"
                " OR l_quantity <= 0 OR "
                f"ABS(l_extendedprice / NULLIF(l_quantity, 0)"
                f" - p_retailprice) > "
                f"{TOLERANCE_FACTOR} * p_retailprice THEN 1 END) AS DOUBLE)"
                " / COUNT(*)"
            ).alias("violation_rate"),
        )
    )


ORACLE_PRICE_TOLERANCE = f"""
SELECT COALESCE(p_brand, 'UNKNOWN') AS brand,
       COUNT(*) AS n_lineitems,
       COUNT(CASE WHEN p_partkey IS NULL OR l_quantity <= 0 OR
                  ABS(l_extendedprice / NULLIF(l_quantity, 0)
                      - p_retailprice)
                    > {TOLERANCE_FACTOR} * p_retailprice THEN 1 END)
         AS n_violations,
       CAST(COUNT(CASE WHEN p_partkey IS NULL OR l_quantity <= 0 OR
                  ABS(l_extendedprice / NULLIF(l_quantity, 0)
                      - p_retailprice)
                    > {TOLERANCE_FACTOR} * p_retailprice
                  THEN 1 END) AS DOUBLE)
         / COUNT(*) AS violation_rate
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# pivot: daily event counts cross-tabbed per type. The pivot value list
# is explicit — Spark then skips the extra distinct-values job and the
# output schema is deterministic (and matches the oracle's conditional
# aggregation column-for-column). Missing combinations coalesce to 0.
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    piv = (
        ev.groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


ORACLE_EVENTS_PIVOT = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       {", ".join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}" for t in EVENT_TYPES)}
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# rollup: subtotal hierarchy over (status, priority) — SURVEY.md §2.4
# noted grouping sets as zero-custom-work in Spark; this makes it a
# covered, oracle-checked operator. NULL group cells mark subtotal rows
# identically in both engines.
# ---------------------------------------------------------------------------

def orders_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the () grouping set is a separate global aggregate, not part of
    # the rollup: standard SQL (and DuckDB/Postgres) emit the
    # grand-total row even over EMPTY input — a global aggregate
    # always yields one row — while Spark's rollup/cube/grouping-sets
    # return zero rows on empty input (wave 7, empty-corpus gate).
    # On non-empty data the union is exactly the rollup's () row, so
    # clean-corpus results are unchanged; the extra pass is a
    # map-side-partial global agg over the same scan.
    # ONE base scan: the (status, priority) grain keeps its DECIMAL
    # sum and the (status) / () groupings re-aggregate it losslessly
    # (counts add; decimal sums add exactly; one double cast per
    # output row) — also cheaper than Expand-based rollup at scale.
    od = _t(spark, sf_dir, "orders")
    g = od.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(22,6)")).alias("dp"),
    )
    null_s = F.lit(None).cast("string")

    def fin(df, status, prio):
        return df.select(
            status.alias("o_orderstatus"), prio.alias("o_orderpriority"),
            "n_orders", F.col("dp").cast("double").alias("total_price"),
        )

    return (
        fin(g, F.col("o_orderstatus"), F.col("o_orderpriority"))
        .unionByName(fin(
            g.groupBy("o_orderstatus").agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("dp").alias("dp"),
            ),
            F.col("o_orderstatus"), null_s,
        ))
        .unionByName(fin(
            g.agg(
                F.coalesce(F.sum("n_orders"), F.lit(0)).alias("n_orders"),
                F.sum("dp").alias("dp"),
            ),
            null_s, null_s,
        ))
    )


ORACLE_ORDERS_ROLLUP = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_money_sum("o_totalprice", "total_price")}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# salted two-stage aggregation — the skew-mitigation idiom made explicit.
# events has only 5 event_type values: at 100 TB a plain groupBy sends
# 1/5th of the table to one reducer. Salting appends a shard key to the
# hot group key for the partial stage, then a cheap second aggregate
# over 5 x SALT rows removes it. Results are exactly the plain-agg
# results (counts and decimal-exact sums re-aggregate losslessly), so
# the oracle is the unsalted SQL. AQE's skew handling covers joins;
# this pattern covers skewed aggregation keys.
# ---------------------------------------------------------------------------

SALT = 16


def events_type_value_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", (F.col("event_id") % SALT).cast("int"))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(22,6)")).alias("pv"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


ORACLE_SALTED = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "total_value")}
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# salted skew JOIN: hot-key fact-to-dim join with the dim replicated
# per salt (the companion to events_type_value_salted's salted AGG —
# together they cover both halves of the skew playbook).
# ---------------------------------------------------------------------------

JOIN_SALT = 8

#: inline event-type dimension (weights the "join side" carries)
TYPE_DIM = {
    "view": 1, "click": 3, "signup": 5, "purchase": 20, "error": -10,
}


def events_salted_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join: 5 hot keys, dim replicated per salt.

    ``event_type`` has 5 values over the whole fact table — a plain
    shuffle join puts each key's entire volume on one reducer. Salting:
    facts get a deterministic salt (event_id % JOIN_SALT), the dim is
    exploded JOIN_SALT times, and the join key becomes (type, salt), so
    each hot key spreads over JOIN_SALT reducers. The oracle is the
    UNSALTED join — results must be identical. (For a dim this small
    you would broadcast instead; salting is the pattern for when the
    replicated side is too big to broadcast but far smaller than the
    skewed fact side.)
    """
    ev = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [(t, w) for t, w in sorted(TYPE_DIM.items())],
        "event_type string, weight int",
    )
    salted_dim = dim.selectExpr(
        "event_type", "weight",
        f"explode(sequence(0, {JOIN_SALT - 1})) AS salt",
    )
    facts = ev.withColumn(
        "salt", (F.col("event_id") % JOIN_SALT).cast("int")
    )
    joined = facts.join(salted_dim, ["event_type", "salt"])
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.first("weight").alias("weight"),
            F.sum(
                (F.col("value") * F.col("weight")).cast("decimal(22,6)")
            ).cast("double").alias("weighted_value"),
        )
    )


def _oracle_salted_join() -> str:
    dim = ", ".join(f"('{t}', {w})" for t, w in sorted(TYPE_DIM.items()))
    return f"""
WITH dim(event_type, weight) AS (VALUES {dim})
SELECT event_type, COUNT(*) AS n_events,
       CAST(MIN(weight) AS INTEGER) AS weight,
       {sql_money_sum("value * weight", "weighted_value")}
FROM events JOIN dim USING (event_type)
GROUP BY event_type
"""


ORACLE_SALTED_JOIN = _oracle_salted_join()


# ---------------------------------------------------------------------------
# CDC-style snapshot diff: reconcile two keyed snapshots (full-outer
# join → added / removed / changed / same). The data-reconciliation
# primitive behind dbt snapshot auditing and cross-environment table
# diffs; the only full-outer-join shape in the §2 surface.
# ---------------------------------------------------------------------------

CDC_A = ("1995-01-01", "1998-01-01")  # snapshot A window [lo, hi)
CDC_B = ("1996-01-01", "2000-01-01")  # snapshot B window [lo, hi)


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer diff of two order-window snapshots.

    Each snapshot is the per-customer (n_orders, total_spend) state
    over its date window; the diff classifies every key as
    added/removed/changed/same and carries both sides' metrics. The
    windows overlap so all four classes occur.

    Scale posture: ONE scan of the window union + ONE key shuffle —
    both snapshots fold into a single conditional aggregation, with
    per-side absence recovered as NULL (a key present in a window
    always has >= 1 order, so NULLIF(count, 0) is exact; the
    conditional decimal SUM is NULL over an empty side by itself).
    The r4 form pre-aggregated each window separately and full-outer
    joined — same answer, but two scans and three shuffles where one
    of each suffices. The oracle keeps the textbook full-outer SQL,
    re-proving the fold equivalent on every gate run.
    """
    orders = _t(spark, sf_dir, "orders")

    def _in(win) -> F.Column:
        lo, hi = win
        return (
            F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz")
        ) & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))

    in_a, in_b = _in(CDC_A), _in(CDC_B)
    agg = (
        orders.filter(in_a | in_b)
        .groupBy("o_custkey")
        .agg(
            F.nullif(
                F.count(F.when(in_a, F.lit(1))), F.lit(0)
            ).alias("a_orders"),
            money_sum_if(in_a, F.col("o_totalprice"), "a_spend"),
            F.nullif(
                F.count(F.when(in_b, F.lit(1))), F.lit(0)
            ).alias("b_orders"),
            money_sum_if(in_b, F.col("o_totalprice"), "b_spend"),
        )
    )
    status = (
        F.when(F.col("a_orders").isNull(), "added")
        .when(F.col("b_orders").isNull(), "removed")
        .when(
            (F.col("a_orders") != F.col("b_orders"))
            | (F.col("a_spend") != F.col("b_spend")),
            "changed",
        )
        .otherwise("same")
    )
    return agg.select(
        "o_custkey",
        status.alias("diff_status"),
        "a_orders",
        "a_spend",
        "b_orders",
        "b_spend",
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH a AS (
  SELECT o_custkey AS k, COUNT(*) AS a_orders,
         {sql_money_sum("o_totalprice", "a_spend")}
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{CDC_A[0]}'
    AND o_orderdate <  TIMESTAMP '{CDC_A[1]}'
  GROUP BY o_custkey),
b AS (
  SELECT o_custkey AS k, COUNT(*) AS b_orders,
         {sql_money_sum("o_totalprice", "b_spend")}
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{CDC_B[0]}'
    AND o_orderdate <  TIMESTAMP '{CDC_B[1]}'
  GROUP BY o_custkey)
SELECT COALESCE(a.k, b.k) AS o_custkey,
       CASE WHEN a_orders IS NULL THEN 'added'
            WHEN b_orders IS NULL THEN 'removed'
            WHEN a_orders != b_orders OR a_spend != b_spend THEN 'changed'
            ELSE 'same' END AS diff_status,
       a_orders, a_spend, b_orders, b_spend
-- IS NOT DISTINCT FROM: a NULL customer key is ONE entity to the
-- diff (the engine's single-scan groupBy fold treats it so); a plain
-- equality would split it into a spurious removed+added pair
FROM a FULL OUTER JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


# ---------------------------------------------------------------------------
# Dynamic JSON key/value explode. Spec hot path is pure JVM
# (from_json to MAP + explode); the Python-UDTF form of the same
# computation lives in props_explode_udtf below as user-defined
# TABLE-function API coverage (asserted equal in tests/test_udtf_api.py)
# but is kept OFF the benchmarked path — a per-row Python generator was
# 3.3x the DuckDB oracle and the 4th most expensive query.
# ---------------------------------------------------------------------------


def events_props_udtf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode ``events.props`` JSON into dynamic key/value rows and
    aggregate per key — entirely JVM-side.

    ``from_json(props, 'map<string,string>')`` handles UNKNOWN key
    sets (the usual reason people reach for a Python UDTF): the map
    explode is a built-in generator inside whole-stage codegen, so the
    "dynamic schema" case needs no Python at all. Scalar JSON values
    coerce to their literal text, matching the oracle's
    ``json_extract_string``.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.explode(F.from_json("props", "map<string,string>")).alias(
                "k", "v"
            )
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("v").alias("n_values"),
            F.expr("CAST(SUM(TRY_CAST(v AS BIGINT)) AS BIGINT)").alias(
                "v_sum"
            ),
        )
    )


def props_explode_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python-UDTF twin of the props explode — API coverage only.

    The UDTF is the escape hatch for row generation SQL genuinely
    cannot express (custom parsers, stateful emission); JSON maps are
    NOT such a case, so the spec path above stays JVM-side. Arrow
    batching keeps the Python boundary vectorized; the aggregate runs
    in the JVM either way. tests/test_udtf_api.py asserts this returns
    exactly the spec's rows.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_id bigint, k string, v string", useArrow=True)
    class PropsExplode:
        def eval(self, event_id, props):  # noqa: ANN001
            import json

            if props is not None:
                try:
                    doc = json.loads(props)
                except ValueError:
                    return  # malformed props: from_json yields NULL map
                if isinstance(doc, dict):
                    for k, v in doc.items():
                        yield event_id, k, str(v)

    spark.udtf.register("props_explode", PropsExplode)
    _t(spark, sf_dir, "events").createOrReplaceTempView(
        "__events_udtf_src"
    )
    return spark.sql("""
        SELECT p.k,
               COUNT(*) AS n_events,
               COUNT(DISTINCT p.v) AS n_values,
               CAST(SUM(TRY_CAST(p.v AS BIGINT)) AS BIGINT) AS v_sum
        FROM __events_udtf_src e,
             LATERAL props_explode(e.event_id, e.props) p
        GROUP BY p.k
    """)


def events_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured stats through Spark 4's VARIANT type.

    ``parse_json`` ingests each ``props`` document once into the
    binary VARIANT encoding; ``variant_get`` then does typed,
    shredding-friendly path access — the open-format answer (Parquet
    VARIANT, Delta/Iceberg shredded columns) to "JSON columns at
    100 TB", where repeated ``get_json_object`` re-parses the string
    per path. Per event_type: count, sum/min/max of the numeric
    ``$.k`` field. Values match the string-path specs exactly; only
    the access path differs. ``try_variant_get`` (not ``variant_get``)
    so a non-integral ``$.k`` becomes NULL like the oracle's
    TRY_CAST, instead of a runtime error.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.selectExpr(
            "event_type",
            # try_parse_json: malformed/empty props (a fact of any
            # real event stream) become NULL VARIANT instead of a
            # Jackson runtime error; try_variant_get then yields NULL k
            "try_variant_get(try_parse_json(props), '$.k', 'bigint') AS k",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


ORACLE_PROPS_VARIANT = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(CASE WHEN json_valid(props) THEN
            json_extract_string(props, '$.k') END AS BIGINT))
            AS BIGINT) AS k_sum,
       CAST(MIN(TRY_CAST(CASE WHEN json_valid(props) THEN
            json_extract_string(props, '$.k') END AS BIGINT))
            AS BIGINT) AS k_min,
       CAST(MAX(TRY_CAST(CASE WHEN json_valid(props) THEN
            json_extract_string(props, '$.k') END AS BIGINT))
            AS BIGINT) AS k_max
FROM events
GROUP BY event_type
"""


ORACLE_PROPS_UDTF = """
WITH kv AS (
  SELECT unnest(json_keys(props)) AS k,
         json_extract_string(props,
           '$.' || unnest(json_keys(props))) AS v
  FROM events WHERE json_valid(props))
SELECT k, COUNT(*) AS n_events, COUNT(DISTINCT v) AS n_values,
       CAST(SUM(TRY_CAST(v AS BIGINT)) AS BIGINT) AS v_sum
FROM kv GROUP BY k
"""


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in [
        QuerySpec("events_props_udtf_stats", events_props_udtf_stats,
                  ORACLE_PROPS_UDTF,
                  "dynamic JSON map explode + per-key aggregate, pure JVM"),
        QuerySpec("events_props_variant_stats", events_props_variant_stats,
                  ORACLE_PROPS_VARIANT,
                  "Spark 4 VARIANT parse_json/variant_get typed access"),
        QuerySpec("events_salted_dim_join", events_salted_dim_join,
                  ORACLE_SALTED_JOIN,
                  "skew-safe salted fact-to-dim join == unsalted oracle"),
        QuerySpec("orders_snapshot_diff", orders_snapshot_diff,
                  ORACLE_SNAPSHOT_DIFF,
                  "CDC snapshot reconciliation via full-outer join"),
        QuerySpec("events_type_value_salted", events_type_value_salted,
                  ORACLE_SALTED,
                  "salted two-stage agg over skewed keys == plain agg"),
        QuerySpec("events_daily_type_pivot", events_daily_type_pivot,
                  ORACLE_EVENTS_PIVOT,
                  "pivot with explicit value list == conditional agg"),
        QuerySpec("orders_rollup_status_priority",
                  orders_rollup_status_priority, ORACLE_ORDERS_ROLLUP,
                  "rollup subtotal hierarchy (grouping sets)"),
        QuerySpec("price_tolerance_audit", price_tolerance_audit,
                  ORACLE_PRICE_TOLERANCE,
                  "left join + ABS tolerance post-filter (reference J1)"),
        QuerySpec("revenue_by_region", revenue_by_region, ORACLE_REVENUE_BY_REGION,
                  "flagship: fact ⋈ broadcast-dim star join + agg (Q5 shape)"),
        QuerySpec("pricing_summary", pricing_summary, ORACLE_PRICING_SUMMARY,
                  "wide single-pass conditional agg (Q1 shape)"),
        QuerySpec("shipping_priority_top10", shipping_priority_top10,
                  ORACLE_SHIPPING_PRIORITY, "filter+join+agg+global top-k (Q3 shape)"),
        QuerySpec("order_priority_semijoin", order_priority_semijoin,
                  ORACLE_ORDER_PRIORITY, "EXISTS → left-semi join (Q4 shape)"),
        QuerySpec("customers_without_orders", customers_without_orders,
                  ORACLE_CUSTOMERS_WITHOUT_ORDERS,
                  "NOT EXISTS → left-anti join (reference J2)"),
        QuerySpec("promo_revenue_share", promo_revenue_share, ORACLE_PROMO_REVENUE,
                  "conditional agg ratio (Q14 shape)"),
        QuerySpec("top_customers_by_revenue", top_customers_by_revenue,
                  ORACLE_TOP_CUSTOMERS, "agg + broadcast join + deterministic top-k"),
        QuerySpec("supplier_nation_revenue", supplier_nation_revenue,
                  ORACLE_SUPPLIER_NATION, "multi-hop dim join + count distinct"),
        QuerySpec("brand_stats", brand_stats, ORACLE_BRAND_STATS,
                  "per-group stats with engine-stable avg"),
        QuerySpec("events_daily_funnel", events_daily_funnel, ORACLE_EVENTS_DAILY,
                  "date-slice agg over nanosecond event stream"),
        QuerySpec("events_json_k_stats", events_json_k_stats, ORACLE_EVENTS_JSON,
                  "JSON extraction from string props column"),
    ]
}
