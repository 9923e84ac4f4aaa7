"""Statistical aggregates + classic decision-support query shapes.

Completes the analytic surface around SURVEY.md §2.4/§2.5 with the
query classes a warehouse replacement must still answer once the
dbt-model layer (plans/models.py) is pointed at real marts:

- **order-count distribution** (TPC-H Q13 shape): the left-outer
  "count children per parent, then histogram the counts" double
  aggregation — the canonical two-shuffle plan.
- **market share** (Q8 shape): conditional share-of-total over a
  multi-way star join.
- **returned-items top customers** (Q10 shape): join + agg + top-k.
- **moments**: mean / sample stddev / correlation computed from
  exact decimal component sums (n, Σx, Σx², Σxy) so the result is a
  deterministic function of exact inputs in BOTH engines — never the
  engine's own streaming variance, whose partial-aggregation order is
  nondeterministic under parallelism at any scale.
- **exact interpolated quantiles**: distributed p25/p50/p90 via
  row_number + count windows and explicit linear interpolation —
  Spark's `percentile` and DuckDB's `quantile_cont` interpolate with
  engine-specific float paths; writing the interpolation out makes the
  math identical and keeps the plan a single per-group sort (no
  driver-side collect, scales to any group size).
- **deterministic hash sampling**: md5-prefix predicate — the
  reproducible, cluster-stable alternative to `TABLESAMPLE`/`rand()`
  for carving training/eval splits; both engines agree bit-for-bit on
  md5 hex, so the sample is THE SAME SET everywhere, forever.

Determinism: all money math uses the decimal-exact ``money_sum`` idiom
(spec.py); derived doubles are produced by identical expression trees
over exact inputs, so IEEE-754 evaluation matches bit-for-bit across
engines.

Scale posture: every spec is one or two shuffles on its natural keys;
dims are broadcast; quantiles sort within groups only. No collects, no
Python UDFs, no crossJoins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .spec import QuerySpec, money_sum, sql_dec2dbl, sql_money_sum


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: distribution of orders-per-customer, including the
# zero-order customers a plain inner join would drop. Two aggregations:
# shuffle 1 on c_custkey (left join + count), shuffle 2 on the count.
# At 100 TB the left join is the expensive step — it shuffles on the
# join key only; the second agg input is |customers| rows.
# ---------------------------------------------------------------------------

def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    per_cust = (
        cust.join(od, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


ORACLE_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'F'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: per order-year, the revenue share sold to ASIA
# customers by suppliers from CHINA. share = conditional decimal sum /
# total decimal sum → one double division over exact inputs.
# ---------------------------------------------------------------------------

def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    cust_asia = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    china = F.when(F.col("supp_nation") == "CHINA", rev).otherwise(F.lit(0.0))
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            money_sum(china, "china_revenue"),
            money_sum(rev, "total_revenue"),
        )
        .select(
            "o_year",
            "china_revenue",
            "total_revenue",
            (F.col("china_revenue") / F.col("total_revenue")).alias("mkt_share"),
        )
    )


ORACLE_MARKET_SHARE = f"""
WITH base AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS rev,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
)
SELECT o_year,
       {sql_money_sum("CASE WHEN supp_nation = 'CHINA' THEN rev ELSE 0.0 END",
                      "china_revenue")},
       {sql_money_sum("rev", "total_revenue")},
       CAST(CAST(SUM(CAST(CASE WHEN supp_nation = 'CHINA' THEN rev ELSE 0.0 END
                AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(CAST(rev AS DECIMAL(22,6))) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM base
GROUP BY o_year
"""


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: top 20 customers by revenue lost to returns.
# join on the fact keys, agg on customer, global top-k with total-order
# tiebreak. The final top-k is orderBy+limit — Spark runs TakeOrdered
# per partition then merges k·partitions rows on the driver: no full
# sort at any scale.
# ---------------------------------------------------------------------------

def returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(money_sum(rev, "lost_revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_RETURNED_TOP = f"""
SELECT c_custkey, c_name, n_name AS nation,
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "lost_revenue")},
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Moments from exact components. l_quantity is an integral double ≤ 50
# and l_extendedprice a 2-decimal double < ~2e5 — both exact in
# DECIMAL(12,2). Each factor is cast to that exact decimal BEFORE the
# multiply, so x², y², x·y are exact decimal products (≤ 4 fractional
# digits) and the component sums are exact integers-scaled-by-10⁴ in
# both engines. (Multiplying in double first and casting the product
# fails: y² ≈ 5e9 needs > 15 significant digits at scale 6, and the
# two engines round that double→decimal cast differently.) The final
# mean/stddev/corr are identical closed-form double expressions over
# exact inputs. Engine-native STDDEV/CORR would NOT hash-match
# (parallel partial-agg order changes the float result run to run).
# ---------------------------------------------------------------------------

def lineitem_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    comp = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(y * y).cast("double").alias("syy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    n = F.col("n").cast("double")

    # derived moments micro-round through DECIMAL(28,12): the exact
    # decimal power sums cast to double can differ by one ulp between
    # engines (DuckDB's int128 decimal->double conversion vs the JVM's
    # exact-nearest — observed on corr at sf0.001), and the divide/sqrt
    # chain carries it into the printed value. Same libm-margin
    # contract as the profiler/text scores.
    def r(c):
        return c.cast("decimal(28,12)").cast("double")

    # sample stddev needs n > 1 (n=1 divides by zero — ANSI throws in
    # Spark, DuckDB yields NaN) and corr additionally needs positive
    # variance on both sides; outside those domains the statistics are
    # UNDEFINED and pinned to NULL in both engines
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    return comp.select(
        "l_returnflag",
        "n",
        r(F.col("sx") / n).alias("mean_qty"),
        F.when(
            n > 1, r(F.sqrt(varx / (n * (n - 1))))
        ).alias("stddev_qty"),
        F.when(
            (n > 1) & (varx > 0) & (vary > 0),
            r((n * F.col("sxy") - F.col("sx") * F.col("sy"))
              / (F.sqrt(varx) * F.sqrt(vary))),
        ).alias("corr_qty_price"),
    )


ORACLE_MOMENTS = """
WITH comp AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         -- VARCHAR hop: DuckDB's direct decimal->double is up to 1 ulp
         -- off past ~15 significant digits (syy hits 18 at sf1); the
         -- string route is a single correctly-rounded strtod, matching
         -- Spark's BigDecimal.doubleValue bit-for-bit (spec.sql_dec2dbl)
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
              AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
              AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
              AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
              AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
              AS DOUBLE) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(CAST(sx / CAST(n AS DOUBLE) AS DECIMAL(28,12)) AS DOUBLE)
         AS mean_qty,
       CASE WHEN n > 1 THEN
         CAST(CAST(SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
              AS DECIMAL(28,12)) AS DOUBLE) END AS stddev_qty,
       CASE WHEN n > 1
             AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
         CAST(CAST((CAST(n AS DOUBLE) * sxy - sx * sy)
           / (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx)
              * SQRT(CAST(n AS DOUBLE) * syy - sy * sy))
              AS DECIMAL(28,12)) AS DOUBLE) END AS corr_qty_price
FROM comp
"""


# ---------------------------------------------------------------------------
# Exact distributed quantiles with explicit linear interpolation.
# Per group: rn = row_number ordered by (value, unique key), n = count.
# For quantile q: h = (n-1)·q, lo = floor(h)+1, hi = lo+1 capped at n,
# frac = h - floor(h); result = v_lo + frac·(v_hi - v_lo). Only rows at
# rank lo/hi for some q survive the filter, so the final agg touches
# ≤ 6 rows per group.
#
# r12 (guide §8 / §2.3 / §2.5 — decide with small rows): the r4-r11
# form shuffled EVERY row into a per-priority window sort to compute
# rn, then threw all but ≤6 rows per group away — a full-data exchange
# feeding a 5-hot-key (skew-by-design) sort. The rank-prefilter form
# first aggregates per (priority, value-bucket) COUNTS (map-side
# combined: one tiny row per non-empty bucket crosses the wire), turns
# the bucket counts into per-bucket exclusive rank offsets (a window
# over the BUCKET relation, hundreds of rows), locates which buckets
# contain each target rank, and only then sorts the rows of those ≤6
# buckets per group (broadcast semi-join; in-bucket row_number +
# bucket offset == the original global rn exactly, because truncating
# bucketing is order-monotone and ties in v share a bucket). Shuffle
# bytes drop from O(rows) to O(buckets + rows-in-target-buckets), and
# no task ever sorts more than one bucket — the skewed-priority window
# is gone.
# ---------------------------------------------------------------------------

_QUANTILES = (0.25, 0.50, 0.90)

#: value-units per rank-prefilter bucket. Width trades the bucket
#: relation's size against the target buckets' row counts; o_totalprice
#: spans ~[900, 600k], so 4096 gives O(150) buckets per priority while
#: a target bucket holds ~n/150 rows. NULL v sorts first and NaN last
#: in Spark ASC order — the sentinels reproduce that; ±inf / overflow
#: clamp into the extreme buckets (bucketing only needs monotonicity,
#: the in-bucket sort restores exact order).
_QUANT_BUCKET_W = 4096.0
_QUANT_BUCKET_EXPR = (
    "CASE WHEN v IS NULL THEN -9223372036854775807"
    " WHEN isnan(v) THEN 9223372036854775806"
    " ELSE GREATEST(CAST(-4611686018427387904 AS BIGINT),"
    " LEAST(CAST(4611686018427387904 AS BIGINT),"
    f" CAST(FLOOR(v / {_QUANT_BUCKET_W}) AS BIGINT))) END"
)


def orders_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    rows = od.selectExpr(
        "o_orderpriority", "o_totalprice AS v", "o_orderkey"
    ).selectExpr("*", f"{_QUANT_BUCKET_EXPR} AS __bkt")
    # narrow branch: per-(priority, bucket) counts; map-side partial
    # aggregation means one row per non-empty bucket is shuffled
    bcounts = rows.groupBy("o_orderpriority", "__bkt").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    w_off = (
        Window.partitionBy("o_orderpriority")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bcounts.select(
        "o_orderpriority",
        "__bkt",
        "__bn",
        F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__bn")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    # which buckets contain a target rank (lo/hi of some quantile)?
    nm1 = (F.col("n") - 1).cast("double")
    in_bucket = F.lit(False)
    for q in _QUANTILES:
        h = nm1 * F.lit(q)
        for r in (F.floor(h) + 1, F.least(F.floor(h) + 2, F.col("n"))):
            in_bucket = in_bucket | (
                (r > F.col("__off")) & (r <= F.col("__off") + F.col("__bn"))
            )
    targets = offs.filter(in_bucket).select(
        "o_orderpriority", "__bkt", "__off", "n"
    )
    # rank ONLY the rows of the ≤6 target buckets per priority; the
    # in-bucket sort + exclusive bucket offset reproduces the global
    # row_number ordered by (v, o_orderkey) exactly. Priority join is
    # NULL-SAFE: a NULL group key is a real group (the window form
    # kept it; a plain equi-join would silently drop it)
    w_in = Window.partitionBy("o_orderpriority", "__bkt").orderBy(
        "v", "o_orderkey"
    )
    tgt = F.broadcast(
        targets.withColumnRenamed("o_orderpriority", "__p")
        .withColumnRenamed("__bkt", "__tb")
    )
    ranked = rows.join(
        tgt,
        F.col("o_orderpriority").eqNullSafe(F.col("__p"))
        & (F.col("__bkt") == F.col("__tb")),
    ).select(
        "o_orderpriority",
        "v",
        "n",
        (F.row_number().over(w_in) + F.col("__off")).alias("rn"),
    )
    nm1 = (F.col("n") - 1).cast("double")
    keep = F.lit(False)
    aggs = []
    for q in _QUANTILES:
        h = nm1 * F.lit(q)
        lo = F.floor(h) + 1
        hi = F.least(lo + 1, F.col("n"))
        frac = h - F.floor(h)
        keep = keep | (F.col("rn") == lo) | (F.col("rn") == hi)
        tag = str(int(q * 100))
        aggs += [
            (F.max(F.when(F.col("rn") == lo, F.col("v")))
             + F.max(F.when(F.col("rn") == lo, frac))
             * (F.max(F.when(F.col("rn") == hi, F.col("v")))
                - F.max(F.when(F.col("rn") == lo, F.col("v"))))
             ).alias(f"p{tag}_price"),
        ]
    return (
        ranked.filter(keep)
        .groupBy("o_orderpriority")
        .agg(F.max("n").cast("bigint").alias("n_orders"), *aggs)
    )


def _sql_quantiles() -> str:
    exprs = []
    for q in _QUANTILES:
        tag = str(int(q * 100))
        h = f"(CAST(n - 1 AS DOUBLE) * {q})"
        lo = f"(FLOOR({h}) + 1)"
        hi = f"LEAST({lo} + 1, n)"
        frac = f"({h} - FLOOR({h}))"
        exprs.append(
            f"MAX(CASE WHEN rn = {lo} THEN v END)"
            f" + MAX(CASE WHEN rn = {lo} THEN {frac} END)"
            f" * (MAX(CASE WHEN rn = {hi} THEN v END)"
            f"    - MAX(CASE WHEN rn = {lo} THEN v END)) AS p{tag}_price"
        )
    conds = " OR ".join(
        f"rn = (FLOOR(CAST(n - 1 AS DOUBLE) * {q}) + 1)"
        f" OR rn = LEAST(FLOOR(CAST(n - 1 AS DOUBLE) * {q}) + 2, n)"
        for q in _QUANTILES
    )
    return f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice AS v,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       {", ".join(exprs)}
FROM ranked
WHERE {conds}
GROUP BY o_orderpriority
"""


ORACLE_QUANTILES = _sql_quantiles()


# ---------------------------------------------------------------------------
# Deterministic hash sample: md5 hex prefix '0' ⇒ a stable 1/16 subset.
# Unlike TABLESAMPLE / rand(seed), the membership is a pure function of
# the key — the same rows are sampled on any cluster, any partitioning,
# any engine, forever (training/eval splits, reproducible debugging).
# The predicate is embarrassingly parallel; no shuffle added.
# ---------------------------------------------------------------------------

def orders_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    sampled = od.filter(
        F.md5(F.col("o_orderkey").cast("string")).substr(1, 1) == "0"
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        money_sum(F.col("o_totalprice"), "sample_revenue"),
    )


ORACLE_HASH_SAMPLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_sampled,
       {sql_money_sum("o_totalprice", "sample_revenue")}
FROM orders
WHERE SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# unpivot / melt — the relational wide→long operator (Spark df.unpivot,
# DuckDB UNPIVOT). The profiler melts via explode-of-structs for plan-
# size reasons; this spec covers the *operator* itself so a user
# migrating UNPIVOT queries has a checked equivalent.
# ---------------------------------------------------------------------------

_UNPIVOT_COLS = ("o_totalprice_sum", "o_order_count", "o_max_price")


def orders_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status metric matrix melted to (status, metric, value) rows.

    One aggregate then ``df.unpivot`` — wide→long with the metric name
    as data. Unpivot is a zero-shuffle projection (Expand node); at any
    scale it costs one pass over the already-aggregated frame.
    """
    wide = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            money_sum(F.col("o_totalprice"), "o_totalprice_sum"),
            F.count(F.lit(1)).cast("double").alias("o_order_count"),
            F.max("o_totalprice").cast("double").alias("o_max_price"),
        )
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=list(_UNPIVOT_COLS),
        variableColumnName="metric",
        valueColumnName="value",
    )


ORACLE_UNPIVOT = f"""
UNPIVOT (
  SELECT o_orderstatus,
         {sql_money_sum("o_totalprice", "o_totalprice_sum")},
         CAST(COUNT(*) AS DOUBLE) AS o_order_count,
         CAST(MAX(o_totalprice) AS DOUBLE) AS o_max_price
  FROM orders
  GROUP BY o_orderstatus
) ON {", ".join(_UNPIVOT_COLS)}
INTO NAME metric VALUE value
"""


# ---------------------------------------------------------------------------
# ntile deciles — the tiling window family (ntile/percent_rank), with a
# unique-key tiebreak so both engines tile identically. Implemented as
# a DISTRIBUTED two-phase rank, not ntile-over-a-priority-partition:
# o_orderpriority has 5 values, so a window partitioned on it gives one
# task per priority holding that priority's FULL sort — at 100× scale,
# 5 tasks sort the whole table (VERDICT r4 item 1). Instead:
#   1. equi-width price buckets per priority (bounds from one cheap
#      5-row agg, broadcast back) — rows with equal price share a
#      bucket, so cross-bucket order == price order;
#   2. per-(priority, bucket) row_number — every sort bounded by one
#      bucket's occupancy, hundreds of independent tasks;
#   3. bucket row-counts (a ≤ priority×B row relation) prefix-summed
#      into per-bucket offsets; global rank = offset + in-bucket rank;
#   4. ntile's exact assignment law applied arithmetically to the
#      rank: with n rows, base = n div 10, rem = n mod 10, the first
#      rem tiles hold base+1 rows — pure integer math, no window.
# ---------------------------------------------------------------------------

_DECILE_BUCKETS = 64  # per priority; size ≈ rows/(5·64) per sort task.
# At 100 TB you'd raise this so each bucket's sort fits an executor —
# the shape stays identical, only the constant changes.


def orders_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority price deciles: row counts + bounds + revenue.

    ``ntile`` assigns by row position, so ties in the order column make
    tiling ambiguous — the rank carries the unique ``o_orderkey``
    tiebreak (spec.py determinism rules). See the block comment above
    for the distributed two-phase-rank shape; results are exactly
    NTILE(10) OVER (PARTITION BY priority ORDER BY price, orderkey).
    """
    B = _DECILE_BUCKETS
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    bounds = od.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("__lo"),
        F.max("o_totalprice").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    width = (
        (F.col("__hi") - F.col("__lo")).cast("double") / F.lit(float(B))
    )
    # null-safe key: a NULL-priority group is still a group — the
    # plain equi-join silently dropped its rows (same defect family as
    # domain_cap_downsample, r8 adversarial corpus)
    bn = bounds.withColumnRenamed("o_orderpriority", "__bp")
    b = (
        od.join(
            F.broadcast(bn),
            od["o_orderpriority"].eqNullSafe(bn["__bp"]),
        ).drop("__bp")
        .withColumn(
            "__bkt",
            F.least(
                F.lit(B - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("o_totalprice") - F.col("__lo")).cast("double")
                        / F.greatest(width, F.lit(1e-12))
                    ).cast("int"),
                ),
            ),
        )
    )
    # offsets: tiny relation (≤ 5·B rows) — the window here sorts ≤ B
    # rows per priority, not the table.
    counts = b.groupBy("o_orderpriority", "__bkt").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    w_off = (
        Window.partitionBy("o_orderpriority")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "o_orderpriority",
        "__bkt",
        F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = Window.partitionBy("o_orderpriority", "__bkt").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    # same null-safe rule for the offset-stitch join
    offs = offsets.withColumnsRenamed(
        {"o_orderpriority": "__op", "__bkt": "__ob"}
    )
    ranked = (
        b.join(
            F.broadcast(offs),
            b["o_orderpriority"].eqNullSafe(offs["__op"])
            & (b["__bkt"] == offs["__ob"]),
        )
        .drop("__op", "__ob")
        .withColumn("__rn", F.col("__off") + F.row_number().over(w_in))
    )
    # ntile(10) assignment law, arithmetically from (rn, n) — exact
    # integer `div`, no float truncation at any n. greatest(base, 1)
    # keeps the unselected branch divisor nonzero when n < 10 (ANSI).
    decile = F.expr(
        "CASE WHEN __rn <= (__n % 10) * ((__n div 10) + 1)"
        " THEN (__rn + (__n div 10)) div ((__n div 10) + 1)"
        " ELSE (__n % 10)"
        "  + (__rn - (__n % 10) * ((__n div 10) + 1)"
        "     + greatest(__n div 10, 1) - 1) div greatest(__n div 10, 1)"
        " END"
    )
    return (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
            money_sum(F.col("o_totalprice"), "revenue"),
        )
    )


ORACLE_DECILES = f"""
WITH tiled AS (
  SELECT o_orderpriority, o_totalprice,
         NTILE(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders)
SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS lo_price,
       MAX(o_totalprice) AS hi_price,
       {sql_money_sum("o_totalprice", "revenue")}
FROM tiled
GROUP BY o_orderpriority, decile
"""


# ---------------------------------------------------------------------------
# Benford's-law first-digit check (fraud/entry-error screening over
# money columns — the classic forensic DQ test for financial data)
# ---------------------------------------------------------------------------

import math as _math

#: expected P(first digit = d) = log10(1 + 1/d), precomputed in Python
#: and inlined as %.17e literals so NEITHER engine evaluates log10 in
#: SQL (libm-dependent); 17 significant digits round-trip a double
#: exactly, so both engines parse the identical value.
_BENFORD = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def dq_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of ``o_totalprice`` vs
    Benford's law, with the per-digit chi-square contribution.

    Real invoice/price populations spanning several orders of
    magnitude follow Benford closely; fabricated or truncated data
    does not — the per-digit deviation is the auditor's screening
    statistic. (TPC-H prices are uniform-ish, so deviations here are
    EXPECTED and large; the spec tests the machinery, not the data's
    honesty.) The digit comes from integer/string ops (floor → cast →
    first char), never log10; expected frequencies are inlined
    literals, so every float op is a deterministic function of integer
    counts in both engines.

    Scale posture: one projection + one 9-group aggregate with
    map-side partials; the observed/expected comparison is 9 rows.
    """
    od = load_table(spark, sf_dir, "orders")
    digits = od.filter(F.col("o_totalprice") >= 1).selectExpr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)"
        " AS STRING), 1, 1) AS INT) AS digit"
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p:.17e}" for d, p in _BENFORD.items()
    ) + " END"
    return (
        counts.join(F.broadcast(total))
        .selectExpr(
            "digit",
            "n",
            "CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed_frac",
            f"{exp_case} AS expected_frac",
        )
        .selectExpr(
            "digit",
            "n",
            "observed_frac",
            "expected_frac",
            "(observed_frac - expected_frac) * (observed_frac -"
            " expected_frac) / expected_frac AS chi2_contrib",
        )
    )


_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p:.17e}" for d, p in _BENFORD.items()
) + " END"

ORACLE_BENFORD = f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
              AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1),
counts AS (
  SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
fr AS (
  SELECT digit, n,
         CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed_frac,
         {_BENFORD_CASE_SQL} AS expected_frac
  FROM counts, t)
SELECT digit, n, observed_frac, expected_frac,
       (observed_frac - expected_frac) * (observed_frac - expected_frac)
         / expected_frac AS chi2_contrib
FROM fr
"""


# ---------------------------------------------------------------------------
# Join-key skew diagnosis — the measurement you run BEFORE choosing a
# skew strategy (broadcast / salting / AQE skew-join thresholds).
# ---------------------------------------------------------------------------

SKEW_TOP = 5


def events_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile of candidate shuffle keys on the fact table.

    For each candidate join/aggregation key (user_id, event_type):
    distinct-key count, max and p99-ish top-frequency mass, the share
    of all rows held by the top-``SKEW_TOP`` keys, and the
    max/mean frequency ratio — exactly the numbers that decide
    whether a key needs broadcast (few keys), salting (top-k mass
    dominates), or nothing. Plan: one count aggregate per key; the
    top-k mass comes from ``orderBy().limit(k)`` — TakeOrdered, a
    per-partition top-k + driver merge of k·partitions rows — NOT a
    global row_number window (which would sort EVERY distinct key in
    one task: at 100 TB with 1e9 users, that task is the job; the r4
    form had exactly that window). All exact integers plus two
    fixed-order double divisions. A routine pre-flight costing one
    map-side-combined pass per key.
    """
    from ..sources import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    out = None
    for key in ("user_id", "event_type"):
        counts = ev.groupBy(F.col(key).cast("string").alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )
        topk = (
            counts.orderBy(F.desc("n"), F.asc("k"))
            .limit(SKEW_TOP)
            .agg(F.sum("n").alias("topk_rows"))
        )
        row = counts.agg(
            F.lit(key).alias("key_column"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_freq"),
        ).crossJoin(F.broadcast(topk)).selectExpr(
            "key_column",
            "n_keys",
            "max_freq",
            f"CAST(topk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)"
            " AS topk_mass",
            "CAST(max_freq AS DOUBLE)"
            " / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))"
            " AS max_over_mean",
        )
        out = row if out is None else out.unionByName(row)
    return out


ORACLE_KEY_SKEW = "\nUNION ALL\n".join(
    f"""SELECT '{key}' AS key_column,
       COUNT(*) AS n_keys,
       MAX(n) AS max_freq,
       CAST(SUM(CASE WHEN rnk <= {SKEW_TOP} THEN n ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS topk_mass,
       CAST(MAX(n) AS DOUBLE)
         / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
         AS max_over_mean
FROM (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, k ASC) AS rnk
  FROM (SELECT CAST({key} AS VARCHAR) AS k, COUNT(*) AS n
        FROM events GROUP BY 1))"""
    for key in ("user_id", "event_type")
)


# ---------------------------------------------------------------------------
# Cohort LTV matrix — first-order cohort x order month revenue
# ---------------------------------------------------------------------------


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-cohort lifetime-value matrix: customers grouped by
    their FIRST order month, revenue tracked per subsequent month —
    the cohort table every growth dashboard opens with (months_since
    lets the consumer pivot to the triangular view).

    Plan: one agg for each customer's cohort month (min over orders),
    joined back on o_custkey (at this dim/fact ratio Spark picks the
    broadcast; at 100 TB both sides shuffle on the SAME key, so the
    join is co-partitioned with the upstream agg), then the
    (cohort, month) rollup. months_since is pure integer month
    arithmetic; revenue is the exact-decimal money sum.
    """
    od = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_totalprice",
        "YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS m",
    )
    first = od.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    return (
        od.join(first, "o_custkey")
        .groupBy("m0", "m")
        .agg(
            money_sum(F.col("o_totalprice"), "revenue"),
            F.countDistinct("o_custkey").alias("n_active"),
        )
        .selectExpr(
            "CAST(m0 div 12 AS BIGINT) * 100 + (m0 % 12) + 1"
            " AS cohort_month",
            "CAST(m - m0 AS BIGINT) AS months_since",
            "n_active",
            "revenue",
        )
    )


ORACLE_COHORT_LTV = f"""
WITH od AS (
  SELECT o_custkey, o_totalprice,
         YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS m
  FROM orders),
first AS (
  SELECT o_custkey, MIN(m) AS m0 FROM od GROUP BY 1)
SELECT CAST(m0 // 12 AS BIGINT) * 100 + (m0 % 12) + 1 AS cohort_month,
       CAST(m - m0 AS BIGINT) AS months_since,
       CAST(COUNT(DISTINCT od.o_custkey) AS BIGINT) AS n_active,
       {sql_money_sum('o_totalprice', 'revenue')}
FROM od JOIN first ON od.o_custkey = first.o_custkey
GROUP BY m0, m
"""


# ---------------------------------------------------------------------------
# Runs test — Wald–Wolfowitz randomness check on daily volume deltas
# ---------------------------------------------------------------------------


def dq_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test over the SIGNS of day-over-day volume
    deltas — the nonparametric "is this series random or trending /
    oscillating" check a monitoring stack runs beside the magnitude
    detectors (CUSUM/EWMA catch level shifts; the runs test catches
    autocorrelation with NO distributional assumption).

    Exactness: signs, run count, and n+/n− are integers from one lag
    window over the bounded per-day relation; the expected-runs and
    variance terms are single IEEE expressions over exact integers,
    and the z-score's sqrt rides the DECIMAL(28,9) rounding recipe
    (the established cross-engine libm rule). Zero deltas drop (the
    standard treatment). Output is ONE row: observed vs expected runs
    and the |z| > 1.96 verdict.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = "(ORDER BY d)"
    signs = (
        daily.selectExpr("d", "n", f"LAG(n) OVER {w} AS prev")
        .filter("prev IS NOT NULL AND n <> prev")
        .selectExpr(
            "d", "CASE WHEN n > prev THEN 1 ELSE 0 END AS up"
        )
    )
    runs = signs.selectExpr(
        "d", "up", "LAG(up) OVER (ORDER BY d) AS pup"
    )
    return (
        runs.agg(
            F.expr(
                "SUM(CASE WHEN pup IS NULL OR up <> pup"
                " THEN 1 ELSE 0 END)"
            ).alias("n_runs"),
            F.expr("SUM(up)").alias("n_up"),
            F.expr("SUM(1 - up)").alias("n_down"),
        )
        .selectExpr(
            "n_runs",
            "n_up",
            "n_down",
            "1.0 + 2.0 * CAST(n_up * n_down AS DOUBLE)"
            " / CAST(n_up + n_down AS DOUBLE) AS expected_runs",
            "CAST(2 * n_up * n_down"
            "     * (2 * n_up * n_down - n_up - n_down) AS DOUBLE)"
            " / (CAST((n_up + n_down) * (n_up + n_down) AS DOUBLE)"
            "    * CAST(n_up + n_down - 1 AS DOUBLE)) AS var_runs",
        )
        .selectExpr(
            "n_runs",
            "n_up",
            "n_down",
            "expected_runs",
            # var_runs = 0 iff the series is one-sided (n_up or n_down
            # is 0): z is undefined and a monotone run of any length
            # >= 10 is trivially nonrandom
            "CASE WHEN var_runs > 0 THEN"
            " (CAST(n_runs AS DOUBLE) - expected_runs)"
            " / CAST(CAST(sqrt(var_runs) AS DECIMAL(28,9)) AS DOUBLE)"
            " END AS z",
            "CASE WHEN var_runs > 0 THEN"
            " abs((CAST(n_runs AS DOUBLE) - expected_runs)"
            " / CAST(CAST(sqrt(var_runs) AS DECIMAL(28,9)) AS DOUBLE))"
            " > 1.96"
            " ELSE n_up + n_down >= 10 END AS nonrandom",
        )
    )


ORACLE_RUNS_TEST = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1),
signs AS (
  SELECT d, CASE WHEN n > prev THEN 1 ELSE 0 END AS up
  FROM (SELECT d, n, LAG(n) OVER (ORDER BY d) AS prev FROM daily)
  WHERE prev IS NOT NULL AND n <> prev),
runs AS (
  SELECT up, LAG(up) OVER (ORDER BY d) AS pup FROM signs),
agg AS (
  SELECT CAST(SUM(CASE WHEN pup IS NULL OR up <> pup THEN 1 ELSE 0 END)
              AS BIGINT) AS n_runs,
         CAST(SUM(up) AS BIGINT) AS n_up,
         CAST(SUM(1 - up) AS BIGINT) AS n_down
  FROM runs),
terms AS (
  SELECT n_runs, n_up, n_down,
         1.0 + 2.0 * CAST(n_up * n_down AS DOUBLE)
           / CAST(n_up + n_down AS DOUBLE) AS expected_runs,
         CAST(2 * n_up * n_down
              * (2 * n_up * n_down - n_up - n_down) AS DOUBLE)
           / (CAST((n_up + n_down) * (n_up + n_down) AS DOUBLE)
              * CAST(n_up + n_down - 1 AS DOUBLE)) AS var_runs
  FROM agg)
SELECT n_runs, n_up, n_down, expected_runs,
       CASE WHEN var_runs > 0 THEN
         (CAST(n_runs AS DOUBLE) - expected_runs)
           / CAST(CAST(sqrt(var_runs) AS DECIMAL(28,9)) AS DOUBLE)
       END AS z,
       CASE WHEN var_runs > 0 THEN
         abs((CAST(n_runs AS DOUBLE) - expected_runs)
           / CAST(CAST(sqrt(var_runs) AS DECIMAL(28,9)) AS DOUBLE))
           > 1.96
       ELSE n_up + n_down >= 10 END AS nonrandom
FROM terms
"""


# ---------------------------------------------------------------------------
# Chi-squared independence — contingency test between two dimensions
# ---------------------------------------------------------------------------

#: chi-squared critical values at alpha = 0.05 by degrees of freedom
#: (standard table values); inlined as literals so neither engine
#: evaluates an inverse-CDF.  dof is derived from the OBSERVED distinct
#: row/column counts, so a scale factor where a rare level (e.g. order
#: status 'P') is absent still gets the right threshold.
_CHI2_CRIT_05 = {
    1: 3.841458820694124,
    2: 5.991464547107979,
    3: 7.814727903251179,
    4: 9.487729036781154,
    5: 11.070497693516351,
    6: 12.591587243743977,
    7: 14.067140449340169,
    8: 15.50731305586545,
    9: 16.918977604620448,
    10: 18.307038053275146,
    11: 19.67513757268249,
    12: 21.02606981748307,
}

#: dof -> critical value as a shared SQL CASE (identical text in the
#: Spark plan and the DuckDB oracle, so the verdict boolean agrees
#: bit-for-bit).  dof > 12 cannot occur for priority (<=5) x status
#: (<=3); the ELSE NULL is a loud-failure guard, not a code path.
_CHI2_CRIT_CASE = (
    "CASE dof "
    + " ".join(f"WHEN {d} THEN {v!r}" for d, v in _CHI2_CRIT_05.items())
    + " ELSE NULL END"
)


def dq_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between order priority
    and order status — the categorical-drift / segmentation-sanity
    check (are the dimensions independent, or does one priority class
    attract a different status mix?).

    Exactness: observed counts O, row totals R, column totals C and
    the grand total N are exact BIGINTs; each cell's statistic uses
    the integer identity (O·N − R·C)²/(N·R·C), evaluated as ONE fixed
    double expression over exact integers and rounded through
    DECIMAL(28,9) so the cell sum is an exact decimal fold (double
    summation order would be shuffle-dependent).

    Densification (round 8): the grid is the full cross product of
    OBSERVED priorities × statuses, with absent combinations COALESCEd
    to O = 0 — a (p, s) pair with zero orders still contributes its
    expected-count term R·C/N to the statistic, which the sparse
    groupBy silently dropped (understating chi2 exactly when a rare
    level like status 'P' makes zero cells likely).  dof is derived as
    (|priorities| − 1)·(|statuses| − 1) from the same observed sets,
    and the verdict threshold is a dof-indexed CASE over inlined
    critical values — no inverse CDF in either engine.

    Plan: one grouped count (map-side partials), two ≤15-row distinct
    sides joined via broadcast (never a shuffling cartesian), window
    row/column totals over the ≤15-cell dense relation, a 1-row fold.
    """
    # NULL category levels are MISSING data, not a level: the test
    # population excludes them (they are a completeness finding, and a
    # NULL level cannot equi-join back into the dense grid — its row
    # total would be 0 and the expected-count term divides by zero).
    # Empty-string levels ARE levels and stay.
    od = load_table(spark, sf_dir, "orders").where(
        "o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL"
    )
    cells = od.groupBy(
        F.col("o_orderpriority").alias("p"),
        F.col("o_orderstatus").alias("s"),
    ).agg(F.count(F.lit(1)).alias("o"))
    grid = cells.select("p").distinct().crossJoin(
        F.broadcast(cells.select("s").distinct())
    )
    dense = grid.join(F.broadcast(cells), ["p", "s"], "left").selectExpr(
        "p", "s", "COALESCE(o, CAST(0 AS BIGINT)) AS o"
    )
    totals = dense.selectExpr(
        "p",
        "s",
        "o",
        "SUM(o) OVER (PARTITION BY p) AS r",
        "SUM(o) OVER (PARTITION BY s) AS c",
        "SUM(o) OVER () AS n",
    )
    term = (
        "CAST(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
        " - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) AS DOUBLE)"
    )
    return (
        totals.selectExpr(
            "p",
            "s",
            "o",
            f"CAST(({term}) * ({term})"
            " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)"
            "    * CAST(c AS DOUBLE)) AS DECIMAL(28,9)) AS cell_chi2",
        )
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_cells"),
            F.expr("CAST(SUM(cell_chi2) AS DOUBLE)").alias("chi2"),
            F.expr(
                "CAST((COUNT(DISTINCT p) - 1) * (COUNT(DISTINCT s) - 1)"
                " AS BIGINT)"
            ).alias("dof"),
        )
        .selectExpr(
            "n_cells",
            "chi2",
            "dof",
            f"chi2 > ({_CHI2_CRIT_CASE}) AS dependent",
        )
    )


ORACLE_CHI2 = f"""
WITH cells AS (
  SELECT o_orderpriority AS p, o_orderstatus AS s, COUNT(*) AS o
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2),
dense AS (
  SELECT gp.p, gs.s, COALESCE(c.o, CAST(0 AS BIGINT)) AS o
  FROM (SELECT DISTINCT p FROM cells) gp
  CROSS JOIN (SELECT DISTINCT s FROM cells) gs
  LEFT JOIN cells c ON c.p = gp.p AND c.s = gs.s),
totals AS (
  SELECT p, s, o,
         SUM(o) OVER (PARTITION BY p) AS r,
         SUM(o) OVER (PARTITION BY s) AS c,
         SUM(o) OVER () AS n
  FROM dense),
terms AS (
  SELECT p, s,
         CAST(
           (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
           * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
              * CAST(c AS DOUBLE)) AS DECIMAL(28,9)) AS cell_chi2
  FROM totals),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(cell_chi2) AS DOUBLE) AS chi2,
         CAST((COUNT(DISTINCT p) - 1) * (COUNT(DISTINCT s) - 1)
              AS BIGINT) AS dof
  FROM terms)
SELECT n_cells, chi2, dof,
       chi2 > ({_CHI2_CRIT_CASE}) AS dependent
FROM agg
"""


# ---------------------------------------------------------------------------
# Market-basket affinity — support / confidence / lift on order baskets
# ---------------------------------------------------------------------------

#: minimum co-occurrence count for a reported pair
BASKET_MIN_SUPPORT = 2
#: pairs reported (top by support, total-order tiebreak)
BASKET_TOP_K = 20


def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: for part pairs bought
    together, support / confidence / lift (the Apriori first pass —
    all higher-order rules derive from these pair statistics).

    Plan: distinct (order, part) → self-join on the ORDER key (the
    shuffle is on l_orderkey; per-order fan-out is bounded by basket
    size, C(7,2) here — never all-pairs over parts) → pair counts →
    two broadcast-able marginal joins + a 1-row total. Doubles are
    single divisions of exact BIGINT counts. Top-{BASKET_TOP_K} by
    (support, part_a, part_b): total-order deterministic.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    tot = li.agg(
        F.countDistinct("l_orderkey").alias("__n_orders")
    )
    marg = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    a = li.selectExpr("l_orderkey", "l_partkey AS part_a")
    b = li.selectExpr("l_orderkey", "l_partkey AS part_b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= BASKET_MIN_SUPPORT)
    )
    return (
        pairs.join(
            marg.selectExpr("l_partkey AS part_a", "n_part AS n_a"),
            "part_a",
        )
        .join(
            marg.selectExpr("l_partkey AS part_b", "n_part AS n_b"),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "part_a",
            "part_b",
            "pair_support",
            "n_a",
            "n_b",
            "CAST(pair_support AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " AS confidence_a_b",
            "CAST(pair_support * __n_orders AS DOUBLE)"
            " / CAST(n_a * n_b AS DOUBLE) AS lift",
        )
        .orderBy(F.desc("pair_support"), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )


ORACLE_BASKET = f"""
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
marg AS (SELECT l_partkey, COUNT(*) AS n_part FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS pair_support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT})
SELECT part_a, part_b, pair_support,
       ma.n_part AS n_a, mb.n_part AS n_b,
       CAST(pair_support AS DOUBLE) / CAST(ma.n_part AS DOUBLE)
         AS confidence_a_b,
       CAST(pair_support * n_orders AS DOUBLE)
         / CAST(ma.n_part * mb.n_part AS DOUBLE) AS lift
FROM pairs
JOIN marg ma ON ma.l_partkey = part_a
JOIN marg mb ON mb.l_partkey = part_b
CROSS JOIN tot
ORDER BY pair_support DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


# ---------------------------------------------------------------------------
# Gini coefficient — revenue concentration via two-phase distributed rank
# ---------------------------------------------------------------------------

_GINI_BUCKETS = 1000


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality /
    concentration KPI (how much of the book the top customers carry).

    G = Σ (2·rank − n − 1)·r / (n · Σ r) over revenues sorted
    ascending. The global rank uses the SAME two-phase shape as
    orders_decile_stats: value-range buckets from a broadcast bounds
    row, per-bucket row_number (each window sorts one bucket, never
    the table), plus a ≤{_GINI_BUCKETS}-row offset stitch — no
    single-task global sort at any scale. Tie order cannot change the
    sum (equal r values commute through their rank block), and the
    (revenue, custkey) tiebreak makes ranks fully deterministic
    anyway. Revenue sums are exact DECIMAL; rank cross-products stay
    exact DECIMAL(38,6); the final G is one double division.
    """
    od = load_table(spark, sf_dir, "orders")
    rev = od.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(22,6)")).alias("r")
    )
    bounds = rev.agg(
        F.min("r").alias("__lo"),
        F.max("r").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    B = _GINI_BUCKETS
    b = rev.crossJoin(F.broadcast(bounds)).withColumn(
        "__bkt",
        F.least(
            F.lit(B - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("r") - F.col("__lo")).cast("double")
                    / F.greatest(
                        (F.col("__hi") - F.col("__lo")).cast("double")
                        / F.lit(float(B)),
                        F.lit(1e-12),
                    )
                ).cast("int"),
            ),
        ),
    )
    counts = b.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__bn"))
    w_off = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__bkt",
        F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = Window.partitionBy("__bkt").orderBy(
        F.asc("r"), F.asc("o_custkey")
    )
    ranked = b.join(F.broadcast(offsets), "__bkt").withColumn(
        "__rn", F.col("__off") + F.row_number().over(w_in)
    )
    return ranked.agg(
        F.expr("MAX(__n)").alias("n_customers"),
        F.expr("CAST(SUM(r) AS DOUBLE)").alias("total_revenue"),
        F.expr(
            "CAST(CAST(SUM((2 * __rn - __n - 1) * r) AS DOUBLE)"
            " / (CAST(MAX(__n) AS DOUBLE)"
            "    * CAST(SUM(r) AS DOUBLE)) AS DOUBLE)"
        ).alias("gini"),
    ).selectExpr(
        "CAST(n_customers AS BIGINT) AS n_customers",
        "total_revenue",
        "gini",
    )


#: every decimal→double crossing takes the VARCHAR hop (sql_dec2dbl):
#: DuckDB's direct cast drifts 1 ulp past ~15 significant digits —
#: wave 6's extra duplicate order pushed SUM(r) onto a drifting value
#: (…767.55 exact, …767.5499 direct) and total_revenue hash-diverged.
ORACLE_GINI = f"""
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS r
  FROM orders GROUP BY 1),
ranked AS (
  SELECT r, o_custkey,
         ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS rn,
         COUNT(*) OVER () AS n
  FROM rev)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       {sql_dec2dbl('SUM(r)')} AS total_revenue,
       CAST({sql_dec2dbl('SUM((2 * rn - n - 1) * r)')}
            / (CAST(MAX(n) AS DOUBLE) * {sql_dec2dbl('SUM(r)')})
            AS DOUBLE) AS gini
FROM ranked
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap — distributed confidence interval for the mean
# ---------------------------------------------------------------------------

#: number of bootstrap replicates
BOOT_B = 40
#: percentile-method ranks (1-based of BOOT_B sorted replicate means)
#: for a ~95% interval: lo = rank 2, hi = rank B-1
_BOOT_LO_RANK = 2
_BOOT_HI_RANK = BOOT_B - 1


def _poisson1_thresholds() -> list[int]:
    """Integer CDF cutoffs of Poisson(1) scaled to [0, P): a hash
    h < t[k] draws weight k (truncated at 6; the tail mass beyond is
    ~8e-5 and the truncation is identical in both engines). Computed
    once in Python and INLINED as literals, so cross-engine exactness
    never depends on either engine's exp()."""
    import math

    from ..operators import texthash as th

    cum, out, term = 0.0, [], math.exp(-1.0)
    for k in range(6):
        cum += term
        out.append(int(cum * th.P))
        term /= k + 1
    return out


def _boot_weight_case(hr: str) -> str:
    ts = _poisson1_thresholds()
    whens = " ".join(
        f"WHEN ({hr}) < {t} THEN {k}" for k, t in enumerate(ts)
    )
    return f"CASE {whens} ELSE 6 END"


def _boot_mix(h: str, dialect: str) -> str:
    """Avalanche a polyhash before the per-replicate affine transforms.

    Raw polyhashes of sequential decimal keys sit in arithmetic bands;
    an affine map preserves the banding, and a whole replicate can then
    land under (or over) one Poisson threshold — observed at sf0.001 as
    a replicate with ZERO total weight. Two xor-shift + LCG rounds
    (the sketch module's avalanche recipe, exact in both engines —
    inputs < 2^30 so products stay < 2^62) scatter the bands.
    """
    from ..operators import texthash as th

    def xs(e: str, s: int) -> str:
        if dialect == "spark":
            return f"(({e}) ^ shiftright(({e}), {s}))"
        return f"xor(({e}), (({e}) >> {s}))"

    g = xs(h, 17)
    g = f"((({g}) * 1103515245 + 12345) % {th.P})"
    g = xs(g, 13)
    return f"((({g}) * 69069 + 1) % {th.P})"


def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams") 95% CI for mean(o_totalprice).

    The bootstrap that actually runs on a cluster: instead of drawing
    B resamples (impossible — a resample of 100 TB is 100 TB), every
    row contributes a Poisson(1) multiplicity to each of B replicates
    in ONE scan; counts come from a deterministic per-(row, replicate)
    hash so the interval is rerun- and engine-stable. The shuffle
    carries B partial (Σw, Σw·x) pairs per map task — bytes, not rows.

    Exactness: weights are integer CASE ladders over integer hashes
    (Poisson CDF cutoffs inlined as Python-computed literals);
    replicate sums are exact DECIMAL; each replicate mean is one
    double division; the CI picks ranked replicate means by
    row_number — no engine quantile interpolation anywhere.
    """
    from ..operators import texthash as th

    od = load_table(spark, sf_dir, "orders")
    h0 = _boot_mix(
        th.polyhash("concat('boot', CAST(o_orderkey AS STRING))", "spark"),
        "spark",
    )
    hr = f"((((r + 1) * {th._A0}) % {th.P}) * h0 + r) % {th.P}"
    reps = (
        od.selectExpr(f"{h0} AS h0", "o_totalprice")
        .selectExpr(
            # BIGINT replicate ids: (r+1)*A0 overflows INT32 under ANSI
            f"explode(sequence(CAST(0 AS BIGINT), {BOOT_B - 1})) AS r",
            "h0",
            "o_totalprice",
        )
        .selectExpr(
            "r",
            f"{_boot_weight_case(hr)} AS m",
            "CAST(o_totalprice AS DECIMAL(22,6)) AS x",
        )
        .groupBy("r")
        .agg(
            F.expr("SUM(m)").alias("n_r"),
            F.expr("SUM(m * x)").alias("s_r"),
        )
        .selectExpr(
            "r", "CAST(s_r AS DOUBLE) / CAST(n_r AS DOUBLE) AS mean_r"
        )
    )
    # unpartitioned window over exactly BOOT_B rows (the replicate
    # means) — bounded by construction at any corpus size
    ranked = reps.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_r", "r"))
    )
    ci = ranked.agg(
        F.expr(
            f"MAX(CASE WHEN rk = {_BOOT_LO_RANK} THEN mean_r END)"
        ).alias("ci_lo"),
        F.expr(
            f"MAX(CASE WHEN rk = {_BOOT_HI_RANK} THEN mean_r END)"
        ).alias("ci_hi"),
    )
    point = od.agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)"
        ).alias("point_mean")
    )
    return point.crossJoin(F.broadcast(ci)).selectExpr(
        f"CAST({BOOT_B} AS BIGINT) AS n_replicates",
        "point_mean",
        "ci_lo",
        "ci_hi",
    )


def _oracle_bootstrap() -> str:
    from ..operators import texthash as th

    h0 = _boot_mix(
        th.polyhash("concat('boot', CAST(o_orderkey AS VARCHAR))", "duck"),
        "duck",
    )
    hr = f"((((r + 1) * {th._A0}) % {th.P}) * h0 + r) % {th.P}"
    return f"""
WITH hashed AS MATERIALIZED (
  SELECT {h0} AS h0,
         CAST(o_totalprice AS DECIMAL(22,6)) AS x
  FROM orders),
reps AS (
  SELECT r, SUM({_boot_weight_case(hr)}) AS n_r,
         SUM({_boot_weight_case(hr)} * x) AS s_r
  FROM hashed, (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS r)
  GROUP BY r),
means AS (
  -- VARCHAR hop (sql_dec2dbl): s_r is a 19-digit decimal at the
  -- adversarial magnitudes and DuckDB's direct cast drifts (wave 6)
  SELECT r, {sql_dec2dbl('s_r')} / CAST(n_r AS DOUBLE) AS mean_r
  FROM reps),
ranked AS (
  SELECT mean_r, ROW_NUMBER() OVER (ORDER BY mean_r, r) AS rk
  FROM means),
ci AS (
  SELECT MAX(CASE WHEN rk = {_BOOT_LO_RANK} THEN mean_r END) AS ci_lo,
         MAX(CASE WHEN rk = {_BOOT_HI_RANK} THEN mean_r END) AS ci_hi
  FROM ranked),
pt AS (
  SELECT {sql_dec2dbl('SUM(CAST(o_totalprice AS DECIMAL(22,6)))')}
           / CAST(COUNT(*) AS DOUBLE) AS point_mean
  FROM orders)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
       point_mean, ci_lo, ci_hi
FROM pt, ci
"""


ORACLE_BOOTSTRAP = _oracle_bootstrap()


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in [
        QuerySpec("events_key_skew_stats", events_key_skew_stats,
                  ORACLE_KEY_SKEW,
                  "join-key skew pre-flight: top-k mass, max/mean ratio"),
        QuerySpec("orders_decile_stats", orders_decile_stats,
                  ORACLE_DECILES,
                  "ntile(10) price deciles per priority, unique tiebreak"),
        QuerySpec("dq_benford_totalprice", dq_benford_totalprice,
                  ORACLE_BENFORD,
                  "Benford first-digit screen with chi-square contribs"),
        QuerySpec("orders_unpivot_metrics", orders_unpivot_metrics,
                  ORACLE_UNPIVOT,
                  "wide->long unpivot of a per-status metric matrix"),
        QuerySpec("customer_order_distribution", customer_order_distribution,
                  ORACLE_ORDER_DISTRIBUTION,
                  "orders-per-customer histogram incl. zero (Q13 shape)"),
        QuerySpec("nation_market_share", nation_market_share,
                  ORACLE_MARKET_SHARE,
                  "yearly CHINA share of ASIA revenue (Q8 shape)"),
        QuerySpec("returned_items_top_customers", returned_items_top_customers,
                  ORACLE_RETURNED_TOP,
                  "top-20 customers by returned revenue (Q10 shape)"),
        QuerySpec("lineitem_stats_moments", lineitem_stats_moments,
                  ORACLE_MOMENTS,
                  "mean/stddev/corr from exact decimal component sums"),
        QuerySpec("orders_price_quantiles", orders_price_quantiles,
                  ORACLE_QUANTILES,
                  "exact interpolated p25/p50/p90 per priority, distributed"),
        QuerySpec("orders_hash_sample", orders_hash_sample,
                  ORACLE_HASH_SAMPLE,
                  "md5-prefix deterministic 1/16 sample + sample stats"),
        QuerySpec("stats_bootstrap_ci", stats_bootstrap_ci,
                  ORACLE_BOOTSTRAP,
                  "Poisson-bootstrap 95% CI for the mean: B=40 "
                  "replicates in one scan, hash-deterministic weights"),
        QuerySpec("basket_part_affinity", basket_part_affinity,
                  ORACLE_BASKET,
                  "market-basket support/confidence/lift: order-keyed "
                  "self-join, bounded basket fan-out"),
        QuerySpec("customer_revenue_gini", customer_revenue_gini,
                  ORACLE_GINI,
                  "Gini of customer revenue via two-phase distributed "
                  "rank (no global sort), exact decimal cross-products"),
        QuerySpec("orders_cohort_ltv", orders_cohort_ltv,
                  ORACLE_COHORT_LTV,
                  "first-order-month cohort x month LTV matrix "
                  "(co-partitioned cohort join, exact money sums)"),
        QuerySpec("dq_runs_test", dq_runs_test,
                  ORACLE_RUNS_TEST,
                  "Wald-Wolfowitz runs test on daily volume deltas "
                  "(integer runs/signs, one rounded sqrt)"),
        QuerySpec("dq_chi2_independence", dq_chi2_independence,
                  ORACLE_CHI2,
                  "Pearson chi-squared independence of priority x "
                  "status (decimal-rounded cell terms, inlined "
                  "critical value)"),
    ]
}
