"""Window-frame / ranking / set-op / as-of query pack.

SURVEY.md §2.5 noted the reference never writes explicit window frames,
INTERSECT/EXCEPT, or CUBE — "they come free in Spark SQL if a model
uses them". This module makes each of those a covered, oracle-checked
operator instead of a claim, and adds the two time-series join shapes a
training-data pipeline needs that Spark has no single operator for:

- **as-of join** (last-touch attribution): implemented the scalable way
  — a single shuffle on the partition key plus a running window — not a
  quadratic inequality self-join. At 100 TB the window approach is one
  sort per user-partition; the naive `e2.ts <= e1.ts` join is O(events²
  / users) and unrunnable.
- **range/band join**: fact column joined into an interval dimension.
  The dim is tiny and broadcast, so the non-equi condition costs a
  BroadcastNestedLoopJoin over a 5-row build side — constant work per
  fact row, no shuffle.

Determinism: every window is ordered by a unique total order (ts or
key, then the unique id) with an explicit ROWS frame, so Spark and
DuckDB agree row-for-row; money math uses the decimal-exact
``money_sum`` idiom from ``spec.py``; rank outputs are cast to BIGINT
(Spark's int vs DuckDB's bigint would otherwise diverge at the schema
gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from .spec import QuerySpec, money_sum, sql_money_sum


# ---------------------------------------------------------------------------
# running totals + lag: per-customer order history (explicit ROWS frame).
# The custkey slice keeps the spec's output review-sized at any SF; the
# window itself is per-customer and scales linearly with one shuffle.
# ---------------------------------------------------------------------------

CUST_SLICE = 101  # o_custkey % CUST_SLICE == 0 → ~1% of customers


def customer_orders_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % CUST_SLICE == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orderdate = F.col("o_orderdate").cast("date")
    return od.select(
        "o_custkey",
        "o_orderkey",
        orderdate.alias("orderdate"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(22,6)"))
        .over(wrows)
        .cast("double")
        .alias("running_spend"),
        F.datediff(orderdate, F.lag(orderdate).over(w))
        .cast("bigint")
        .alias("days_since_prev"),
    )


ORACLE_RUNNING = f"""
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(22,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) AS running_spend,
       CAST(DATE_DIFF('day',
            LAG(CAST(o_orderdate AS DATE)) OVER w,
            CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
FROM orders
WHERE o_custkey % {CUST_SLICE} = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# moving aggregate: 7-day moving average / max of daily revenue.
# The unpartitioned window runs over the ~daily-grain AGGREGATE (2.4k
# rows for 6.5 years), not the fact table — a deliberate two-stage plan:
# shuffle-agg first, then a single-partition window over tiny data.
# ---------------------------------------------------------------------------

def orders_daily_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # undated orders belong to no day of the sequential window
    od = load_table(spark, sf_dir, "orders").where("o_orderdate IS NOT NULL")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(22,6)")).alias("rev_dec"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        F.col("rev_dec").cast("double").alias("daily_revenue"),
        "n_orders",
        (
            F.sum("rev_dec").over(w7).cast("double")
            / F.count(F.lit(1)).over(w7)
        ).alias("ma7_revenue"),
        F.max("rev_dec").over(w7).cast("double").alias("max7_revenue"),
    )


ORACLE_MOVING = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(22,6))) AS rev_dec,
         COUNT(*) AS n_orders
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
)
SELECT day,
       CAST(rev_dec AS DOUBLE) AS daily_revenue,
       n_orders,
       CAST(SUM(rev_dec) OVER w7 AS DOUBLE) / COUNT(*) OVER w7 AS ma7_revenue,
       CAST(MAX(rev_dec) OVER w7 AS DOUBLE) AS max7_revenue
FROM daily
WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# ranking pack: dense_rank / percent_rank / ntile within nation, top-5
# customers per nation by revenue. Rank functions need a total order —
# revenue ties broken by custkey — or the two engines may disagree.
# ---------------------------------------------------------------------------

def nation_customer_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = od.groupBy("o_custkey").agg(
        money_sum(F.col("o_totalprice"), "revenue")
    )
    base = per_cust.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_nationkey").orderBy(
        F.desc("revenue"), F.asc("c_custkey")
    )
    return (
        base.select(
            F.col("n_name").alias("nation"),
            "c_custkey",
            "revenue",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.dense_rank().over(w).cast("bigint").alias("drank"),
            F.percent_rank().over(w).alias("prank"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .filter(F.col("rn") <= 5)
    )


ORACLE_RANK = f"""
WITH per_cust AS (
  SELECT o_custkey, {sql_money_sum("o_totalprice", "revenue")}
  FROM orders GROUP BY o_custkey
), base AS (
  SELECT n_name AS nation, n_nationkey, c_custkey, revenue
  FROM per_cust
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
SELECT nation, c_custkey, revenue,
       CAST(ROW_NUMBER()   OVER w AS BIGINT) AS rn,
       CAST(DENSE_RANK()   OVER w AS BIGINT) AS drank,
       PERCENT_RANK()      OVER w            AS prank,
       CAST(NTILE(4)       OVER w AS BIGINT) AS quartile
FROM base
WINDOW w AS (PARTITION BY n_nationkey ORDER BY revenue DESC, c_custkey ASC)
QUALIFY rn <= 5
"""


# ---------------------------------------------------------------------------
# set operations: INTERSECT / EXCEPT between two distinct brand sets.
# Spark's intersect()/exceptAll() are distinct-input set ops here, so
# they match ANSI INTERSECT / EXCEPT exactly.
# ---------------------------------------------------------------------------

def part_brand_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    large = part.filter(F.col("p_size") >= 45).select("p_brand").distinct()
    promo = part.filter(F.col("p_type") == "PROMO").select("p_brand").distinct()
    tag = lambda df, m: df.select(  # noqa: E731
        F.col("p_brand"), F.lit(m).alias("membership")
    )
    return (
        tag(large.intersect(promo), "both")
        .unionAll(tag(large.exceptAll(promo), "large_only"))
        .unionAll(tag(promo.exceptAll(large), "promo_only"))
    )


ORACLE_SET_OPS = """
WITH large AS (SELECT DISTINCT p_brand FROM part WHERE p_size >= 45),
     promo AS (SELECT DISTINCT p_brand FROM part WHERE p_type = 'PROMO')
SELECT p_brand, 'both' AS membership
  FROM (SELECT p_brand FROM large INTERSECT SELECT p_brand FROM promo)
UNION ALL
SELECT p_brand, 'large_only'
  FROM (SELECT p_brand FROM large EXCEPT SELECT p_brand FROM promo)
UNION ALL
SELECT p_brand, 'promo_only'
  FROM (SELECT p_brand FROM promo EXCEPT SELECT p_brand FROM large)
"""


# ---------------------------------------------------------------------------
# CUBE: all 2^2 grouping sets over (event_type, user cohort) — completes
# the grouping-sets family next to the pivot and rollup specs.
# ---------------------------------------------------------------------------

def events_cube_type_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the () grouping set is split out as a global aggregate: standard
    # SQL emits the grand-total row even over EMPTY input, Spark's
    # cube returns zero rows there (wave 7 empty-corpus gate; same fix
    # as orders_rollup_status_priority). Non-empty results unchanged.
    # ONE base scan: the (type, cohort) grain keeps its DECIMAL sum,
    # and coarser groupings re-aggregate it losslessly (counts add;
    # decimal sums add exactly; the double cast happens once per
    # output row) — cheaper at scale than Expand-based cube, which
    # multiplies shuffle rows 4x.
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", (F.col("user_id") % 4).cast("bigint")
    )
    g = ev.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,6)")).alias("dv"),
    )
    null_s = F.lit(None).cast("string")
    null_b = F.lit(None).cast("bigint")

    def fin(df, etype, coh):
        return df.select(
            etype.alias("event_type"), coh.alias("cohort"),
            "n_events", F.col("dv").cast("double").alias("total_value"),
        )

    reagg = [F.sum("n_events").alias("n_events"), F.sum("dv").alias("dv")]
    total = g.agg(
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("n_events"),
        F.sum("dv").alias("dv"),
    )
    return (
        fin(g, F.col("event_type"), F.col("cohort"))
        .unionByName(fin(g.groupBy("event_type").agg(*reagg),
                         F.col("event_type"), null_b))
        .unionByName(fin(g.groupBy("cohort").agg(*reagg),
                         null_s, F.col("cohort")))
        .unionByName(fin(total, null_s, null_b))
    )


ORACLE_CUBE = f"""
SELECT event_type, user_id % 4 AS cohort,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "total_value")}
FROM events
GROUP BY CUBE (event_type, user_id % 4)
"""


# ---------------------------------------------------------------------------
# as-of join (last-touch attribution): for every purchase event, the
# most recent earlier non-purchase event by the same user. One window
# over (user_id, ts, event_id) — monotone ts within the frame means
# MAX(touch_ts) over preceding rows IS the as-of match; no IGNORE NULLS
# or quadratic self-join needed. Timestamps leave as epoch-micros
# BIGINTs (the events parquet is nanosecond-precision; micros is the
# common grain both engines read exactly).
# ---------------------------------------------------------------------------

def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    touch_us = F.when(F.col("event_type") != "purchase", us)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            us.alias("purchase_us"),
            F.max(touch_us).over(w).alias("last_touch_us"),
            F.count(touch_us).over(w).cast("bigint").alias("n_prior_touches"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "purchase_us",
            "last_touch_us",
            (F.col("purchase_us") - F.col("last_touch_us")).alias("gap_us"),
            "n_prior_touches",
        )
    )


ORACLE_ASOF = """
WITH scored AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) AS purchase_us,
         MAX(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END)
           OVER w AS last_touch_us,
         CAST(COUNT(CASE WHEN event_type <> 'purchase' THEN 1 END)
           OVER w AS BIGINT) AS n_prior_touches
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, purchase_us, last_touch_us,
       purchase_us - last_touch_us AS gap_us,
       n_prior_touches
FROM scored
WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# range/band join: events.value joined into a literal interval dim.
# Non-equi join on a broadcast 5-row build side — the scalable shape for
# banding/bucketing dimensions (rate tables, SLA tiers, histograms with
# irregular edges).
# ---------------------------------------------------------------------------

VALUE_BANDS: tuple[tuple[str, float, float], ...] = (
    ("micro", 0.0, 10.0),
    ("small", 10.0, 25.0),
    ("mid", 25.0, 50.0),
    ("large", 50.0, 100.0),
    ("whale", 100.0, 1000.0),
)


def events_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        list(VALUE_BANDS), schema="band string, lo double, hi double"
    )
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), "total_value"),
        )
    )


_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{b}' AS band, CAST({lo} AS DOUBLE) AS lo, CAST({hi} AS DOUBLE) AS hi"
    for b, lo, hi in VALUE_BANDS
)

ORACLE_BAND_JOIN = f"""
WITH bands AS ({_BANDS_SQL})
SELECT band,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "total_value")}
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


# ---------------------------------------------------------------------------
# big-big interval join: every purchase joined to the same user's
# clicks in the preceding hour. Neither side is broadcastable at
# scale, and the raw predicate (`c.ts in [p.ts - W, p.ts)`) is a theta
# join Spark would execute as a cartesian per user. The scale shape is
# BANDING: quantize time into W-sized buckets, explode the probe side
# into the (only) 2 buckets its window can overlap, and equi-join on
# (user_id, bucket) + exact residual filter. Shuffle is hash(user_id,
# bucket) — fully parallel, per-task work bounded by events-per-user-
# per-window, and a hot user spreads over time buckets instead of one
# task. This is the standard stream-stream interval-join layout
# (Flink's interval join / Spark's stream-stream time-bound join
# realize the same banding through watermarked state).
# ---------------------------------------------------------------------------

#: interval width W in micros (1 hour). Micros because the events
#: parquet is ns-precision and epoch-micros is the exact common grain.
INTERVAL_W_US = 3600 * 1_000_000


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        us.alias("purchase_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        us.alias("click_us"), F.col("value").alias("click_value"),
    )
    wus = INTERVAL_W_US
    probe = purchases.withColumn(
        "bkt",
        F.explode(
            F.expr(
                f"array_distinct(array((purchase_us - {wus}) DIV {wus},"
                f" purchase_us DIV {wus}))"
            )
        ),
    )
    build = clicks.withColumn("bkt", F.expr(f"click_us DIV {wus}"))
    joined = probe.join(
        build,
        (F.col("user_id") == F.col("c_user"))
        & (probe.bkt == build.bkt)
        & (F.col("click_us") >= F.col("purchase_us") - wus)
        & (F.col("click_us") < F.col("purchase_us")),
        "left",
    )
    return joined.groupBy("user_id", "purchase_id", "purchase_us").agg(
        F.count("click_id").alias("n_clicks_1h"),
        F.max("click_us").alias("last_click_us"),
        money_sum(F.col("click_value"), "clicks_value"),
    )


ORACLE_INTERVAL_JOIN = f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us,
         value AS click_value
  FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_id, p.purchase_us,
       COUNT(c.click_id) AS n_clicks_1h,
       MAX(c.click_us) AS last_click_us,
       {sql_money_sum("c.click_value", "clicks_value")}
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.click_us >= p.purchase_us - {INTERVAL_W_US}
 AND c.click_us < p.purchase_us
GROUP BY p.user_id, p.purchase_id, p.purchase_us
"""


# ---------------------------------------------------------------------------
# cohort retention: users bucketed by first-activity week, then
# distinct-user counts per (cohort week, weeks-since-first). Two
# shuffles — per-user MIN (first activity) and the cohort-cell
# distinct count; the user⋈first-activity join is co-partitioned with
# the preceding aggregate so AQE keeps it local. The classic
# product-analytics matrix, and a shape the reference's daily-fecha
# slicing cannot express without a self-join.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# rollup cascade — continuous-aggregate / hypertable-rollup shape:
# hour -> day -> month, each grain AGGREGATED FROM THE PREVIOUS ONE
# (never re-scanning the fact table), exact decimal sums carried
# through every level and cast to double only at the edge.
# ---------------------------------------------------------------------------

def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour/day/month event rollups derived from one hourly aggregate.

    The continuous-aggregate discipline: the fact table is aggregated
    ONCE at hourly grain; day and month come from GROUPING SETS over
    that hourly relation (Expand ×3 of ~hours rows — trivial), so a
    single fact scan is guaranteed *structurally*. A union of
    hour/day-of-hour/month-of-day branches leaves scan dedup to
    physical exchange reuse, which is best-effort (measured: one
    branch re-scanned). At 100 TB the hourly relation is what you
    materialize and incrementally refresh. Counts and DECIMAL sums are
    exactly re-aggregable (doubles would drift with re-summation
    order — spec.py rules), so every level is bit-identical to direct
    aggregation of the facts.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).alias("dec"),
        )
        .selectExpr(
            "h",
            "date_trunc('day', h) AS d",
            "date_trunc('month', h) AS m",
            "n_events",
            "dec",
        )
    )
    view = "__cascade_hour"
    hour.createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT CASE grouping_id(h, d, m) WHEN 3 THEN 'hour'
                    WHEN 5 THEN 'day' ELSE 'month' END AS grain,
               date_format(coalesce(h, d, m), 'yyyy-MM-dd HH:mm') AS bucket,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(SUM(dec) AS DOUBLE) AS total_value
        FROM {view}
        GROUP BY GROUPING SETS ((h), (d), (m))
    """)


ORACLE_ROLLUP_CASCADE = """
WITH hour AS (
  SELECT date_trunc('hour', ts) AS b, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(22,6))) AS dec
  FROM events GROUP BY 1),
day AS (
  SELECT date_trunc('day', b) AS b,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(dec) AS dec
  FROM hour GROUP BY 1),
month AS (
  SELECT date_trunc('month', b) AS b,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(dec) AS dec
  FROM day GROUP BY 1)
SELECT 'hour' AS grain, strftime(b, '%Y-%m-%d %H:%M') AS bucket,
       n_events, CAST(dec AS DOUBLE) AS total_value FROM hour
UNION ALL
SELECT 'day', strftime(b, '%Y-%m-%d %H:%M'), n_events,
       CAST(dec AS DOUBLE) FROM day
UNION ALL
SELECT 'month', strftime(b, '%Y-%m-%d %H:%M'), n_events,
       CAST(dec AS DOUBLE) FROM month
"""


def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_d"))
            .cast("date")
            .cast("string")
            .alias("cohort_week"),
            F.floor(F.datediff(F.col("d"), F.col("first_d")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


ORACLE_RETENTION = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
first AS (SELECT user_id, MIN(d) AS first_d FROM ev GROUP BY user_id)
SELECT CAST(CAST(date_trunc('week', first_d) AS DATE) AS VARCHAR)
         AS cohort_week,
       CAST(floor(date_diff('day', first_d, d) / 7.0) AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT ev.user_id) AS active_users
FROM ev JOIN first ON ev.user_id = first.user_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# sequential funnel — ordered-steps conversion (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

#: ordered funnel steps over events.event_type, and the step deadline:
#: a step converts only within FUNNEL_DEADLINE_H hours of the previous
#: step (without a deadline every ~66-event user trivially completes)
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_DEADLINE_H = 24


def events_sequential_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: view -> click -> purchase, in time.

    Unlike the daily funnel (pure counts), each step only counts if it
    happens STRICTLY AFTER the user's first occurrence of the previous
    step — the sequential-pattern semantics of SQL MATCH_RECOGNIZE /
    funnel tools, built from composable pieces Spark has: three
    conditional ``min`` aggregations over one per-user partition.
    t1 = first view; t2 = first click within the deadline after t1;
    t3 = first purchase within the deadline after t2. Output: users
    reaching each step and the step-over-step conversion ratio.

    Shape (100 TB): ONE shuffle on user_id; the three stage minima are
    consecutive window aggregates over the same partition (Spark reuses
    the sort), then a per-user 1-row distinct and a tiny final
    aggregate. No self-joins — the naive "events e1 JOIN events e2 ON
    same user AND later ts" formulation is O(events²/user) and
    unrunnable at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    byu = Window.partitionBy("user_id")
    s1, s2, s3 = FUNNEL_STEPS
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(
                byu
            ),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == s2)
                    & (F.col("ts") > F.col("t1"))
                    & (
                        F.col("ts")
                        <= F.col("t1")
                        + F.expr(f"INTERVAL {FUNNEL_DEADLINE_H} HOURS")
                    ),
                    F.col("ts"),
                )
            ).over(byu),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == s3)
                    & (F.col("ts") > F.col("t2"))
                    & (
                        F.col("ts")
                        <= F.col("t2")
                        + F.expr(f"INTERVAL {FUNNEL_DEADLINE_H} HOURS")
                    ),
                    F.col("ts"),
                )
            ).over(byu),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("t1").isNotNull().cast("long")).alias("r1"),
        F.max(F.col("t2").isNotNull().cast("long")).alias("r2"),
        F.max(F.col("t3").isNotNull().cast("long")).alias("r3"),
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("r1").alias("u1"),
        F.sum("r2").alias("u2"),
        F.sum("r3").alias("u3"),
    )
    steps = ", ".join(
        f"struct('{i + 1}:{s}' AS step, u{i + 1} AS users_reached,"
        f" CAST(u{i + 1} AS DOUBLE) / CAST("
        + ("n_users" if i == 0 else f"u{i}")
        + " AS DOUBLE) AS conversion)"
        for i, s in enumerate(FUNNEL_STEPS)
    )
    return totals.selectExpr(
        f"explode(array({steps})) AS st"
    ).select("st.step", "st.users_reached", "st.conversion")


ORACLE_SEQ_FUNNEL = f"""
WITH t1s AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
t2s AS (
  SELECT *, MIN(CASE WHEN event_type = '{FUNNEL_STEPS[1]}' AND ts > t1
                       AND ts <= t1 + INTERVAL {FUNNEL_DEADLINE_H} HOUR
                     THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM t1s),
t3s AS (
  SELECT *, MIN(CASE WHEN event_type = '{FUNNEL_STEPS[2]}' AND ts > t2
                       AND ts <= t2 + INTERVAL {FUNNEL_DEADLINE_H} HOUR
                     THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM t2s),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
         MAX(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS r2,
         MAX(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS r3
  FROM t3s GROUP BY user_id),
totals AS (
  SELECT COUNT(*) AS n_users, SUM(r1) AS u1, SUM(r2) AS u2, SUM(r3) AS u3
  FROM per_user)
SELECT '1:{FUNNEL_STEPS[0]}' AS step, CAST(u1 AS BIGINT) AS users_reached,
       CAST(u1 AS DOUBLE) / CAST(n_users AS DOUBLE) AS conversion
FROM totals
UNION ALL
SELECT '2:{FUNNEL_STEPS[1]}', CAST(u2 AS BIGINT),
       CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE) FROM totals
UNION ALL
SELECT '3:{FUNNEL_STEPS[2]}', CAST(u3 AS BIGINT),
       CAST(u3 AS DOUBLE) / CAST(u2 AS DOUBLE) FROM totals
"""


# ---------------------------------------------------------------------------
# behavioral transition matrix — first-order Markov over event streams
# ---------------------------------------------------------------------------

def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types.

    Per user, events ordered by (ts, event_id) — the unique total
    order every window in this module uses — and each consecutive
    (prev_type -> type) pair counts as one transition; output is the
    transition matrix with row-normalized probabilities (decimal-free:
    the ratio of two exact BIGINT counts in one final projection).

    Shape (100 TB): one shuffle on user_id for the lag window, then a
    25-row aggregate. The per-user sort is bounded by per-user event
    counts; a power-user hot partition would range-partition on
    (user_id, month) and stitch boundaries — documented, not needed at
    test SF.
    """
    # timeless rows (NULL ts) have no place in a per-user order —
    # and the engines disagree on NULL placement in ORDER BY defaults
    ev = load_table(spark, sf_dir, "events").where("ts IS NOT NULL")
    byu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(byu))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        F.col("event_type").alias("next_type"),
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(row_tot).cast("double")
        ).alias("p"),
    )


ORACLE_TRANSITION_MATRIX = """
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events WHERE ts IS NOT NULL),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
FROM trans
"""


SPECS: dict[str, QuerySpec] = {
    s.name: s
    for s in [
        QuerySpec("events_rollup_cascade", events_rollup_cascade,
                  ORACLE_ROLLUP_CASCADE,
                  "hour->day->month continuous-aggregate cascade, "
                  "exact decimal re-aggregation"),
        QuerySpec("events_weekly_retention", events_weekly_retention,
                  ORACLE_RETENTION,
                  "cohort retention matrix: first-week x week-offset"),
        QuerySpec("customer_orders_running", customer_orders_running,
                  ORACLE_RUNNING,
                  "running sum + row_number + lag with explicit ROWS frame"),
        QuerySpec("orders_daily_moving_stats", orders_daily_moving_stats,
                  ORACLE_MOVING,
                  "7-day moving avg/max over daily aggregate"),
        QuerySpec("nation_customer_rank", nation_customer_rank,
                  ORACLE_RANK,
                  "dense_rank/percent_rank/ntile top-5 per nation"),
        QuerySpec("part_brand_set_ops", part_brand_set_ops,
                  ORACLE_SET_OPS, "INTERSECT / EXCEPT with membership tags"),
        QuerySpec("events_cube_type_cohort", events_cube_type_cohort,
                  ORACLE_CUBE, "CUBE grouping sets over type x cohort"),
        QuerySpec("events_asof_attribution", events_asof_attribution,
                  ORACLE_ASOF,
                  "as-of join (last-touch attribution) via running window"),
        QuerySpec("events_value_band_join", events_value_band_join,
                  ORACLE_BAND_JOIN,
                  "range/band join against broadcast interval dim"),
        QuerySpec("events_interval_join", events_interval_join,
                  ORACLE_INTERVAL_JOIN,
                  "big-big time-interval join via W-bucket banding "
                  "(purchases x same-user clicks in preceding hour)"),
        QuerySpec("events_sequential_funnel", events_sequential_funnel,
                  ORACLE_SEQ_FUNNEL,
                  "ordered-steps conversion funnel (MATCH_RECOGNIZE-"
                  "lite): staged conditional minima over one user "
                  "partition"),
        QuerySpec("events_transition_matrix", events_transition_matrix,
                  ORACLE_TRANSITION_MATRIX,
                  "first-order Markov transition matrix over per-user "
                  "event streams"),
    ]
}
