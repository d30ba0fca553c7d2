"""Extended relational surface — beyond reference parity.

The reference has none of these (SURVEY §2.8 enumerates the absent
categories); they complete the engine's SQL surface as stock Catalyst
constructs: window functions (ranking, running frames), semi/anti/outer
joins, distinct aggregation, rollup, HAVING, CTEs + scalar subqueries,
set operations, pivot, JSON extraction, sessionization, tumbling windows.

Scale notes (100 TB): every query here keeps the big-table side
shuffle-minimal — dims broadcast, aggregations partial-before-exchange,
windows partitioned by high-cardinality keys (never a global
unpartitioned window over the fact table; the only ORDER-BY-all window
is over an already-aggregated monthly frame of a few hundred rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.functions.numeric import as_scaled_long
from etl_example_spark.plans.registry import register
from etl_example_spark.sources.loaders import load_table


@register(
    "q7_window_topk_per_group",
    "Top-3 suppliers per nation by account balance — ranking window "
    "(row_number over partitioned desc order). The canonical 'top-k per "
    "group' pattern: no global sort, one shuffle on the partition key.",
    oracle="""
        SELECT n_name AS nation, s_name AS supplier, s_acctbal, rk
        FROM (
            SELECT n_name, s_name, s_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY n_name
                       ORDER BY s_acctbal DESC, s_suppkey
                   ) AS rk
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
        WHERE rk <= 3
        ORDER BY nation, rk
    """,
)
def q7_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("n_name").alias("nation"),
            F.col("s_name").alias("supplier"),
            "s_acctbal",
            "rk",
        )
        .orderBy("nation", "rk")
    )


@register(
    "q8_window_running_total",
    "Monthly revenue + running cumulative total — analytic window with a "
    "running frame over a pre-aggregated (tiny) monthly series. The "
    "unpartitioned ORDER BY window is safe *because* it runs after "
    "aggregation: a few hundred rows, not the fact table. NULL order "
    "dates are dropped at the series boundary (the event-time "
    "contract): a dateless order has no month, and DuckDB v1.0.0's "
    "NULL-date placement under ORDER BY is PLAN-dependent (full sort "
    "-> nulls first, Top-N -> nulls last, measured), so a NULL month "
    "in the running frame makes the oracle itself unstable.",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS mes,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders
            WHERE o_orderdate IS NOT NULL
            GROUP BY mes
        )
        SELECT mes,
               CAST(cents AS DOUBLE) / 100 AS monthly_total,
               CAST(SUM(cents) OVER (
                   ORDER BY mes ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS DOUBLE) / 100 AS running_total
        FROM monthly
        ORDER BY mes
    """,
)
def q8_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mes")
    ).agg(F.sum(as_scaled_long("o_totalprice")).alias("cents"))
    w = Window.orderBy("mes").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "mes",
        (F.col("cents").cast("double") / 100).alias("monthly_total"),
        (F.sum("cents").over(w).cast("double") / 100).alias("running_total"),
    ).orderBy("mes")


@register(
    "q9_semi_join",
    "Customers with at least one URGENT-priority order — left-semi join "
    "(SQL EXISTS). Semi joins ship only the join key of the probe side; "
    "at scale the orders side is pre-filtered before the shuffle.",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
    """,
)
def q9_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_semi"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q10_anti_join",
    "Customers with no URGENT-priority order — left-anti join (SQL NOT "
    "EXISTS). The dual of q9; anti joins are how dedup-against-reference "
    "and incremental-load dedup are expressed at scale.",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
    """,
)
def q10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "q11_outer_join_agg",
    "Per-customer order count and lifetime value including order-less "
    "customers — left outer join + aggregate with NULL→0 normalization.",
    oracle="""
        SELECT c_custkey,
               COUNT(o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0)
                    AS DOUBLE) / 100 AS lifetime_value
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
        ORDER BY c_custkey
    """,
)
def q11_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.coalesce(
                    F.sum(as_scaled_long("o_totalprice")), F.lit(0)
                ).cast("double")
                / 100
            ).alias("lifetime_value"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q12_distinct_agg",
    "Distinct aggregation: unique customers and order counts per order "
    "status. COUNT(DISTINCT) expands to a two-phase aggregate in Catalyst "
    "(partial distinct per partition, then global) — no driver collection.",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def q12_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q13_rollup",
    "Hierarchical totals: customer counts by region → nation with ROLLUP "
    "(subtotals + grand total). Grouping-set expansion happens before the "
    "exchange, so the shuffle carries one row per (set, group), not a "
    "multiple of the input.",
    oracle="""
        SELECT r_name, n_name, COUNT(c_custkey) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def q13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


@register(
    "q14_having",
    "Aggregate filter: part brands carried by more than 40 parts, with "
    "average retail price — GROUP BY … HAVING (post-aggregation filter).",
    oracle="""
        SELECT p_brand, COUNT(*) AS n_parts,
               CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS DOUBLE)
                   / 100 / COUNT(*) AS avg_price
        FROM part
        GROUP BY p_brand
        HAVING COUNT(*) > 40
        ORDER BY p_brand
    """,
)
def q14_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            (
                F.sum(as_scaled_long("p_retailprice")).cast("double")
                / 100
                / F.count("*")
            ).alias("avg_price"),
        )
        .filter(F.col("n_parts") > 40)
        .orderBy("p_brand")
    )


@register(
    "q15_cte_subquery",
    "Nations with above-average customer counts — CTE + scalar subquery. "
    "The scalar aggregate broadcasts as a literal into the filter; no "
    "per-row subquery execution.",
    oracle="""
        WITH counts AS (
            SELECT n_name, COUNT(*) AS n_customers
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, n_customers
        FROM counts
        WHERE n_customers > (SELECT AVG(n_customers) FROM counts)
        ORDER BY n_name
    """,
)
def q15_cte_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )
    avg_df = counts.agg(F.avg("n_customers").alias("avg_n"))
    return (
        counts.crossJoin(F.broadcast(avg_df))
        .filter(F.col("n_customers") > F.col("avg_n"))
        .select("n_name", "n_customers")
        .orderBy("n_name")
    )


@register(
    "q16_set_ops",
    "Set operations over customer key sets: customers with both open and "
    "finished orders (INTERSECT), and with open but no finished orders "
    "(EXCEPT), tagged and unioned (UNION ALL).",
    oracle="""
        WITH o_open AS (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_orderstatus = 'O'),
             o_done AS (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_orderstatus = 'F')
        SELECT 'both' AS tag, o_custkey FROM
            (SELECT o_custkey FROM o_open INTERSECT
             SELECT o_custkey FROM o_done)
        UNION ALL
        SELECT 'open_only' AS tag, o_custkey FROM
            (SELECT o_custkey FROM o_open EXCEPT
             SELECT o_custkey FROM o_done)
        ORDER BY tag, o_custkey
    """,
)
def q16_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o_open = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .distinct()
    )
    o_done = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    both = o_open.intersect(o_done).select(
        F.lit("both").alias("tag"), "o_custkey"
    )
    open_only = o_open.exceptAll(o_done).select(
        F.lit("open_only").alias("tag"), "o_custkey"
    )
    return both.unionByName(open_only).orderBy("tag", "o_custkey")


@register(
    "q17_topk_orders",
    "Global top-10 orders by total price with deterministic tie-break — "
    "ORDER BY … LIMIT lowers to TakeOrderedAndProject (per-partition "
    "top-k, then k·partitions merged on the driver; no global sort).",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
)
def q17_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@register(
    "q18_json_extract",
    "JSON field extraction from the events props column — semi-structured "
    "access (get_json_object / ->> ), aggregated per event type.",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def q18_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "q19_pivot",
    "Pivot: daily event counts spread across event-type columns — "
    "groupBy().pivot() with an explicit value list (one aggregation pass; "
    "explicit values avoid the extra distinct-discovery job at scale).",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) FILTER (WHERE event_type = 'click') AS click,
               COUNT(*) FILTER (WHERE event_type = 'view') AS view,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
               COUNT(*) FILTER (WHERE event_type = 'error') AS error
        FROM events
        GROUP BY day
        ORDER BY day
    """,
)
def q19_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .orderBy("day")
    )


@register(
    "q20_sessionize",
    "Gap-based sessionization: per-user session counts with a 30-minute "
    "inactivity threshold — lag window + conditional cumulative sum. The "
    "standard batch sessionization; the streaming twin (session_window) "
    "lives in etl_example_spark/streaming.",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
            FROM events
        )
        SELECT user_id,
               CAST(1 + SUM(new_sess) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM flagged
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def q20_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = events.withColumn(
        "new_sess", F.when(gap > 30 * 60, 1).otherwise(0)
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            (1 + F.sum("new_sess")).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "q21_tumbling_window",
    "Tumbling time-window aggregation: hourly event counts + exact value "
    "sums via F.window (struct start/end), the batch twin of the "
    "streaming tumbling window.",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
                   AS total_value
        FROM events
        WHERE ts IS NOT NULL  -- F.window drops NULL event time
        GROUP BY hour_start
        ORDER BY hour_start
    """,
)
def q21_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(as_scaled_long("value")).cast("double") / 100).alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("hour_start"), "n_events", "total_value")
        .orderBy("hour_start")
    )


@register(
    "q22_approx_distinct",
    "Approximate distinct counts (HyperLogLog++) next to exact — the "
    "at-scale cardinality primitive (constant memory per group vs the "
    "exact two-phase expansion). Approx values are engine-specific, so "
    "this row is rows-only in the driver BY DESIGN; its externally "
    "hash-verified certificate is the q22a_approx_distinct_bound twin, "
    "whose oracle-checked output asserts the 5% relative-error bound "
    "(green in CORRECTNESS_r06).",
    oracle=None,  # approx values differ across engines; see q22a twin
)
def q22_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q22a_approx_distinct_bound",
    "EXTERNAL error-bound certificate for the q22 HLL++ sketch: per "
    "group, the exact distinct count plus a within_5pct boolean "
    "(|approx - exact| <= 0.05 * exact, the rsd=0.05 target). "
    "approx_count_distinct is deterministic for fixed input and rsd, so "
    "the booleans are stable; the oracle emits the exact counts and "
    "TRUE from exact arithmetic — a hash match certifies the sketch's "
    "error bound externally, not just in-repo.",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               TRUE AS within_5pct
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q22a_approx_distinct_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.05).alias("_approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("within_5pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q41_shipping_priority",
    "TPC-H Q3-shaped shipping priority: 3-way customer/orders/lineitem "
    "join with selective filters on both fact legs, revenue top-10. The "
    "canonical join-reordering + partial-agg workload; revenue is the "
    "exact scaled-integer sum of l_extendedprice*(1-l_discount).",
    oracle="""
        SELECT l_orderkey,
               o_orderdate,
               CAST(SUM(CAST(ROUND(
                   l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                   AS DOUBLE) / 10000 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < '1998-01-01'
          AND l_shipdate  > '1998-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    bench=True,
)
def q41_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue_scaled = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1998-01-01")
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(revenue_scaled).cast("double") / 10000).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q42_local_supplier_volume",
    "TPC-H Q5-shaped local supplier volume: 6-way join "
    "(customer/orders/lineitem/supplier/nation/region) with the "
    "same-nation constraint, revenue per nation in one region-year. "
    "Exercises cost-based join ordering over mixed fact/dim sizes; all "
    "four dims broadcast, the two fact legs shuffle on their join keys.",
    oracle="""
        SELECT n_name,
               CAST(SUM(CAST(ROUND(
                   l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                   AS DOUBLE) / 10000 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= '1996-01-01'
          AND o_orderdate <  '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    bench=True,
)
def q42_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue_scaled = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg((F.sum(revenue_scaled).cast("double") / 10000).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q44_exact_percentiles",
    "Exact order statistics per group: median and p95 of extended price "
    "(Spark `percentile`, linear interpolation between order stats — "
    "bit-identical to DuckDB quantile_cont on the same doubles). The "
    "sketch-free baseline; approx_percentile is the at-scale variant "
    "(one pass, bounded memory), kept out of the oracle like q22.",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS p50,
               quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q44_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q45_grouping_sets",
    "GROUPING SETS aggregation: per-returnflag, per-linestatus, and "
    "grand-total rows in one pass (single shuffle, rows replicated per "
    "matching set map-side) with GROUPING() flags disambiguating "
    "group-NULL from data-NULL.",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n_rows,
               SUM(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
    """,
)
def q45_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")
    )


@register(
    "q46_asof_join",
    "As-of join (operators/temporal.as_of_join): every event carries the "
    "latest at-or-before order-day stats of its user — union both sides, "
    "ONE shuffle on the key, running last(ignorenulls) window; no range "
    "explosion. Oracle: DuckDB's native ASOF LEFT JOIN over identical "
    "inputs, so the composition is checked against a first-class "
    "implementation.",
    oracle="""
        WITH od AS (
            SELECT o_custkey AS user_id,
                   o_orderdate,
                   o_orderdate AS last_order_date,
                   COUNT(*) AS n_orders_day,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / 100 AS day_spend
            FROM orders
            GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id, e.ts,
               od.last_order_date, od.n_orders_day, od.day_spend
        FROM events e
        ASOF LEFT JOIN od
          ON e.user_id = od.user_id AND e.ts >= od.o_orderdate
        WHERE e.ts IS NOT NULL
        UNION ALL
        -- a NULL-ts probe has no "as of": LEFT semantics, NULL payload
        -- (DuckDB's ASOF quirkily matches such probes to a row; the
        -- engine's union+window form carries nothing — the honest one)
        SELECT e.event_id, e.user_id, e.ts,
               CAST(NULL AS DATE), CAST(NULL AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM events e WHERE e.ts IS NULL
        ORDER BY event_id
    """,
)
def q46_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.temporal import as_of_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders")
    order_days = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
        )
        .agg(
            F.count("*").alias("n_orders_day"),
            (F.sum(as_scaled_long("o_totalprice")).cast("double") / 100).alias(
                "day_spend"
            ),
        )
        .withColumn("last_order_date", F.col("o_orderdate"))
    )
    return as_of_join(
        events,
        order_days,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["last_order_date", "n_orders_day", "day_spend"],
    ).orderBy("event_id")


@register(
    "q47_range_bin_join",
    "Range join via interval bucketing (operators/temporal."
    "binned_range_join): events within 3 days after each order of the "
    "same user, as an equi-join on (key, time-bin) + exact predicate — "
    "the rewrite that turns a nested-loop range join into a shuffle "
    "join. Oracle: the plain SQL range join.",
    oracle="""
        SELECT o_orderkey,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
                   AS total_value
        FROM orders o
        JOIN events e
          ON e.user_id = o.o_custkey
         AND e.ts >= o.o_orderdate
         AND e.ts < o.o_orderdate + INTERVAL 3 DAY
        GROUP BY o_orderkey
        ORDER BY o_orderkey
    """,
)
def q47_range_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.temporal import binned_range_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    joined = binned_range_join(
        orders,
        events,
        key_left="o_custkey",
        key_right="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        width_seconds=3 * 86400,
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(as_scaled_long("value")).cast("double") / 100).alias(
                "total_value"
            ),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q48_cube",
    "CUBE aggregation: all four (returnflag x linestatus) grouping "
    "combinations in one pass, GROUPING() flags marking the rollup axes "
    "— completes the rollup (q13) / grouping-sets (q45) family.",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n_rows,
               SUM(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
    """,
)
def q48_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")
    )


@register(
    "q49_window_breadth",
    "Analytic-window breadth over per-customer order history: lag/lead "
    "deltas, dense_rank, ntile quartiles, first_value — one window "
    "definition, one shuffle on the partition key.",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
               CAST(ROUND(COALESCE(o_totalprice - LAG(o_totalprice) OVER w, 0)
                    * 100) AS BIGINT) AS delta_prev_cents,
               CAST(ROUND(COALESCE(LEAD(o_totalprice) OVER w
                    - o_totalprice, 0) * 100) AS BIGINT) AS delta_next_cents,
               DENSE_RANK() OVER w AS rk,
               NTILE(4) OVER w AS quartile,
               CAST(ROUND(FIRST_VALUE(o_totalprice) OVER w * 100) AS BIGINT)
                   AS first_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """,
)
def q49_window_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    price = F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        cents(price).alias("price_cents"),
        cents(F.coalesce(price - F.lag(price).over(w), F.lit(0))).alias(
            "delta_prev_cents"
        ),
        cents(F.coalesce(F.lead(price).over(w) - price, F.lit(0))).alias(
            "delta_next_cents"
        ),
        F.dense_rank().over(w).alias("rk"),
        F.ntile(4).over(w).alias("quartile"),
        cents(F.first(price).over(w)).alias("first_cents"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "q50_exists_correlated",
    "Correlated EXISTS (TPC-H Q4 shape, adapted to the testdata columns): "
    "orders per priority having at least one line shipped >80 days after "
    "order date. Expressed as SQL so Catalyst's subquery decorrelation "
    "(RewritePredicateSubquery -> left semi join) is exercised; the "
    "decorrelated plan is the same semi join a hand-written DataFrame "
    "version would build, shuffling each side once on the join key.",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_late_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 80 DAY
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q50_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_late_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 80 DAY
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "q51_scalar_correlated",
    "Correlated scalar subqueries (TPC-H Q17 shape): revenue from "
    "small-quantity lines, where 'small' is below 1/5 of the part's own "
    "average quantity. The threshold test is exact integer "
    "cross-multiplication (5*q*count < sum) so no float-boundary row "
    "flips between engines. Catalyst decorrelates both scalar subqueries "
    "into one aggregate-then-join over l_partkey.",
    oracle="""
        SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 / 7 AS avg_yearly
        FROM lineitem l
        WHERE 5 * CAST(ROUND(l.l_quantity) AS BIGINT) * (
                SELECT COUNT(*) FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey
              ) < (
                SELECT SUM(CAST(ROUND(l3.l_quantity) AS BIGINT))
                FROM lineitem l3
                WHERE l3.l_partkey = l.l_partkey
              )
    """,
)
def q51_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 / 7 AS avg_yearly
        FROM lineitem l
        WHERE 5 * CAST(ROUND(l.l_quantity) AS BIGINT) * (
                SELECT COUNT(*) FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey
              ) < (
                SELECT SUM(CAST(ROUND(l3.l_quantity) AS BIGINT))
                FROM lineitem l3
                WHERE l3.l_partkey = l.l_partkey
              )
        """
    )


@register(
    "q52_conditional_agg",
    "Conditional aggregation with FILTER clauses: one scan of orders "
    "producing per-nation counts/sums restricted by different predicates "
    "— the idiomatic replacement for N self-joins or N scans (at 100 TB "
    "the difference is N full passes vs one).",
    oracle="""
        SELECT n_name AS nation,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               COUNT(*) FILTER (WHERE o_orderpriority LIKE '1-%') AS n_urgent,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) / 100
                   AS open_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
)
def q52_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = as_scaled_long("o_totalprice")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.count_if(F.col("o_orderpriority").like("1-%")).alias("n_urgent"),
            (
                F.sum(
                    F.when(F.col("o_orderstatus") == "O", cents).otherwise(
                        F.lit(None)
                    )
                ).cast("double")
                / 100
            ).alias("open_revenue"),
        )
        .orderBy("nation")
    )


@register(
    "q53_lateral_explode",
    "Lateral table generation: explode each part's type string into words "
    "(LATERAL VIEW explode / unnest) and count word frequencies — the "
    "generator runs inline in the scan stage (no join), then one "
    "aggregation shuffle on the word.",
    oracle="""
        SELECT word, COUNT(*) AS n
        FROM (
            SELECT unnest(string_split(p_type, ' ')) AS word FROM part
        )
        GROUP BY word
        ORDER BY word
    """,
)
def q53_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_type", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy("word")
    )


@register(
    "q54_date_breadth",
    "Date/time function breadth over per-customer order history: "
    "year/quarter/ISO week extraction, English day names, month-end "
    "dates, and day gaps to the previous order (lag window + datediff). "
    "All functions chosen for identical cross-engine semantics (ISO "
    "weeks, English day names).",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS yr,
               quarter(o_orderdate) AS qtr,
               weekofyear(o_orderdate) AS iso_week,
               dayname(o_orderdate) AS day_name,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR)
                   AS month_end,
               COALESCE(date_diff('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate), -1) AS days_since_prev
        FROM orders
        ORDER BY o_orderkey
    """,
)
def q54_date_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.date_format("o_orderdate", "EEEE").alias("day_name"),
        F.last_day(F.col("o_orderdate").cast("date"))
        .cast("string")
        .alias("month_end"),
        F.coalesce(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ),
            F.lit(-1),
        ).alias("days_since_prev"),
    ).orderBy("o_orderkey")


@register(
    "q55_range_frame_window",
    "RANGE-frame analytic window: per-customer trailing-30-day spend at "
    "each order, ordered by integer epoch-day (numeric RANGE frames have "
    "identical semantics in every engine; interval frames differ). One "
    "shuffle on the partition key; the frame scan is linear per "
    "partition.",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY date_diff('day', TIMESTAMP '1970-01-01', o_orderdate)
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100 AS trailing_30d_spend
        FROM orders
        ORDER BY o_orderkey
    """,
)
def q55_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    epoch_day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_day)
        .rangeBetween(-29, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(as_scaled_long("o_totalprice")).over(w).cast("double") / 100).alias(
            "trailing_30d_spend"
        ),
    ).orderBy("o_orderkey")


@register(
    "q56_null_safe_join",
    "Null-safe equality join (<=> / IS NOT DISTINCT FROM): nations "
    "bucketed by NULLIF'd region key join null-safe, so the NULL bucket "
    "matches itself — the semantics plain equality silently drops. "
    "Catalyst plans <=> as a hash join key like any other equality.",
    oracle="""
        WITH n AS (
            SELECT n_nationkey, n_name, NULLIF(n_regionkey, 0) AS rk
            FROM nation
        )
        SELECT a.n_name AS nation_a, b.n_name AS nation_b
        FROM n a JOIN n b
          ON a.rk IS NOT DISTINCT FROM b.rk
         AND a.n_nationkey < b.n_nationkey
        ORDER BY nation_a, nation_b
    """,
)
def q56_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    n = nation.select(
        "n_nationkey",
        "n_name",
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk"),
    )
    a = n.select(
        F.col("n_nationkey").alias("key_a"),
        F.col("n_name").alias("nation_a"),
        F.col("rk").alias("rk_a"),
    )
    b = n.select(
        F.col("n_nationkey").alias("key_b"),
        F.col("n_name").alias("nation_b"),
        F.col("rk").alias("rk_b"),
    )
    return (
        a.join(
            b,
            F.col("rk_a").eqNullSafe(F.col("rk_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .select("nation_a", "nation_b")
        .orderBy("nation_a", "nation_b")
    )


@register(
    "q57_zorder_key",
    "Z-order (Morton) clustering key over (user bucket, hour bucket) — "
    "the multi-dimensional data-skipping layout: files sorted by this key "
    "hold compact rectangles of the key space, so parquet min/max stats "
    "prune on BOTH dimensions (functions/zorder.zvalue; skipping payoff "
    "measured from real file footers in tests/test_zorder.py). Pure "
    "shift/mask integer arithmetic, bit-identical in any engine.",
    oracle=None,  # set below: built from sql_zvalue to stay in lockstep
)
def q57_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.functions.zorder import zvalue

    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        (F.col("user_id") % 256).alias("ub"),
        (F.expr("unix_micros(ts) div 3600000000") % 256).alias("hb"),
    ).select(
        "event_id", "ub", "hb", zvalue(["ub", "hb"], bits=8).alias("zkey")
    ).orderBy("event_id")


def _q57_oracle() -> str:
    from etl_example_spark.functions.zorder import sql_zvalue

    return f"""
        WITH g AS (
            SELECT event_id,
                   user_id % 256 AS ub,
                   (epoch_us(ts) // 3600000000) % 256 AS hb
            FROM events
        )
        SELECT event_id, ub, hb, {sql_zvalue(["ub", "hb"], bits=8)} AS zkey
        FROM g
        ORDER BY event_id
    """


from etl_example_spark.plans.registry import QUERIES as _Q  # noqa: E402

_Q["q57_zorder_key"].oracle = _q57_oracle()


@register(
    "q58_merge_upsert",
    "MERGE / CDC-apply (operators/merge.apply_cdc): a keyed change batch "
    "(updates for one customer cohort, deletes by key pattern, inserts "
    "cloned under new keys) applied to orders as anti-join + union — the "
    "change batch broadcasts, the big target never shuffles. The parquet "
    "write path pairs this with write-new-then-swap "
    "(operators/curation.backup_then_remove); Delta/Iceberg MERGE INTO is "
    "the transactional spelling of the same plan.",
    oracle="""
        WITH changes AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 10.0 AS o_totalprice,
                   o_orderdate, o_orderpriority, 'U' AS op
            FROM orders WHERE o_custkey % 100 = 0 AND o_orderkey % 997 <> 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority, 'D'
            FROM orders WHERE o_orderkey % 997 = 0
            UNION ALL
            SELECT o_orderkey + 20000000, o_custkey, o_orderstatus,
                   o_totalprice * 0.5, o_orderdate, o_orderpriority, 'I'
            FROM orders WHERE o_custkey % 100 = 50
        )
        SELECT * FROM (
            SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
                   o.o_totalprice, o.o_orderdate, o.o_orderpriority
            FROM orders o LEFT JOIN changes c ON o.o_orderkey = c.o_orderkey
            WHERE c.o_orderkey IS NULL
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM changes WHERE op <> 'D'
        )
        ORDER BY o_orderkey
    """,
)
def q58_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.merge import apply_cdc

    orders = load_table(spark, sf_dir, "orders")
    upd = (
        orders.filter(
            (F.col("o_custkey") % 100 == 0) & (F.col("o_orderkey") % 997 != 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .withColumn("op", F.lit("U"))
    )
    dels = orders.filter(F.col("o_orderkey") % 997 == 0).withColumn(
        "op", F.lit("D")
    )
    ins = (
        orders.filter(F.col("o_custkey") % 100 == 50)
        .withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
        .withColumn("o_totalprice", F.col("o_totalprice") * 0.5)
        .withColumn("op", F.lit("I"))
    )
    changes = upd.unionByName(dels).unionByName(ins)
    return apply_cdc(orders, changes, ["o_orderkey"]).orderBy("o_orderkey")


@register(
    "q59_rank_functions",
    "Relative-rank window functions (percent_rank, cume_dist) over "
    "supplier balances per nation — definitions are engine-invariant "
    "((rank-1)/(n-1), #(<=)/n) and the ordering key is unique, so the "
    "doubles hash-compare exactly.",
    oracle="""
        SELECT n_name AS nation, s_suppkey,
               PERCENT_RANK() OVER w AS pr,
               CUME_DIST() OVER w AS cd
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal, s_suppkey)
        ORDER BY nation, s_suppkey
    """,
)
def q59_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy("s_acctbal", "s_suppkey")
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .select(
            F.col("n_name").alias("nation"),
            "s_suppkey",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .orderBy("nation", "s_suppkey")
    )


@register(
    "q60_intersect_except_all",
    "Multiset set operations (INTERSECT ALL / EXCEPT ALL): customer keys "
    "of finished orders vs urgent orders, duplicates preserved — the ALL "
    "variants Catalyst plans as joins over per-row replication counts, "
    "not the distinct-collapsing set ops of q16.",
    oracle="""
        SELECT 'both' AS src, k FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1-%'
        )
        UNION ALL
        SELECT 'only_finished', k FROM (
            SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1-%'
        )
        ORDER BY src, k
    """,
)
def q60_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    urgent = orders.filter(F.col("o_orderpriority").like("1-%")).select(
        F.col("o_custkey").alias("k")
    )
    both = finished.intersectAll(urgent).select(F.lit("both").alias("src"), "k")
    only = finished.exceptAll(urgent).select(
        F.lit("only_finished").alias("src"), "k"
    )
    return both.unionByName(only).orderBy("src", "k")


@register(
    "q62_incremental_agg",
    "Incremental aggregate maintenance (operators/incremental.py): the "
    "pre-cutoff rollup state absorbs the post-cutoff delta by partial-"
    "aggregate merge — work proportional to the delta, not history. The "
    "oracle computes the FULL aggregate directly, so the hash-match "
    "proves merge == recompute bit-for-bit (algebraic aggregates, exact "
    "integer sums).",
    oracle="""
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey
    """,
)
def q62_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.incremental import (
        merge_partials,
        partial_agg,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "cents", as_scaled_long("o_totalprice")
    )
    aggs = {
        "n_orders": ("count", "o_orderkey"),
        "total_cents": ("sum", "cents"),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    cutoff = F.lit("1997-01-01").cast("timestamp")
    state = partial_agg(
        orders.filter(F.col("o_orderdate") < cutoff), ["o_custkey"], aggs
    )
    # the split must be EXHAUSTIVE: a NULL cutoff column satisfies
    # neither < nor >=, so a naive two-filter split silently drops the
    # row from the maintained view — route NULL dates to the delta
    delta = partial_agg(
        orders.filter(
            F.coalesce(F.col("o_orderdate") >= cutoff, F.lit(True))
        ),
        ["o_custkey"],
        aggs,
    )
    return merge_partials(state, delta, ["o_custkey"], aggs).orderBy(
        "o_custkey"
    )


@register(
    "q63_disjunctive_predicates",
    "TPC-H Q19-shaped OR-of-ANDs: revenue from three disjunctive "
    "brand/size/quantity clauses over a part join. Catalyst extracts the "
    "common l_quantity bounds and pushes the disjunction into the scans "
    "(CNF conversion for pushdown); the join stays one broadcast.",
    oracle="""
        SELECT CAST(SUM(CAST(ROUND(
                   l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS DOUBLE) / 100 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q63_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def clause(brand: str, max_size: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )

    pred = (
        clause("Brand#1", 15, 1, 11)
        | clause("Brand#2", 25, 10, 20)
        | clause("Brand#3", 35, 20, 30)
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        lineitem.join(
            F.broadcast(part), lineitem.l_partkey == part.p_partkey
        )
        .filter(pred)
        .agg((F.sum(cents).cast("double") / 100).alias("revenue"))
    )


@register(
    "q64_promo_revenue_ratio",
    "TPC-H Q14 shape: promo revenue share per month — conditional "
    "aggregation ratio in one pass over the join, exact integer cents "
    "for both numerator and denominator, ONE double division at the end "
    "(cross-engine bit-stable).",
    oracle="""
        SELECT date_trunc('month', l_shipdate) AS mes,
               100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS DOUBLE) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY mes
        ORDER BY mes
    """,
)
def q64_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    promo = F.when(F.col("p_type").like("PROMO%"), cents).otherwise(F.lit(0))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("mes"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(cents).cast("double")
            ).alias("promo_pct")
        )
        .orderBy("mes")
    )


@register(
    "q65_market_share",
    "TPC-H Q8 shape: one region's revenue share per order year — "
    "two-level dimension chain (customer -> nation -> region) broadcast "
    "onto the fact join, conditional numerator, exact integer cents.",
    oracle="""
        SELECT year(o_orderdate) AS yr,
               CAST(SUM(CASE WHEN r_name = 'EUROPE'
                   THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS DOUBLE) AS share
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY yr
        ORDER BY yr
    """,
)
def q65_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    in_region = F.when(F.col("r_name") == "EUROPE", cents).otherwise(
        F.lit(0)
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            (
                F.sum(in_region).cast("double")
                / F.sum(cents).cast("double")
            ).alias("share")
        )
        .orderBy("yr")
    )


@register(
    "q66_small_quantity_revenue",
    "TPC-H Q17 shape: revenue from small-quantity lineitems of one "
    "brand's parts, where 'small' is relative to the part's own average "
    "quantity — per-part aggregate broadcast back onto the fact rows "
    "(never a correlated re-scan). Quantities are integer-valued doubles "
    "so the per-part average is exact and engine-identical.",
    oracle="""
        WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
        lf AS (SELECT l.* FROM lineitem l JOIN bp ON l_partkey = p_partkey),
        avgs AS (SELECT l_partkey, AVG(l_quantity) AS a FROM lf GROUP BY 1)
        SELECT COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS small_qty_revenue
        FROM lf JOIN avgs USING (l_partkey)
        WHERE l_quantity < 0.2 * a
    """,
)
def q66_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    lf = lineitem.join(
        F.broadcast(brand_parts), lineitem.l_partkey == F.col("p_partkey")
    )
    avgs = lf.groupBy("l_partkey").agg(F.avg("l_quantity").alias("a"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        lf.join(F.broadcast(avgs), "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("a"))
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(cents).cast("double") / 100).alias("small_qty_revenue"),
        )
    )


@register(
    "q67_large_orders",
    "TPC-H Q18 shape: orders whose total quantity exceeds a threshold — "
    "pre-aggregate the fact on the join key FIRST, filter to the tiny "
    "qualifying set, then join order/customer detail onto it (never the "
    "other way round: the join input shrinks by ~100x before any wide "
    "row is formed).",
    oracle="""
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS sum_qty
            FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250
        )
        SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
               big.sum_qty
        FROM big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY big.sum_qty DESC, o.o_orderkey
        LIMIT 20
    """,
)
def q67_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "q68_sole_late_supplier",
    "TPC-H Q21 shape: suppliers who were the ONLY late shipper on a "
    "multi-supplier order (late = shipped >60 days after order date). "
    "One fact-fact equi-join, then per-order conditional distinct "
    "aggregates resolve the exists/not-exists pair in a single pass — "
    "no correlated subqueries, no second pass over lineitem.",
    oracle="""
        WITH j AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
            FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
        ),
        per AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS ns,
                   COUNT(DISTINCT l_suppkey) FILTER (late) AS nl,
                   MAX(l_suppkey) FILTER (late) AS late_supp
            FROM j GROUP BY 1
        )
        SELECT s.s_name, COUNT(*) AS numwait
        FROM per JOIN supplier s ON per.late_supp = s.s_suppkey
        WHERE per.ns > 1 AND per.nl = 1
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 10
    """,
)
def q68_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    j = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select("l_orderkey", "l_suppkey", late.alias("late"))
    per = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("nl"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per.filter((F.col("ns") > 1) & (F.col("nl") == 1))
        .join(F.broadcast(supplier), per.late_supp == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@register(
    "q69_quiet_big_accounts",
    "TPC-H Q22 shape: high-balance customers with no urgent orders — "
    "global scalar aggregate broadcast as a crossJoin'd one-row plan "
    "(never a driver-side collect), anti-join against the filtered "
    "orders set, per-segment rollup. Balance sums and the comparison "
    "threshold both run on exact integer cents.",
    oracle="""
        WITH avg_c AS (
            SELECT AVG(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS avg_cents
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   / 100 AS total_acctbal
        FROM customer c CROSS JOIN avg_c
        WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) > avg_c.avg_cents
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT'
          )
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
)
def q69_quiet_big_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    avg_c = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg(cents).alias("avg_cents")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
        )
        .crossJoin(F.broadcast(avg_c))
        .filter(cents > F.col("avg_cents"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(cents).cast("double") / 100).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q70_python_datasource",
    "Custom connector via the Python Data Source API: a deterministic "
    "generator source whose partition planning splits the id range "
    "across executors (the wrap-a-REST-API/KV-scan pattern), aggregated "
    "per bucket. Rows are pure functions of the id, so DuckDB "
    "regenerates the identical relation from range() "
    "(sources/python_datasource.SyntheticDocsDataSource).",
    oracle="""
        SELECT CAST(id % 10 AS INTEGER) AS bucket,
               COUNT(*) AS n,
               MIN(md5(CAST(id AS VARCHAR))) AS min_digest,
               CAST(SUM((id * 2654435761) % 1000000) AS BIGINT)
                   AS score_sum
        FROM range(2000) t(id)
        GROUP BY bucket
        ORDER BY bucket
    """,
)
def q70_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.sources.python_datasource import (
        register_python_datasources,
    )

    register_python_datasources(spark)
    src = (
        spark.read.format("synthetic_docs")
        .option("rows", 2000)
        .option("partitions", 8)
        .load()
    )
    return (
        src.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("digest").alias("min_digest"),
            F.sum("score").alias("score_sum"),
        )
        .orderBy("bucket")
    )


@register(
    "q71_hof_array_pipeline",
    "Complex-type surface: per-order sorted quantity arrays processed "
    "entirely with SQL higher-order functions (aggregate/filter/"
    "transform lambdas run inside codegen, no Python UDF, no second "
    "shuffle after the collect_list).",
    oracle="""
        WITH per AS (
            -- FILTER mirrors collect_list's NULL-skipping; an order
            -- whose quantities are all NULL yields [] on both engines
            SELECT l_orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))
                             FILTER (l_quantity IS NOT NULL)) AS qtys
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT l_orderkey,
               COALESCE(len(qtys), 0) AS n_items,
               CAST(COALESCE(list_aggregate(qtys, 'sum'), 0) AS BIGINT)
                   AS sum_qty,
               COALESCE(len(list_filter(qtys, q -> q > 25)), 0) AS n_big,
               CAST(COALESCE(list_aggregate(
                        list_transform(qtys, q -> q * q), 'sum'), 0)
                    AS BIGINT) AS sum_sq,
               CASE WHEN COALESCE(len(qtys), 0) = 0 THEN NULL
                    ELSE qtys[(len(qtys) + 1) // 2] END AS lower_median
        FROM per
        ORDER BY l_orderkey
    """,
)
def q71_hof_array_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    per = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.col("l_quantity").cast("long"))
        ).alias("qtys")
    )
    # SQL lambdas (F.expr), not Python-lambda HOF builders: multiple
    # Python-lambda HOF columns in one select share lambda-variable
    # names and corrupt each other
    return per.select(
        "l_orderkey",
        F.size("qtys").alias("n_items"),
        F.expr("aggregate(qtys, 0L, (acc, q) -> acc + q)").alias("sum_qty"),
        F.expr("size(filter(qtys, q -> q > 25))").alias("n_big"),
        F.expr(
            "aggregate(transform(qtys, q -> q * q), 0L, (acc, x) -> acc + x)"
        ).alias("sum_sq"),
        # guard the empty array (all quantities NULL -> collect_list
        # skips them all): element_at index 0 is an ERROR, not NULL
        F.expr(
            "CASE WHEN size(qtys) = 0 THEN NULL "
            "ELSE element_at(qtys, CAST((size(qtys) + 1) div 2 AS INT)) "
            "END"
        ).alias("lower_median"),
    ).orderBy("l_orderkey")


@register(
    "q72_gap_fill_resample",
    "Time-series gap fill: per-user daily resample over each user's "
    "active span, missing days densified via a distributed sequence/"
    "explode grid (never a driver-side calendar) and forward-filled "
    "with last(ignorenulls) — the LOCF primitive "
    "(operators/temporal.resample_daily_ffill).",
    oracle="""
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS d,
                   COUNT(*) AS n_events,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
            FROM events GROUP BY user_id, d
        ),
        span AS (
            SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily
            GROUP BY user_id
        ),
        grid AS (
            SELECT user_id, unnest(generate_series(d0, d1,
                   INTERVAL 1 DAY)) AS d
            FROM span
        )
        SELECT g.user_id, g.d,
               COALESCE(daily.n_events, 0) AS n_events,
               CAST(last_value(daily.value_cents IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.d
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100
                   AS filled_value
        FROM grid g LEFT JOIN daily
          ON g.user_id = daily.user_id AND g.d = daily.d
        ORDER BY g.user_id, g.d
    """,
)
def q72_gap_fill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.temporal import resample_daily_ffill

    events = load_table(spark, sf_dir, "events")
    return resample_daily_ffill(events, "user_id", "ts", "value").orderBy(
        "user_id", "d"
    )


@register(
    "q73_variant_semi_structured",
    "Semi-structured surface via the VARIANT type (Spark 4): raw JSON "
    "props parsed once with parse_json, fields extracted with "
    "variant_get's typed path access (shredding-friendly at scale: one "
    "parse, many typed reads) and aggregated per event type.",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_sum,
               MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def q73_variant_semi_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


@register(
    "q74_recursive_hierarchy",
    "Recursive CTE (Spark 4 WITH RECURSIVE): every part climbs its "
    "synthetic decimal-trie ancestry (parent = key div 10) to the root, "
    "then a per-depth rollup — the transitive-closure/hierarchy-walk "
    "surface, executed as Catalyst's iterative union plan, "
    "cross-checked against DuckDB's native recursion.",
    oracle="""
        WITH RECURSIVE anc(node, anc_node, depth) AS (
            SELECT p_partkey, p_partkey, 0 FROM part
            UNION ALL
            SELECT a.node, a.anc_node // 10, a.depth + 1
            FROM anc a WHERE a.anc_node > 0
        ),
        per_node AS (
            SELECT node, MAX(depth) AS depth_to_root FROM anc GROUP BY node
        )
        SELECT depth_to_root, COUNT(*) AS n_parts,
               MIN(node) AS min_part, MAX(node) AS max_part
        FROM per_node
        GROUP BY depth_to_root
        ORDER BY depth_to_root
    """,
)
def q74_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    part.select("p_partkey").createOrReplaceTempView("q74_part")
    return spark.sql(
        """
        WITH RECURSIVE anc(node, anc_node, depth) AS (
            SELECT p_partkey, p_partkey, 0 FROM q74_part
            UNION ALL
            SELECT a.node, a.anc_node div 10, a.depth + 1
            FROM anc a WHERE a.anc_node > 0
        ),
        per_node AS (
            SELECT node, MAX(depth) AS depth_to_root FROM anc GROUP BY node
        )
        SELECT depth_to_root, COUNT(*) AS n_parts,
               MIN(node) AS min_part, MAX(node) AS max_part
        FROM per_node
        GROUP BY depth_to_root
        ORDER BY depth_to_root
        """
    )


@register(
    "q75_salted_agg",
    "Skew-mitigated aggregation through the correctness gate: the "
    "two-phase salted aggregate (hot keys split across salt sub-groups, "
    "partials re-merged) must equal the plain one-phase GROUP BY — the "
    "oracle is that plain aggregation (functions/skew.salted_agg).",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               COUNT(*) AS n_rows,
               CAST(MAX(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS max_price_cents
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q75_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.functions.skew import salted_agg

    lineitem = load_table(spark, sf_dir, "lineitem")
    prepared = lineitem.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return salted_agg(
        prepared,
        group_by=["l_returnflag"],
        aggs={
            "sum_qty": ("sum", "qty"),
            "n_rows": ("count", F.lit(1)),
            "max_price_cents": ("max", "price_cents"),
        },
        salt=16,
    ).orderBy("l_returnflag")


@register(
    "q76_try_functions",
    "Error-safe expression surface: try_divide / try_cast turn "
    "divide-by-zero and malformed casts into NULLs instead of job-"
    "killing exceptions — the posture batch pipelines need when one bad "
    "row must not fail a 100 TB job. Discount-of-zero rows and "
    "unparseable priority codes survive as NULLs and are counted.",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_zero_discount,
               CAST(SUM(CAST(ROUND(
                   CASE WHEN l_discount = 0 THEN NULL
                        ELSE l_quantity / l_discount END * 100)
                   AS BIGINT)) AS BIGINT) AS qty_per_discount_c,
               CAST(SUM(CASE WHEN TRY_CAST(l_linestatus AS INTEGER) IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q76_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    ratio = F.try_divide(F.col("l_quantity"), F.col("l_discount"))
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("l_discount") == 0, 1).otherwise(0)
            ).alias("n_zero_discount"),
            F.sum(F.round(ratio * 100).cast("long")).alias(
                "qty_per_discount_c"
            ),
            F.sum(
                F.when(
                    F.try_to_number(
                        F.col("l_linestatus"), F.lit("999")
                    ).isNull(),
                    1,
                ).otherwise(0)
            ).alias("n_unparseable"),
        )
        .orderBy("l_returnflag")
    )


def _stage_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Get-or-create the bucketed lineitem/orders twins for q77 — the
    local analog of maintaining bucketed fact tables in the warehouse so
    repeated key-joins never pay the shuffle again. Table names carry an
    sf_dir slug so two scale factors in one session never serve each
    other's staging."""
    import hashlib

    from etl_example_spark.sources.writers import write_bucketed_table

    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li_name = f"q77_lineitem_bkt_{slug}"
    ord_name = f"q77_orders_bkt_{slug}"
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def build() -> tuple[str, str]:
        write_bucketed_table(
            lineitem.select(
                "l_orderkey",
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .alias("price_cents"),
            ),
            li_name, ["l_orderkey"], 8, sort_by=["l_orderkey"],
        )
        write_bucketed_table(
            orders.select("o_orderkey", "o_orderpriority"),
            ord_name, ["o_orderkey"], 8, sort_by=["o_orderkey"],
        )
        return li_name, ord_name

    return artifacts.get_or_build(
        "q77_twins", spark, sf_dir, build, sources=(lineitem, orders)
    )


@register(
    "q77_bucket_join",
    "Shuffle-free co-located join: lineitem and orders staged as "
    "identically-bucketed catalog tables on the join key (8 buckets, "
    "sorted), so the fact-fact join runs bucket-to-bucket with NO "
    "exchange on either side (asserted in tests/test_relational_ops.py) "
    "— the warehouse layout that amortizes the big-join shuffle across "
    "every downstream query at 100 TB.",
    oracle="""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    bench=True,
)
def q77_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_name, ord_name = _stage_bucketed(spark, sf_dir)
    li = spark.table(li_name)
    orders = spark.table(ord_name)
    # merge hint: at test scale Catalyst would broadcast the small side,
    # which hides the property under test; at 100 TB neither fact-table
    # side broadcasts and the bucket layout is exactly what prevents the
    # exchange this plan demonstrates the absence of.
    return (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum("price_cents").cast("double") / 100).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q78_moment_statistics",
    "Second-moment statistics (correlation, regression slope) computed "
    "from EXACT integer power sums — the cross-engine-deterministic way "
    "to do floating statistics: every sum is a BIGINT over integer "
    "quantities/dollars, and the handful of float ops at the end are "
    "identical correctly-rounded operations on identical inputs. The "
    "one-pass moment aggregation is also the shape that scales (no "
    "second pass for the means).",
    oracle="""
        WITH m AS (
            -- sums kept HUGEINT (DuckDB's native SUM(BIGINT) type) so
            -- the oracle's exactness ceiling matches the engine's
            -- decimal(38,0) accumulators — syy crosses 2^63 around
            -- sf100, where a BIGINT-cast sum would error first
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
                   CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT))
                        AS HUGEINT) AS sy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)
                        * CAST(ROUND(l_extendedprice) AS BIGINT))
                        AS HUGEINT) AS syy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(ROUND(l_extendedprice) AS BIGINT))
                        AS HUGEINT) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                      * sqrt(CAST(CAST(n AS HUGEINT) * syy
                                  - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                   AS qty_price_corr,
               CAST(CAST(n AS HUGEINT) * sxy
                    - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                   AS price_per_qty
        FROM m
        ORDER BY l_returnflag
    """,
)
def q78_moment_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")

    # Exactness domain: per-row products fit int64 trivially (qty ≤ 50,
    # rounded price ≤ ~1e5), but the SUMS must not be bigint — syy
    # crosses 1e18 around sf100 and 2⁶³ soon after, and a bigint sum
    # would wrap/NULL silently. Summing decimal(28,0) terms yields
    # decimal(38,0) accumulators: exact to 1e38, the same working range
    # as the oracle's sums (held as HUGEINT, ±1.7e38, end to end),
    # reached only around 100 PB.
    def dsum(c):
        return F.sum(c.cast("decimal(28,0)"))

    m = lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    # moment products of decimal(38,0) operands stay decimal(38,0)
    # (exact for every physically reachable input; past 1e38 Spark nulls
    # where the oracle's HUGEINT errors — both out of working range);
    # the exact integer converts to double ONCE, so the float bits are
    # identical to the oracle's
    def d38(name: str):
        return F.col(name).cast("decimal(38,0)")

    cov_n = (d38("n") * d38("sxy") - d38("sx") * d38("sy")).cast("double")
    var_x = (d38("n") * d38("sxx") - d38("sx") * d38("sx")).cast("double")
    var_y = (d38("n") * d38("syy") - d38("sy") * d38("sy")).cast("double")
    return m.select(
        "l_returnflag",
        "n",
        (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("qty_price_corr"),
        (cov_n / var_x).alias("price_per_qty"),
    ).orderBy("l_returnflag")


@register(
    "q79_funnel_analysis",
    "Event-funnel conversion: per user, the earliest signup -> first "
    "click after it -> first purchase after that (strictly ordered "
    "stages), rolled up to stage-reach counts — the product-analytics "
    "funnel as conditional min-aggregates over one event scan, no "
    "self-joins.",
    oracle="""
        WITH stages AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT s.user_id, s.t1,
                   MIN(CASE WHEN e.event_type = 'click'
                            AND e.ts > s.t1 THEN e.ts END) AS t2
            FROM stages s JOIN events e ON e.user_id = s.user_id
            GROUP BY s.user_id, s.t1
        ),
        p AS (
            SELECT c.user_id, c.t1, c.t2,
                   MIN(CASE WHEN e.event_type = 'purchase'
                            AND e.ts > c.t2 THEN e.ts END) AS t3
            FROM c JOIN events e ON e.user_id = c.user_id
            GROUP BY c.user_id, c.t1, c.t2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(t1) AS BIGINT) AS reached_signup,
               CAST(COUNT(t2) AS BIGINT) AS reached_click,
               CAST(COUNT(t3) AS BIGINT) AS reached_purchase
        FROM p
    """,
)
def q79_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t1 = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t1"
        )
    )
    t2 = (
        t1.join(events, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    t3 = (
        t2.join(events, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    return t3.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("reached_signup"),
        F.count("t2").alias("reached_click"),
        F.count("t3").alias("reached_purchase"),
    )


@register(
    "q80_unpivot",
    "UNPIVOT/melt: per-returnflag quantity and cents sums widened by the "
    "aggregate, then melted back to (flag, measure, value) long form — "
    "the wide->long reshaping half of q19's pivot.",
    oracle="""
        WITH wide AS (
            SELECT l_returnflag,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS sum_price_cents
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, measure, value
        FROM wide
        UNPIVOT (value FOR measure IN (sum_qty, sum_price_cents))
        ORDER BY l_returnflag, measure
    """,
)
def q80_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    wide = lineitem.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("sum_price_cents"),
    )
    return (
        wide.unpivot(
            ["l_returnflag"],
            ["sum_qty", "sum_price_cents"],
            "measure",
            "value",
        )
        # SQL-standard UNPIVOT excludes NULL measures (DuckDB needs
        # INCLUDE NULLS to keep them); Spark's unpivot keeps them —
        # drop to match the standard
        .filter(F.col("value").isNotNull())
        .orderBy("l_returnflag", "measure")
    )


@register(
    "q81_pandas_api",
    "The third client API: pandas API on Spark (pyspark.pandas) — the "
    "pandas-shaped groupby/agg compiles to the same Catalyst plan as "
    "the DataFrame API (to_spark() at the end is plan handoff, not a "
    "collect). Counts and exact cents sums per order priority.",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        -- pandas groupby semantics: dropna=True (the default) — the
        -- engine drops malformed rows before grouping; NaN->int64 on a
        -- NULL price is a ValueError in the pandas column path
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q81_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pandas as ps

    psdf = ps.DataFrame(load_table(spark, sf_dir, "orders")).dropna(
        subset=["o_orderpriority", "o_totalprice"]
    )
    psdf["total_cents"] = (
        (psdf["o_totalprice"] * 100).round().astype("int64")
    )
    out = (
        psdf.groupby("o_orderpriority")
        .agg(n_orders=("o_orderkey", "count"), total_cents=("total_cents", "sum"))
        .reset_index()
        .sort_values("o_orderpriority")
    )
    return out.to_spark().select(
        "o_orderpriority", "n_orders", "total_cents"
    )


@register(
    "q82_map_type",
    "MapType surface: per-priority map of returnflag -> exact cents sum "
    "built with map_from_entries over sorted struct arrays, read back "
    "with element_at and aggregated with map_keys/cardinality — complex-"
    "type construction and access with scalar, hash-comparable outputs.",
    oracle="""
        WITH per AS (
            SELECT o.o_orderpriority, l.l_returnflag,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            -- a map entry needs a key: NULL returnflags can't enter
            -- the map (Spark raises NULL_MAP_KEY)
            WHERE l.l_returnflag IS NOT NULL
            GROUP BY o.o_orderpriority, l.l_returnflag
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS INT) AS n_flags,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN cents END)
                    AS BIGINT) AS returned_cents,
               CAST(SUM(cents) AS BIGINT) AS all_cents
        FROM per
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q82_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    per = (
        lineitem
        # a map entry needs a key: a NULL returnflag raises NULL_MAP_KEY
        # in map_from_entries — drop it before grouping (oracle WHERE)
        .filter(F.col("l_returnflag").isNotNull())
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(F.sum(cents).alias("cents"))
    )
    as_map = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("l_returnflag", "cents"))
            )
        ).alias("by_flag")
    )
    return as_map.select(
        "o_orderpriority",
        F.cardinality("by_flag").alias("n_flags"),
        F.element_at("by_flag", "R").alias("returned_cents"),
        F.expr(
            "aggregate(map_values(by_flag), 0L, (acc, v) -> acc + v)"
        ).alias("all_cents"),
    ).orderBy("o_orderpriority")


@register(
    "q83_scalar_function_breadth",
    "Scalar-function surface in one pass: string transforms (translate/"
    "replace/repeat/reverse/lpad/substring), conditionals (nullif/"
    "coalesce/greatest/least), integer bit ops, and math — every "
    "expression a codegen'd built-in with engine-identical semantics.",
    oracle="""
        SELECT c_custkey,
               translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
               replace(c_name, 'Customer', 'Cust') AS short_name,
               reverse(substring(c_name, 1, 8)) AS rev_prefix,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               greatest(CAST(ROUND(c_acctbal * 100) AS BIGINT), 0)
                   AS nonneg_cents,
               least(c_custkey % 7, c_custkey % 5) AS min_mod,
               (c_custkey & 255) | 16 AS bits,
               ROUND(abs(c_acctbal) + sqrt(CAST(c_custkey AS DOUBLE)), 6)
                   AS mathy
        FROM customer
        ORDER BY c_custkey
    """,
)
def q83_scalar_function_breadth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return customer.select(
        "c_custkey",
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias(
            "seg_lower_vowels"
        ),
        F.replace(
            F.col("c_name"), F.lit("Customer"), F.lit("Cust")
        ).alias("short_name"),
        F.reverse(F.substring("c_name", 1, 8)).alias("rev_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias(
            "padded_key"
        ),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias(
            "seg_or_null"
        ),
        F.greatest(cents, F.lit(0)).alias("nonneg_cents"),
        F.least(F.col("c_custkey") % 7, F.col("c_custkey") % 5).alias(
            "min_mod"
        ),
        (F.col("c_custkey").bitwiseAND(255)).bitwiseOR(16).alias("bits"),
        F.round(
            F.abs("c_acctbal")
            + F.sqrt(F.col("c_custkey").cast("double")),
            6,
        ).alias("mathy"),
    ).orderBy("c_custkey")


@register(
    "q84_na_handling",
    "NA-handling surface (fillna / dropna / replace) over a derived "
    "frame with injected NULLs: nulls filled per-column, rows dropped "
    "on a key subset, categorical recoding — the DataFrameNaFunctions "
    "family, stated relationally for the oracle.",
    oracle="""
        WITH base AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE o_orderpriority END AS pri,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   END AS cents,
                   CASE WHEN o_orderkey % 13 = 0 THEN NULL
                        ELSE o_custkey END AS cust
            FROM orders
        ),
        cleaned AS (
            SELECT o_orderkey,
                   COALESCE(pri, 'UNKNOWN') AS pri,
                   COALESCE(cents, 0) AS cents,
                   cust
            FROM base
            WHERE cust IS NOT NULL
        )
        SELECT o_orderkey,
               CASE pri WHEN 'UNKNOWN' THEN 'N/A' ELSE pri END AS pri,
               cents, cust
        FROM cleaned
        ORDER BY o_orderkey
    """,
)
def q84_na_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 != 0, F.col("o_orderpriority")
        ).alias("pri"),
        F.when(
            F.col("o_orderkey") % 11 != 0,
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ).alias("cents"),
        F.when(F.col("o_orderkey") % 13 != 0, F.col("o_custkey")).alias(
            "cust"
        ),
    )
    return (
        base.na.fill({"pri": "UNKNOWN", "cents": 0})
        .na.drop(subset=["cust"])
        .na.replace("UNKNOWN", "N/A", subset=["pri"])
        .orderBy("o_orderkey")
    )


@register(
    "q85_interval_overlap_join",
    "Interval-overlap join (interval x interval, the general case of "
    "q47's point-in-window): view-windows [ts, ts+30m) vs click-windows "
    "[ts, ts+10m) per user, executed as an equi-join on (user, time "
    "bin) with each pair counted only in its overlap's FIRST bin — "
    "duplicate-free by construction, no post-join distinct, no nested "
    "loop (operators/temporal.interval_overlap_join).",
    oracle="""
        WITH v AS (
            SELECT event_id AS view_id, user_id, ts AS vs,
                   ts + INTERVAL 30 MINUTE AS ve
            FROM events WHERE event_type = 'view'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, ts AS cs,
                   ts + INTERVAL 10 MINUTE AS ce
            FROM events WHERE event_type = 'click'
        )
        SELECT v.view_id, c.click_id
        FROM v JOIN c ON v.user_id = c.user_id
        WHERE v.vs < c.ce AND c.cs < v.ve
        ORDER BY view_id, click_id
    """,
)
def q85_interval_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.operators.temporal import interval_overlap_join

    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("vs"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ve"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cs"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ce"),
    )
    joined = interval_overlap_join(
        views,
        clicks,
        "v_user",
        "c_user",
        "vs",
        "ve",
        "cs",
        "ce",
        bin_seconds=600,
    )
    return joined.select("view_id", "click_id").orderBy(
        "view_id", "click_id"
    )


@register(
    "q86_listagg",
    "Deterministic string aggregation (LISTAGG/string_agg): the set of "
    "order statuses and a sorted joined clerk-digest per priority — "
    "collect_set -> array_sort -> array_join keeps the aggregate "
    "order-independent (a bare collect_list would be partition-order "
    "nondeterministic and can never be hash-compared).",
    oracle="""
        SELECT o_orderpriority,
               string_agg(DISTINCT o_orderstatus, ','
                          ORDER BY o_orderstatus) AS statuses,
               COUNT(DISTINCT o_custkey) AS n_custs
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q86_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    joined = F.array_join(
        F.array_sort(F.collect_set("o_orderstatus")), ","
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            # LISTAGG of zero non-null values is NULL (string_agg
            # semantics) — collect_set skips NULLs, so an all-NULL
            # group would otherwise join to '' and diverge
            F.when(
                F.size(F.collect_set("o_orderstatus")) > 0, joined
            ).alias("statuses"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q87_bit_aggs",
    "Bitwise aggregates (bit_and/bit_or/bit_xor over grouped integers) — "
    "order-independent by algebra, engine-identical on integer inputs; "
    "the flag-packing / permission-mask rollup shape.",
    oracle="""
        SELECT l_returnflag,
               bit_and(CAST(l_linenumber AS BIGINT)) AS all_bits,
               bit_or(CAST(l_linenumber AS BIGINT)) AS any_bits,
               bit_xor(CAST(l_linenumber AS BIGINT)) AS parity_bits,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def q87_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    line_bits = F.col("l_linenumber").cast("long")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.bit_and(line_bits).alias("all_bits"),
            F.bit_or(line_bits).alias("any_bits"),
            F.bit_xor(line_bits).alias("parity_bits"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q88_histogram_bins",
    "Fixed-width histogram: order totals bucketed by integer cents "
    "arithmetic (bin = floor(total_cents / width)), per-bin count and "
    "exact cents min/max — the distribution-profiling scan, one pass, "
    "no sort. Explicit FLOOR on both sides keeps the binning "
    "bit-identical across engines even for negative totals (Spark's "
    "`div` truncates toward zero, DuckDB's `//` floors — they diverge "
    "below zero).",
    oracle="""
        SELECT CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   / 5000000.0) AS BIGINT) AS bin,
               COUNT(*) AS n,
               MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS lo_cents,
               MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS hi_cents
        FROM orders
        GROUP BY bin
        ORDER BY bin
    """,
)
def q88_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.select(cents.alias("_cents"))
        .select(
            F.floor(F.col("_cents") / F.lit(5000000)).alias("bin"),
            "_cents",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("_cents").alias("lo_cents"),
            F.max("_cents").alias("hi_cents"),
        )
        .orderBy("bin")
    )


@register(
    "q89_regexp_breadth",
    "Regular-expression function breadth over the documents corpus: "
    "match counts (regexp_extract_all length), scrub lengths "
    "(regexp_replace), and anchored predicates (rlike), rolled up per "
    "language — patterns restricted to the char-class/quantifier subset "
    "where Java and RE2 regex semantics agree.",
    oracle="""
        SELECT lang,
               CAST(SUM(len(regexp_extract_all(text, '[0-9]+')))
                    AS BIGINT) AS n_numbers,
               CAST(SUM(CASE WHEN regexp_matches(text, '^[A-Z]')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_upper_start,
               CAST(SUM(length(regexp_replace(text, '[aeiou]', '', 'g')))
                    AS BIGINT) AS len_no_vowels
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def q89_regexp_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(
                F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0))
            ).alias("n_numbers"),
            F.sum(
                F.when(F.col("text").rlike("^[A-Z]"), 1).otherwise(0)
            ).alias("n_upper_start"),
            F.sum(
                F.length(F.regexp_replace("text", "[aeiou]", ""))
            ).alias("len_no_vowels"),
        )
        .orderBy("lang")
    )


@register(
    "q90_ntile_buckets",
    "NTILE decile assignment with a deterministic tie-break (orderkey, "
    "linenumber) — the quantile-bucketing window the rank family (q59) "
    "lacks; per-decile exact cents sums and bounds prove the bucket "
    "edges agree across engines. The decile assignment runs on "
    "functions/rank.global_ntile — the two-pass range-partitioned "
    "exact NTILE — so even the exact-semantics reference never "
    "funnels the fact table through one task; at 100 TB the cheaper "
    "alternative remains percentile_approx cutpoints (q61's sketch).",
    oracle="""
        WITH ranked AS (
            SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
                   NTILE(10) OVER (ORDER BY l_extendedprice,
                                   l_orderkey, l_linenumber) AS decile
            FROM lineitem
        )
        SELECT decile,
               COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS cents_sum,
               MIN(cents) AS lo,
               MAX(cents) AS hi
        FROM ranked
        GROUP BY decile
        ORDER BY decile
    """,
)
def q90_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.functions.rank import Ord, global_ntile

    lineitem = load_table(spark, sf_dir, "lineitem")
    # NULLS LAST: a NULL price sorting first (Spark's ASC default)
    # shifts every decile boundary vs DuckDB's nulls-last
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    narrow = lineitem.select(
        cents.alias("cents"),
        F.col("l_extendedprice"),
        "l_orderkey",
        "l_linenumber",
    )
    return (
        global_ntile(
            narrow,
            [
                Ord("l_extendedprice", nulls_last=True),
                Ord("l_orderkey"),
                Ord("l_linenumber"),
            ],
            10,
            out="decile",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents_sum"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        )
        .orderBy("decile")
    )


@register(
    "q91_forecast_revenue",
    "TPC-H Q6 shape: the forecast-revenue what-if — one filtered scan, "
    "one scalar aggregate, no joins or shuffles beyond the final "
    "single-row combine. Discount matching and the price x discount "
    "product run in exact integer basis points, so the cross-engine "
    "hash is bit-stable.",
    oracle="""
        SELECT CAST(SUM(
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * CAST(ROUND(l_discount * 100) AS BIGINT)
               ) AS BIGINT) AS revenue_e4,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
          AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
          AND l_quantity < 24
    """,
)
def q91_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & disc_bp.between(5, 7)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(cents * disc_bp).alias("revenue_e4"),
        F.count("*").alias("n"),
    )


@register(
    "q92_volume_shipping",
    "TPC-H Q7 shape: bilateral trade volume between two nations by "
    "year — lineitem x supplier x orders x customer with TWO distinct "
    "broadcast joins against nation (supplier's and customer's), the "
    "symmetric pair filter, year extraction, exact-cents volume.",
    oracle="""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
               ) AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= DATE '1996-01-01'
          AND l.l_shipdate < DATE '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q92_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), "s_nationkey")
        .join(F.broadcast(n2), "c_nationkey")
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(cents * (100 - disc_bp)).alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q93_returned_items",
    "TPC-H Q10 shape: top-20 customers by revenue lost to returns in "
    "one quarter — fact filter (returnflag), order-date window, "
    "customer/nation broadcast enrichment, exact-cents revenue, "
    "TakeOrderedAndProject with a deterministic key tie-break.",
    oracle="""
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(SUM(
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
               ) AS BIGINT) AS revenue_e4
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1996-04-01'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue_e4 DESC, c_custkey
        LIMIT 20
    """,
)
def q93_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_bp = F.round(F.col("l_discount") * 100).cast("long")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents * (100 - disc_bp)).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q94_customer_distribution",
    "TPC-H Q13 shape: the distribution of customers by order count, "
    "INCLUDING zero-order customers — the left outer join + "
    "count(join-side key) null-skip that an inner join silently gets "
    "wrong, folded into a second aggregate over the first's output.",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def q94_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        customer.join(
            orders, F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q95_regression_stats",
    "Ordinary-least-squares regression of line revenue (cents) on "
    "quantity per return flag, computed from EXACT integer moment sums "
    "(Σx, Σy, Σxy, Σx² as decimal(38,0) — order-independent, unlike the "
    "builtin regr_* aggregates whose double sums are partition-order-"
    "dependent) with one final double division; plus exact integer "
    "median. The portable form of regression push-down: one scan, "
    "partial aggregation map-side, a 4-number reduce per group.",
    oracle="""
        WITH m AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS DECIMAL(38,0))
                       AS sx,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                       AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                            * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                       AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                            * CAST(l_quantity AS BIGINT))
                       AS DECIMAL(38,0)) AS sxx,
                   MEDIAN(CAST(l_quantity AS BIGINT)) AS median_qty
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               n AS n_rows,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
               (CAST(sy AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / n AS intercept_cents,
               CAST(median_qty AS DOUBLE) AS median_qty
        FROM m
        ORDER BY l_returnflag
    """,
)
def q95_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = as_scaled_long("l_extendedprice")
    dec = "decimal(38,0)"
    m = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast(dec).alias("sx"),
        F.sum(y).cast(dec).alias("sy"),
        F.sum(x * y).cast(dec).alias("sxy"),
        F.sum(x * x).cast(dec).alias("sxx"),
        F.median(x).alias("median_qty"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        slope.alias("slope_cents"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("intercept_cents"),
        F.col("median_qty").cast("double").alias("median_qty"),
    ).orderBy("l_returnflag")


@register(
    "q96_arg_extrema",
    "Argument-extrema and boolean aggregation breadth per nation: "
    "richest/poorest customer via max_by/min_by over a UNIQUE scalar "
    "order key (balance cents scaled + custkey tiebreak — Spark's "
    "max_by on ties is nondeterministic, so determinism is constructed, "
    "not assumed), plus count_if / bool_or. Dim join broadcasts; one "
    "shuffle on nationkey.",
    oracle="""
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               arg_max(c_name,
                       CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000
                       - c_custkey) AS richest,
               arg_min(c_name,
                       CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000
                       - c_custkey) AS poorest,
               CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_overdrawn,
               bool_or(c_acctbal > 9000) AS has_high_balance
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
)
def q96_arg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # injective while c_custkey < 1e9 (TPC-H SF ~6,600; the prior 1e7
    # multiplier collided at SF 67) and |acctbal cents| * 1e9 < 2^63
    key = as_scaled_long("c_acctbal") * F.lit(1_000_000_000) - F.col(
        "c_custkey"
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.max_by("c_name", key).alias("richest"),
            F.min_by("c_name", key).alias("poorest"),
            F.count_if(F.col("c_acctbal") < 0).alias("n_overdrawn"),
            F.bool_or(F.col("c_acctbal") > 9000).alias(
                "has_high_balance"
            ),
        )
        .orderBy("n_name")
    )


@register(
    "q97_distinct_window",
    "DISTINCT aggregation over windows — a construct Spark SQL lacks "
    "(COUNT(DISTINCT) OVER raises) — composed scalably from ranking "
    "primitives: first-occurrence flag (row_number per (user, type) = 1) "
    "cumulative-summed per user gives the running distinct event-type "
    "count; its partition total gives the per-user distinct count. "
    "Integer-only, no collect_set materialization (the naive "
    "size(collect_set) OVER buffers every row's set — O(n²) per "
    "partition at scale); the oracle uses DuckDB's native "
    "COUNT(DISTINCT) OVER.",
    oracle="""
        SELECT event_id, user_id,
               CAST(count(DISTINCT event_type) OVER (
                   PARTITION BY user_id) AS BIGINT) AS n_types_user,
               CAST(count(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS running_distinct
        FROM events
        ORDER BY user_id, ts, event_id
    """,
)
def q97_distinct_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # NULLS LAST to match DuckDB's default (Spark ASC is nulls-first) —
    # a NULL-ts row's position changes every running count after it;
    # and COUNT(DISTINCT) skips NULL types, so a NULL event_type must
    # not raise the first-seen flag
    first_seen = (
        (
            F.row_number().over(
                Window.partitionBy("user_id", "event_type").orderBy(
                    F.asc_nulls_last("ts"), "event_id"
                )
            )
            == 1
        )
        & F.col("event_type").isNotNull()
    ).cast("bigint")
    flagged = ev.select(
        "event_id", "user_id", "ts", first_seen.alias("first_seen")
    )
    running = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    total = Window.partitionBy("user_id")
    return (
        flagged.select(
            "event_id",
            "user_id",
            "ts",
            F.sum("first_seen").over(total).alias("n_types_user"),
            F.sum("first_seen")
            .over(
                running.rowsBetween(Window.unboundedPreceding, 0)
            )
            .alias("running_distinct"),
        )
        .orderBy("user_id", "ts", "event_id")
        .drop("ts")
    )


@register(
    "q98_window_ignore_nulls",
    "IGNORE NULLS window breadth — the LOCF family on raw event rows: "
    "error events null out their reading; per user (ordered by ts) each "
    "row carries the forward-filled last valid value, the previous "
    "valid value (lag-ignore-nulls as a last_value over the "
    "up-to-previous frame), and the second valid reading "
    "(nth_value ignoreNulls). One window partition shuffle; frames are "
    "running, so state per partition is O(1). Complements q72, which "
    "does LOCF on a densified daily grid.",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_type = 'error' THEN NULL
                        ELSE CAST(ROUND(value * 100) AS BIGINT)
                   END AS valid_cents
            FROM events
        )
        SELECT event_id, user_id, valid_cents,
               last_value(valid_cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ffill_cents,
               last_value(valid_cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_valid_cents,
               nth_value(valid_cents, 2 IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS second_valid_cents
        FROM e
        ORDER BY user_id, ts, event_id
    """,
)
def q98_window_ignore_nulls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # mirror the oracle's CASE WHEN = 'error' THEN NULL ELSE keep:
    # a NULL event_type KEEPS its reading (a != predicate would null it
    # on NULL input — a silent engine/oracle divergence)
    valid = F.when(
        F.col("event_type") == "error", F.lit(None).cast("bigint")
    ).otherwise(F.round(F.col("value") * 100).cast("bigint"))
    base = ev.select(
        "event_id", "user_id", "ts", valid.alias("valid_cents")
    )
    # NULLS LAST: DuckDB's ASC default; Spark's is nulls-first, which
    # would slot a NULL-ts row BEFORE the user's history and change
    # every forward-fill after it
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    upto_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    return (
        base.select(
            "event_id",
            "user_id",
            "ts",
            "valid_cents",
            F.last("valid_cents", ignorenulls=True)
            .over(running)
            .alias("ffill_cents"),
            F.last("valid_cents", ignorenulls=True)
            .over(upto_prev)
            .alias("prev_valid_cents"),
            F.nth_value("valid_cents", 2, ignoreNulls=True)
            .over(running)
            .alias("second_valid_cents"),
        )
        .orderBy("user_id", "ts", "event_id")
        .drop("ts")
    )


@register(
    "q99_xml_extract",
    "XML ingestion breadth (native from_xml + xpath, new engine surface "
    "in Spark 4): an order-feed XML document is derived per row, parsed "
    "back with a typed from_xml schema, cross-checked field-by-field "
    "with xpath extraction, and rolled up per status. The oracle "
    "recomputes the same rollup from the source columns — the parse "
    "must be lossless to hash-match (same synthesize-then-parse "
    "discipline as the URL/JSON queries).",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(count_if(o_orderpriority LIKE '1-%'
                             OR o_orderpriority LIKE '2-%')
                    AS BIGINT) AS n_urgent,
               CAST(TRUE AS BOOLEAN) AS parse_consistent
        FROM orders
        -- the feed synthesis needs all four fields: a NULL anywhere
        -- NULLs the whole concat'd document (nothing to parse or
        -- certify) — both sides skip such rows
        WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
          AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
)
def q99_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_orderstatus").isNotNull()
        & F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    xml = F.concat(
        F.lit("<order><key>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</key><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><priority>"),
        F.col("o_orderpriority"),
        F.lit("</priority><cents>"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.lit("</cents></order>"),
    )
    feed = orders.select(xml.alias("doc"))
    parsed = feed.select(
        F.from_xml(
            "doc",
            "key BIGINT, status STRING, priority STRING, cents BIGINT",
        ).alias("o"),
        F.xpath_long("doc", F.lit("/order/cents")).alias("xp_cents"),
    )
    return (
        parsed.groupBy(F.col("o.status").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o.cents").alias("total_cents"),
            F.count_if(
                F.col("o.priority").startswith("1-")
                | F.col("o.priority").startswith("2-")
            ).alias("n_urgent"),
            # xpath and from_xml must agree on every row — folded into
            # one externally-checked boolean
            F.bool_and(F.col("o.cents") == F.col("xp_cents")).alias(
                "parse_consistent"
            ),
        )
        .orderBy("status")
    )


@register(
    "q100_cohort_retention",
    "Cohort retention matrix: users cohorted by their first-event week, "
    "counted distinct-active per whole-week offset — the standard "
    "product-analytics triangle. Two shuffles total: the per-user min "
    "(map-side partial first) and the (cohort, offset) distinct-count "
    "rollup; the cohort table joins back user-keyed, never row-expanded.",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        )
        SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
               CAST((date_trunc('week', e.ts)::DATE - f.cohort_week::DATE)
                    // 7 AS BIGINT) AS week_offset,
               COUNT(DISTINCT e.user_id) AS n_active
        FROM events e JOIN firsts f USING (user_id)
        GROUP BY 1, 2
        ORDER BY cohort_week, week_offset
    """,
    category="relational",
)
def q100_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        events.join(firsts, "user_id")
        .select(
            # timestamp-at-midnight, like q1: the driver's comparison
            # unifies it with the oracle's DATE
            F.col("cohort_week"),
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))),
                    F.to_date("cohort_week"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "q101_scd2_point_in_time",
    "SCD Type-2 reconstruction + point-in-time join: each user's event "
    "stream becomes validity intervals (effective_from = ts, "
    "effective_to = next ts via LEAD — the standard SCD2 build), the "
    "state as of a fixed timestamp is the interval containing it, and "
    "the reconstructed state enriches with the customer dimension for "
    "a per-segment rollup. One window shuffle on the user key builds "
    "ALL intervals; the point-in-time filter is a pushable predicate; "
    "the dim join broadcasts — the warehouse time-travel shape without "
    "a log-structured table format.",
    oracle="""
        WITH intervals AS (
            SELECT user_id, value, ts AS effective_from,
                   LEAD(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS effective_to
            FROM events
        ),
        pit AS (
            SELECT user_id, value FROM intervals
            WHERE effective_from <= TIMESTAMP '2024-06-01 00:00:00'
              AND (effective_to IS NULL
                   OR effective_to > TIMESTAMP '2024-06-01 00:00:00')
        )
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n_users,
               CAST(SUM(CAST(ROUND(a.value * 100) AS BIGINT)) AS BIGINT)
                   AS total_value_cents
        FROM pit a JOIN customer c ON a.user_id = c.c_custkey
        GROUP BY segment
        ORDER BY segment
    """,
    category="relational",
)
def q101_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    intervals = events.select(
        "user_id",
        "value",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
    )
    t = F.lit("2024-06-01 00:00:00").cast("timestamp")
    asof = intervals.filter(
        (F.col("effective_from") <= t)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > t))
    )
    return (
        asof.join(
            F.broadcast(customer),
            asof.user_id == customer.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_value_cents"
            ),
        )
        .orderBy("segment")
    )


@register(
    "q102_retractable_agg",
    "Retraction-algebra incremental view: the event stream as a signed "
    "changelog (error events retract, everything else inserts), "
    "maintained as per-user (n_live, cents_sum) sums — the Flink/"
    "Materialize-style state where two batches' states MERGE BY "
    "ADDITION (law-tested incl. retraction-before-insert batch "
    "orders), liveness is a read-time filter, and fully retracted keys "
    "vanish with no tombstone (operators/merge.retractable_state).",
    oracle="""
        WITH deltas AS (
            SELECT user_id,
                   CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS op,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT user_id,
               CAST(SUM(op) AS BIGINT) AS n_live,
               CAST(SUM(op * cents) AS BIGINT) AS cents_sum
        FROM deltas
        GROUP BY user_id
        HAVING SUM(op) > 0
        ORDER BY user_id
    """,
    category="relational",
)
def q102_retractable_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.merge import live_rows, retractable_state

    events = load_table(spark, sf_dir, "events")
    deltas = events.select(
        "user_id",
        F.when(F.col("event_type") == "error", -1).otherwise(1).alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return live_rows(retractable_state(deltas)).orderBy("user_id")
