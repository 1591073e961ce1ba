"""Star-schema join + aggregation layer (beyond-reference extension).

The reference has **no joins** (SURVEY.md §2.5) — its only multi-table
behavior is pipeline composition. A real analytics engine needs dimension
enrichment, so this module adds the join-capable layer over the driver's
TPC-H-ish star schema, plus an enrichment join of the `events` stream table
against the customer/nation dimensions (the analog of the reference's
implicit vehicle/sensor dimensions).

Join strategy for 100 TB:
- `F.broadcast()` hints appear ONLY on tables whose cardinality does NOT
  scale with data volume: region (5 rows), nation (25 rows), and 1-row
  scalar aggregates. customer / supplier / part all grow with SF — at
  100 TB a forced broadcast of any of them OOMs every executor — so those
  joins carry no hint: the planner (CBO stats + AQE runtime re-plan)
  auto-broadcasts them while they fit under
  spark.sql.autoBroadcastJoinThreshold (64 MB, session.py) and degrades
  to shuffle hash joins beyond that. tests/test_plans.py pins both halves
  of that contract (no ResolvedHint on SF-scaled tables; the planner
  still *chooses* broadcast at bench SF so small-SF plans don't regress);
- the one genuinely large-large join (orders ⋈ lineitem) is a shuffle join
  on the key both sides would be bucketed on in a managed layout
  (`write.bucketBy(N, "o_orderkey")`); AQE handles skew splitting;
- aggregations sit above the joins so Catalyst pushes filters beneath the
  join (verified in tests/test_plans.py).

Determinism: money aggregates run through exact DECIMAL arithmetic
(prices/discounts/taxes are 2-dp values), then convert to DOUBLE once —
double summation is order-dependent across partitions, and Spark's and
DuckDB's orders differ, so a double-summed revenue can land on a rounding
boundary. Decimal sums are exact and associative → bit-identical across
engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.rounding import fround
from ..registry import register
from ..sources.tables import load_table


def _dec2(col: str) -> Column:
    return F.col(col).cast("decimal(12,2)")


# decimal forms of the classic revenue expressions
def _disc_price() -> Column:
    return _dec2("l_extendedprice") * (F.lit(1) - _dec2("l_discount"))


def _charge() -> Column:
    return _disc_price() * (F.lit(1) + _dec2("l_tax"))


_SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2)))"
)
_SQL_CHARGE = _SQL_DISC_PRICE + " * (1 + CAST(l_tax AS DECIMAL(12,2)))"


def _sum_dbl(c: Column) -> Column:
    return F.sum(c).cast("double")


# ---------------------------------------------------------------------------
# J1 — TPC-H Q1 shape: pricing summary (no join; scan-heavy agg baseline)
# ---------------------------------------------------------------------------
@register(
    "j1_pricing_summary",
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS sum_base_price,
       round(CAST(sum({_SQL_DISC_PRICE}) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(sum({_SQL_CHARGE}) AS DOUBLE), 2) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="J1: TPC-H Q1 pricing summary over lineitem (decimal-exact sums)",
)
def j1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fround(_sum_dbl(_dec2("l_quantity")), 2).alias("sum_qty"),
            fround(_sum_dbl(_dec2("l_extendedprice")), 2).alias("sum_base_price"),
            fround(_sum_dbl(_disc_price()), 2).alias("sum_disc_price"),
            fround(_sum_dbl(_charge()), 2).alias("sum_charge"),
            fround(_sum_dbl(_dec2("l_quantity")) / n, 6).alias("avg_qty"),
            fround(_sum_dbl(_dec2("l_extendedprice")) / n, 6).alias("avg_price"),
            fround(_sum_dbl(_dec2("l_discount")) / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — TPC-H Q3 shape: shipping priority (3-way join, top-k revenue)
# ---------------------------------------------------------------------------
@register(
    "j3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue,
       o.o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="J3: TPC-H Q3 shipping priority (planner-chosen customer join, top-10)",
)
def j3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    return (
        l.filter(F.col("l_shipdate") > cutoff)
        .join(
            o.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            # customer scales with SF — no broadcast hint; the planner
            # broadcasts the BUILDING slice while it fits, shuffles beyond
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(fround(_sum_dbl(_disc_price()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J5 — TPC-H Q5 shape: full star join through region/nation
# ---------------------------------------------------------------------------
@register(
    "j5_region_supplier_volume",
    oracle=f"""
SELECT n.n_name,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue,
       count(*) AS lineitem_count
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
""",
    doc="J5: region-filtered supplier volume (planner-chosen dim join)",
)
def j5_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dims = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("s_suppkey", "n_name")
    )
    return (
        # dims is supplier-derived (scales with SF) — planner's choice
        l.join(dims, l.l_suppkey == dims.s_suppkey)
        .groupBy("n_name")
        .agg(
            fround(_sum_dbl(_disc_price()), 2).alias("revenue"),
            F.count("*").alias("lineitem_count"),
        )
        .select("n_name", "revenue", "lineitem_count")
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# J10 — large-large join: orders ⋈ lineitem per-order rollup
# ---------------------------------------------------------------------------
@register(
    "j10_order_rollup",
    oracle=f"""
SELECT o.o_orderstatus,
       o.o_orderpriority,
       count(DISTINCT o.o_orderkey) AS order_count,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue,
       round(CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 6) AS avg_qty
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus, o.o_orderpriority
""",
    doc="J10: shuffle join orders⋈lineitem (the bucket-by candidate at scale)",
)
def j10_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("order_count"),
            fround(_sum_dbl(_disc_price()), 2).alias("revenue"),
            fround(_sum_dbl(_dec2("l_quantity")) / F.count(F.lit(1)), 6).alias(
                "avg_qty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# J11 — part enrichment: revenue by brand (broadcast part)
# ---------------------------------------------------------------------------
@register(
    "j11_brand_revenue",
    oracle=f"""
SELECT p.p_brand,
       count(*) AS lineitem_count,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue,
       round(CAST(sum(CAST(p.p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 6) AS avg_retail_price
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY revenue DESC, p_brand
""",
    doc="J11: lineitem ⋈ part revenue by brand (planner-chosen join)",
)
def j11_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("lineitem_count"),
            fround(_sum_dbl(_disc_price()), 2).alias("revenue"),
            fround(
                _sum_dbl(_dec2("p_retailprice")) / F.count(F.lit(1)), 6
            ).alias("avg_retail_price"),
        )
        .orderBy(F.col("revenue").desc(), F.col("p_brand"))
    )


# ---------------------------------------------------------------------------
# J12 — semi/anti joins: customers with vs without orders
# ---------------------------------------------------------------------------
@register(
    "j12_customer_order_presence",
    oracle="""
SELECT 'with_orders' AS bucket, count(*) AS customer_count
FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'without_orders', count(*)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="J12: left_semi / left_anti join (EXISTS / NOT EXISTS)",
)
def j12_customer_order_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count("*").alias("customer_count"))
        .select(F.lit("with_orders").alias("bucket"), "customer_count")
    )
    without = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("customer_count"))
        .select(F.lit("without_orders").alias("bucket"), "customer_count")
    )
    return with_orders.unionAll(without)


# ---------------------------------------------------------------------------
# J13 — events enriched against customer/nation dims (stream-table pattern)
# ---------------------------------------------------------------------------
@register(
    "j13_events_enriched",
    oracle="""
SELECT n.n_name,
       c.c_mktsegment,
       e.event_type,
       count(*) AS event_count,
       round(CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value,
       round(CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6)
         AS avg_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, c.c_mktsegment, e.event_type
""",
    doc="J13: fact-stream enrichment via dimension joins (nation broadcast)",
)
def j13_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # nation is 25 rows forever → hint; the customer-derived dim scales
    # with SF → planner's choice (broadcasts while under threshold)
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_mktsegment", "n_name"
    )
    return (
        e.join(dim, e.user_id == dim.c_custkey)
        .groupBy("n_name", "c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("event_count"),
            fround(_sum_dbl(_dec2("value")), 2).alias("total_value"),
            fround(_sum_dbl(_dec2("value")) / F.count(F.lit(1)), 6).alias(
                "avg_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# W1 — analytic window functions (absent from the reference; core engine
# capability): top-3 orders per customer by price, with rank + lag
# ---------------------------------------------------------------------------
@register(
    "w1_top_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
       CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t
WHERE rn <= 3 AND o_custkey < 100
""",
    doc="W1: row_number window, top-3 orders per customer",
)
def w1_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.filter(F.col("o_custkey") < 100)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            fround("o_totalprice", 2).alias("o_totalprice"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# W2 — cumulative / moving aggregates over event time per user
# (window-ordered cumulative sums are order-deterministic in both engines,
# so plain double arithmetic is cross-engine safe here)
# ---------------------------------------------------------------------------
@register(
    "w2_user_running_value",
    oracle="""
SELECT event_id, user_id, ts,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
         AS delta_from_prev
FROM events
WHERE user_id < 10
""",
    doc="W2: running sum + lag deltas per user over event time",
)
def w2_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.filter(F.col("user_id") < 10)
        .select(
            "event_id",
            "user_id",
            "ts",
            fround(
                F.sum("value").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ).alias("running_value"),
            fround(F.col("value") - F.lag("value").over(w), 2).alias(
                "delta_from_prev"
            ),
        )
    )


# ---------------------------------------------------------------------------
# G1 — grouping sets / rollup (absent from reference; engine capability)
# ---------------------------------------------------------------------------
@register(
    "g1_rollup_order_stats",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS order_count,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2)
         AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
HAVING count(*) > 0  -- empty-corpus parity: Spark's rollup/cube emits no
-- rows on empty input while SQL GROUP BY ROLLUP/CUBE/() emits the
-- grand-total row; every real grouping row aggregates >=1 input row,
-- so this only suppresses the empty-corpus phantom
""",
    doc="G1: ROLLUP hierarchy totals over orders",
)
def g1_rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("order_count"),
            fround(
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double"),
                2,
            ).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "order_count",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# U1 — set operations (absent from reference; engine capability)
# ---------------------------------------------------------------------------
@register(
    "u1_active_keys_union",
    oracle="""
SELECT custkey FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
  UNION
  SELECT user_id AS custkey FROM events WHERE value > 150
) t
""",
    doc="U1: UNION (distinct) of high-value customer keys from two tables",
)
def u1_active_keys_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    a = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = e.filter(F.col("value") > 150).select(F.col("user_id").alias("custkey"))
    return a.union(b).distinct()


# ---------------------------------------------------------------------------
# J2 — argmin-per-group decorrelation (TPC-H Q2 shape, adapted: the testdata
# has no partsupp table, so the "minimum-cost supplier" becomes the
# minimum-price lineitem per brand). The correlated `WHERE price = (SELECT
# min(...))` subquery decorrelates into aggregate + join-back — the plan
# Catalyst itself produces for scalar subqueries; writing it explicitly
# keeps both engines on the identical two-phase shape. Ties on price break
# to the lowest (l_orderkey, l_linenumber) via struct-min.
# ---------------------------------------------------------------------------
@register(
    "j2_min_price_per_brand",
    oracle="""
WITH lp AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_extendedprice, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
  SELECT p_brand, min(l_extendedprice) AS min_price FROM lp GROUP BY p_brand
),
w AS (
  SELECT lp.p_brand, lp.l_extendedprice, lp.l_orderkey, lp.l_linenumber, lp.l_suppkey,
         row_number() OVER (PARTITION BY lp.p_brand
                            ORDER BY lp.l_orderkey, lp.l_linenumber) AS rn
  FROM lp JOIN m ON lp.p_brand = m.p_brand AND lp.l_extendedprice = m.min_price
)
SELECT w.p_brand,
       round(w.l_extendedprice, 2) AS min_price,
       w.l_orderkey,
       w.l_linenumber,
       s.s_name
FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
WHERE rn = 1
""",
    doc="J2: correlated-min subquery decorrelated to agg + join-back",
)
def j2_min_price_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lp = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice", "p_brand"
    )
    # m is one row per p_brand — a bounded enum (~dozens of brands at any
    # SF), the one aggregate here that IS safe to hint
    m = lp.groupBy("p_brand").agg(F.min("l_extendedprice").alias("min_price"))
    winner = (
        lp.join(
            F.broadcast(m),
            (lp.p_brand == m.p_brand)
            & (lp.l_extendedprice == m.min_price),
        )
        .drop(m.p_brand)
        .groupBy("p_brand")
        .agg(
            F.min(
                F.struct("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice")
            ).alias("w")
        )
        .select(
            "p_brand",
            fround("w.l_extendedprice", 2).alias("min_price"),
            F.col("w.l_orderkey").alias("l_orderkey"),
            F.col("w.l_linenumber").alias("l_linenumber"),
            F.col("w.l_suppkey").alias("l_suppkey"),
        )
    )
    return winner.join(s, winner.l_suppkey == s.s_suppkey).select(
        "p_brand", "min_price", "l_orderkey", "l_linenumber", "s_name"
    )


# ---------------------------------------------------------------------------
# J4 — order-priority check (TPC-H Q4 shape): EXISTS with a correlated
# inequality → left-semi join with a composite condition. The semi join
# shuffles only the join keys, never duplicates orders rows.
# ---------------------------------------------------------------------------
@register(
    "j4_priority_late_ship",
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o.o_orderpriority
""",
    doc="J4: EXISTS semi-join, orders shipped >30 days after order date",
)
def j4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# J6 — forecast revenue change (TPC-H Q6): the pure pushdown query. All
# three predicates reach the parquet scan (PushedFilters), the projection
# reads 3 columns, and the whole plan is scan → partial agg → final agg
# with no shuffle beyond the single-row exchange.
# ---------------------------------------------------------------------------
@register(
    "j6_forecast_revenue",
    oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE), 2) AS revenue,
       count(*) AS qualifying_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
""",
    doc="J6: TPC-H Q6 filter-heavy scan (full predicate pushdown)",
)
def j6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            fround(
                _sum_dbl(_dec2("l_extendedprice") * _dec2("l_discount")), 2
            ).alias("revenue"),
            F.count("*").alias("qualifying_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# J14 — promo revenue share (TPC-H Q14 shape): conditional aggregate over a
# broadcast join, reported per ship-month.
# ---------------------------------------------------------------------------
@register(
    "j14_promo_revenue",
    oracle=f"""
SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
       round(CAST(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN {_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}
                              ELSE 0 END) AS DOUBLE)
             / CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 6) AS promo_pct,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP)
""",
    doc="J14: promo revenue share per ship-month (conditional agg over join)",
)
def j14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(F.lit(0))
    ).cast("double")
    total = _sum_dbl(_disc_price())
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            fround(F.lit(100.0) * promo / total, 6).alias("promo_pct"),
            fround(total, 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J18 — large-volume orders (TPC-H Q18 shape): groupBy-HAVING subquery
# feeding a join back against orders + customer.
# ---------------------------------------------------------------------------
@register(
    "j18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 350
)
SELECT c.c_name, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice,
       round(big.total_qty, 2) AS total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
    doc="J18: HAVING-filtered rollup joined back to orders/customer",
)
def j18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 350)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            fround("o_totalprice", 2).alias("o_totalprice"),
            fround("total_qty", 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# J19 — disjunctive multi-bracket predicate (TPC-H Q19 shape): OR-of-ANDs
# across join columns. Catalyst extracts the common l_partkey=p_partkey
# conjunct so the join stays a broadcast-hash join with the disjunction
# evaluated as a post-join filter.
# ---------------------------------------------------------------------------
@register(
    "j19_bracket_revenue",
    oracle=f"""
SELECT round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue,
       count(*) AS matched_lineitems
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
""",
    doc="J19: OR-of-ANDs bracket predicate over lineitem ⋈ part",
)
def j19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            fround(_sum_dbl(_disc_price()), 2).alias("revenue"),
            F.count("*").alias("matched_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# U2 — INTERSECT / EXCEPT (completing the set-operation family with U1)
# ---------------------------------------------------------------------------
@register(
    "u2_key_overlap",
    oracle="""
SELECT 'in_both' AS bucket, count(*) AS key_count FROM (
  SELECT o_custkey FROM orders INTERSECT SELECT user_id FROM events
) a
UNION ALL
SELECT 'orders_only', count(*) FROM (
  SELECT o_custkey FROM orders EXCEPT SELECT user_id FROM events
) b
UNION ALL
SELECT 'events_only', count(*) FROM (
  SELECT user_id FROM events EXCEPT SELECT o_custkey FROM orders
) c
""",
    doc="U2: INTERSECT / EXCEPT key-overlap buckets between fact tables",
)
def u2_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    e = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))

    def bucket(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("key_count")).select(
            F.lit(name).alias("bucket"), "key_count"
        )

    # subtract == SQL EXCEPT (distinct); exceptAll+distinct would WRONGLY
    # keep keys that merely appear more often in A than in B
    return (
        bucket(o.intersect(e), "in_both")
        .unionAll(bucket(o.subtract(e), "orders_only"))
        .unionAll(bucket(e.subtract(o), "events_only"))
    )


# ---------------------------------------------------------------------------
# G2 — CUBE (all grouping-set combinations; completes G1's ROLLUP)
# ---------------------------------------------------------------------------
@register(
    "g2_cube_event_stats",
    oracle="""
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(year(ts) AS INTEGER), -1) AS event_year,
       count(*) AS event_count,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(year(ts) AS INTEGER))
HAVING count(*) > 0  -- empty-corpus parity: Spark's rollup/cube emits no
-- rows on empty input while SQL GROUP BY ROLLUP/CUBE/() emits the
-- grand-total row; every real grouping row aggregates >=1 input row,
-- so this only suppresses the empty-corpus phantom
""",
    doc="G2: CUBE over (event_type, year) — all grouping-set combinations",
)
def g2_cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.cube("event_type", F.year("ts").alias("event_year"))
        .agg(
            F.count("*").alias("event_count"),
            fround(_sum_dbl(_dec2("value")), 2).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("event_year", F.lit(-1)).alias("event_year"),
            "event_count",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# G3 — explicit GROUPING SETS (the general form G1's ROLLUP and G2's CUBE
# specialize; here two independent one-dimension slices plus the grand
# total, skipping the cross product a CUBE would also compute). One shuffle
# with partial aggregation per grouping set — at scale this beats running
# the three aggregations separately because the scan happens once.
# ---------------------------------------------------------------------------
@register(
    "g3_groupingsets_order_stats",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS order_count,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2)
         AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
HAVING count(*) > 0  -- empty-corpus parity: Spark's rollup/cube emits no
-- rows on empty input while SQL GROUP BY ROLLUP/CUBE/() emits the
-- grand-total row; every real grouping row aggregates >=1 input row,
-- so this only suppresses the empty-corpus phantom
""",
    doc="G3: GROUPING SETS — independent slices + grand total in one pass",
)
def g3_groupingsets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("order_count"),
            fround(
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double"),
                2,
            ).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "order_count",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# J15 — top supplier(s) by period revenue (TPC-H Q15 shape): aggregate
# view + scalar MAX subquery. The revenue rollup computes once and feeds
# both the max and the final filter (Spark: a self-referenced local
# DataFrame; the tiny max row broadcasts).
# ---------------------------------------------------------------------------
@register(
    "j15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum({_SQL_DISC_PRICE}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(CAST(r.total_revenue AS DOUBLE), 2) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    doc="J15: revenue view + scalar MAX subquery (top supplier of quarter)",
)
def j15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_disc_price()).alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(
            F.broadcast(top),
            revenue.total_revenue == top.max_revenue,
        )
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            fround(F.col("total_revenue").cast("double"), 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J17 — small-quantity revenue (TPC-H Q17 shape): scalar CORRELATED
# subquery (per-part average) decorrelated into a per-part aggregate joined
# back onto lineitem. The per-part table has cardinality |part| — NOT a
# fixed-size dimension — so it gets no broadcast hint: at 100 TB (~20B
# parts) a forced broadcast would OOM the driver. Both sides already hash
# on l_partkey, and AQE is free to downgrade to broadcast at small SF.
# ---------------------------------------------------------------------------
@register(
    "j17_small_quantity_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey,
         0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                / count(l_quantity)) AS half_avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 6)
         AS avg_yearly,
       count(*) AS small_qty_lineitems
FROM lineitem l
JOIN pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < pa.half_avg_qty
""",
    doc="J17: correlated per-part avg subquery, decorrelated (no hints)",
)
def j17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # threshold via exact DECIMAL sum / count — a raw double avg() is
    # summation-order sensitive across engines, and a value within an ulp
    # of the strict < can flip row membership and the driver hash
    pa = l.groupBy("l_partkey").agg(
        (
            F.lit(0.5)
            * (
                F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("half_avg_qty")
    )
    return (
        l.join(pa.withColumnRenamed("l_partkey", "pa_partkey"),
               l.l_partkey == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            fround(_sum_dbl(_dec2("l_extendedprice")) / 7.0, 6).alias("avg_yearly"),
            F.count("*").alias("small_qty_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# J22 — dormant high-balance customers (TPC-H Q22 shape): scalar aggregate
# subquery (global avg positive balance) + NOT EXISTS anti join, grouped
# by market segment.
# ---------------------------------------------------------------------------
@register(
    "j22_dormant_customers",
    oracle="""
WITH cutoff AS (
  SELECT (CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
          / count(c_acctbal)) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       count(*) AS numcust,
       round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS totacctbal
FROM customer c, cutoff
WHERE c.c_acctbal > cutoff.avg_bal
  AND NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
GROUP BY c.c_mktsegment
""",
    doc="J22: scalar avg subquery + NOT EXISTS anti join per segment",
)
def j22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events").select("user_id")
    # exact DECIMAL sum / count: cents are binary-inexact, so a raw double
    # avg() threshold could flip membership of a boundary customer
    cutoff = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(e, c.c_custkey == e.user_id, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            fround(_sum_dbl(_dec2("c_acctbal")), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# J7 — volume shipping between nation pairs (TPC-H Q7 shape): the deepest
# join in the suite — lineitem joined through supplier→nation on one side
# and orders→customer→nation on the other, filtered to two nation pairs,
# grouped by (supp_nation, cust_nation, ship year). Both dimension chains
# collapse to compact maps the planner broadcasts while small;
# lineitem⋈orders is the one big shuffle.
# ---------------------------------------------------------------------------
@register(
    "j7_nation_volume_shipping",
    oracle=f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue,
       count(*) AS lineitem_count
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
   OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
GROUP BY ns.n_name, nc.n_name, CAST(year(l.l_shipdate) AS INTEGER)
""",
    doc="J7: supplier-nation x customer-nation shipping volume per year",
)
def j7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp_dim = s.join(
        n.withColumnRenamed("n_name", "supp_nation"),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", "supp_nation")
    cust_dim = c.join(
        n.withColumnRenamed("n_name", "cust_nation"),
        c.c_nationkey == n.n_nationkey,
    ).select("c_custkey", "cust_nation")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        # supp_dim / cust_dim are supplier/customer-derived (scale with
        # SF) — no hints; the nation side inside them is 25 rows and the
        # planner folds it in either way
        l.join(supp_dim, l.l_suppkey == supp_dim.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_dim, o.o_custkey == cust_dim.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            fround(_sum_dbl(_disc_price()), 2).alias("revenue"),
            F.count("*").alias("lineitem_count"),
        )
    )


# ---------------------------------------------------------------------------
# J10B — returned-item losers (TPC-H Q10 shape): revenue lost to returns
# per customer, top-20. Filter (returnflag) → join → agg → top-k; the
# top-k is TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "j10b_returned_revenue_topk",
    oracle=f"""
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS lost_revenue,
       count(*) AS returned_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
""",
    doc="J10B: top-20 customers by returned-lineitem revenue",
)
def j10b_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            fround(_sum_dbl(_disc_price()), 2).alias("lost_revenue"),
            F.count("*").alias("returned_lineitems"),
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J8 — market share (TPC-H Q8 shape): one nation's suppliers' share of
# EUROPE-customer ECONOMY-part revenue per order year. Deepest star fan-in:
# lineitem ⋈ part/supplier/nation ⋈ orders (the one big shuffle) ⋈
# customer/nation/region; only nation/region carry hints. The share is a ratio of
# two exact DECIMAL sums, divided once in DOUBLE on both engines.
# ---------------------------------------------------------------------------
@register(
    "j8_market_share",
    oracle=f"""
SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(
         CAST(coalesce(sum(CASE WHEN ns.n_name = 'NATION_1'
                           THEN {_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")} END), 0) AS DOUBLE)
         / CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 6) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = nc.n_regionkey
WHERE r.r_name = 'EUROPE'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""",
    doc="J8: TPC-H Q8 market-share ratio per year (7-table star fan-in)",
)
def j8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nc = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    vol = _disc_price()
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_1", vol))
    total_vol = F.sum(vol)
    return (
        # hints only on nation/region (fixed 25/5 rows); part/supplier/
        # customer scale with SF → planner's choice
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            fround(
                F.coalesce(nation_vol, F.lit(0)).cast("double")
                / total_vol.cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# J9 — profit by nation × year (TPC-H Q9 shape). The schema has no
# partsupp table, so supply cost is proxied as 60% of p_retailprice
# (documented substitution; the join/agg shape — lineitem ⋈ part ⋈
# supplier ⋈ nation ⋈ orders, group by (nation, year) — is Q9's).
# All money math stays in exact DECIMAL until one final DOUBLE cast.
# ---------------------------------------------------------------------------
@register(
    "j9_profit_by_nation",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(CAST(sum(
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
         - CAST(0.6 AS DECIMAL(3,2)) * CAST(p.p_retailprice AS DECIMAL(12,2))
           * CAST(l.l_quantity AS DECIMAL(12,2))
       ) AS DOUBLE), 2) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_type = 'PROMO'
GROUP BY 1, 2
""",
    doc="J9: TPC-H Q9 profit (cost proxied at 0.6·p_retailprice; no partsupp)",
)
def j9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _disc_price() - (
        F.lit("0.6").cast("decimal(3,2)")
        * _dec2("p_retailprice")
        * _dec2("l_quantity")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(fround(_sum_dbl(profit), 2).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# J16 — supplier counts per part group (TPC-H Q16 shape, via lineitem in
# place of partsupp): distinct shipping suppliers per (brand, type, size),
# excluding one brand, one type, and suppliers with negative balance
# (NOT IN subquery → broadcast anti join).
# ---------------------------------------------------------------------------
@register(
    "j16_supplier_part_counts",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
""",
    doc="J16: TPC-H Q16 distinct-supplier counts with NOT IN anti join",
)
def j16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(list(range(1, 9)))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        # bad (negative-balance suppliers) and the filtered part slice both
        # scale with SF — planner's choice for the anti join and the probe
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# J13B — customer order-count distribution (TPC-H Q13 shape): LEFT join so
# order-less customers count at c_count = 0, then a second aggregation over
# the counts. Two shuffles (custkey, then c_count — the second is tiny).
# ---------------------------------------------------------------------------
@register(
    "j13b_order_count_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
    doc="J13B: TPC-H Q13 order-count histogram incl. zero-order customers",
)
def j13b_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# J21 — lone late supplier (TPC-H Q21 shape). The schema has no commit/
# receipt dates, so "late" = shipped more than 60 days after the order
# date (documented substitution; the EXISTS / NOT EXISTS correlated-pair
# shape is Q21's). Both subqueries become one semi and one anti join on
# orderkey with a suppkey inequality in the condition.
# ---------------------------------------------------------------------------
@register(
    "j21_lone_late_supplier",
    oracle="""
WITH late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
),
allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s.s_name,
       count(*) AS numwait
FROM late l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_2'
  AND EXISTS (SELECT 1 FROM allsup l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
    doc="J21: TPC-H Q21 lone-late-supplier via semi + anti join pair",
)
def j21_lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    allsup = l.select("l_orderkey", "l_suppkey").distinct()
    l1, l2 = late.alias("l1"), allsup.alias("l2")
    l3 = late.alias("l3")
    lone_late = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2").select("n_nationkey")
    return (
        lone_late.join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J20 — excess-stock suppliers (TPC-H Q20 shape). The schema has no
# partsupp, so "available stock" of a (supplier, part) pair is the quantity
# it shipped OUTSIDE the probe year (documented substitution); Q20's
# correlated `ps_availqty > 0.5 * sum(l_quantity in year)` becomes
# held_qty > 0.5 * window_qty, decorrelated into ONE lineitem aggregate
# with two conditional sums — the nested-IN chain collapses to joins
# against the 'red%' parts and the supplier⋈nation map. The
# one shuffle is the (l_suppkey, l_partkey) groupBy, map-side partial.
# Q20 returns no row for a pair with zero in-year lineitems (NULL scalar
# subquery); window_qty IS NOT NULL mirrors that exactly.
# ---------------------------------------------------------------------------
@register(
    "j20_excess_stock_suppliers",
    oracle="""
WITH stock AS (
  SELECT l_suppkey, l_partkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                   AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS window_qty,
         sum(CASE WHEN l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
                   OR l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS held_qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT s.s_suppkey, s.s_name, count(DISTINCT st.l_partkey) AS qualifying_parts
FROM stock st
JOIN part p ON st.l_partkey = p.p_partkey AND p.p_name LIKE 'red%'
JOIN supplier s ON st.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
WHERE st.window_qty IS NOT NULL
  AND CAST(coalesce(st.held_qty, 0) AS DOUBLE) > 0.5 * CAST(st.window_qty AS DOUBLE)
GROUP BY s.s_suppkey, s.s_name
""",
    doc="J20: TPC-H Q20 excess-stock shape, nested INs → one agg + semi joins",
)
def j20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    in_win = (
        F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    # exact DECIMAL sums: the 0.5× threshold comparison must not depend on
    # double summation order (same rationale as j17's half_avg_qty)
    stock = l.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in_win, qty)).alias("window_qty"),
        F.sum(F.when(~in_win, qty)).alias("held_qty"),
    )
    qual = stock.filter(
        F.col("window_qty").isNotNull()
        & (
            F.coalesce(F.col("held_qty"), F.lit(0)).cast("double")
            > F.lit(0.5) * F.col("window_qty").cast("double")
        )
    )
    nation_suppliers = s.join(
        F.broadcast(n), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        # 'red%' parts and the one-nation supplier slice scale with SF —
        # planner's choice (nation itself keeps its hint above)
        qual.join(p, qual.l_partkey == p.p_partkey)
        .join(nation_suppliers, qual.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.countDistinct("l_partkey").alias("qualifying_parts"))
    )


# ---------------------------------------------------------------------------
# J11B — revenue share with a fraction-of-global-total HAVING (TPC-H Q11
# shape; reference capability anchor: the serving API's share-of-total
# reports, sensor_api.py aggregate endpoints). The scalar subquery
# decorrelates to a 1-row global aggregate broadcast against the per-key
# rollup — the per-supplier aggregate computes ONCE and feeds both sides
# (at scale: materialize the rollup, never re-aggregate the fact table for
# the threshold).
# ---------------------------------------------------------------------------
@register(
    "j11b_supplier_value_share",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, sum({_SQL_DISC_PRICE}) AS val
  FROM lineitem GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(CAST(r.val AS DOUBLE), 2) AS supplier_value,
       round(CAST(r.val AS DOUBLE)
             / (SELECT CAST(sum(val) AS DOUBLE) FROM rev), 6) AS value_share
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE CAST(r.val AS DOUBLE)
      > 1.05 * (SELECT CAST(sum(val) AS DOUBLE) / count(*) FROM rev)
ORDER BY supplier_value DESC, s_suppkey
""",
    doc="J11B: Q11 shape — per-key value vs fraction-of-total threshold",
)
def j11b_supplier_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # the rollup feeds BOTH the threshold total and the final join —
    # persist (tracked) so the fact table aggregates once, not twice
    rev = track(
        l.groupBy("l_suppkey").agg(F.sum(_disc_price()).alias("val")).persist()
    )
    # exact DECIMAL total (order-independent), then one double division —
    # the 1-row aggregate broadcasts; no second pass over lineitem. The
    # threshold is 1.05× the MEAN per-supplier value (scale-invariant — a
    # fixed fraction-of-total empties as the key count grows)
    total = rev.agg(
        F.sum("val").alias("total"), F.count("*").alias("cnt")
    )
    return (
        rev.crossJoin(F.broadcast(total))
        .filter(
            F.col("val").cast("double")
            > F.lit(1.05) * (F.col("total").cast("double") / F.col("cnt"))
        )
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            fround(F.col("val").cast("double"), 2).alias("supplier_value"),
            fround(
                F.col("val").cast("double") / F.col("total").cast("double"), 6
            ).alias("value_share"),
        )
        .orderBy(F.col("supplier_value").desc(), "s_suppkey")
    )


# ---------------------------------------------------------------------------
# J12B — fact-fact join + conditional priority counts (TPC-H Q12 shape,
# adapted: the testdata lineitem has no shipmode/commitdate, so the
# grouping key is l_returnflag and the date window rides l_shipdate; the
# shape — orders ⋈ lineitem with CASE-bucketed priority counts — is what
# the inventory tracks). orders joins as the build side of one shuffle
# hash join on orderkey; the CASE aggregation is partial map-side.
# ---------------------------------------------------------------------------
@register(
    "j12b_priority_by_returnflag",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
    doc="J12B: Q12 shape — fact-fact join, CASE-bucketed priority counts",
)
def j12b_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# W4 — ranking-family window functions (ntile / percent_rank) the w1-w3
# queries don't cover. The (value, event_id) ordering is a total order, so
# decile assignment and percent_rank are bit-deterministic; the decile
# rollup keeps the compared output compact while still forcing the full
# per-row window evaluation.
#
# Scale note: the window partitions on event_type (low cardinality), so
# exact ntile is a per-type sort — correct but single-task-per-type at
# extreme scale. The 100 TB path for decile ASSIGNMENT is approximate
# boundaries (approx_percentile, adv6b's sketch contract) followed by a
# map-side bucket lookup; this query is the exact anchor for that twin,
# mirroring the d3/d4 and adv6/adv6b pattern.
# ---------------------------------------------------------------------------
@register(
    "w4_value_deciles",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         CAST(ntile(10) OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS INTEGER) AS decile,
         percent_rank() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS pr
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, decile,
       count(*) AS n,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi,
       round(max(pr), 6) AS max_pr
FROM ranked GROUP BY event_type, decile
""",
    doc="W4: ntile deciles + percent_rank per event_type, decile rollup",
)
def w4_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        "value",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
    )
    return ranked.groupBy("event_type", "decile").agg(
        F.count("*").alias("n"),
        fround(F.min("value"), 6).alias("lo"),
        fround(F.max("value"), 6).alias("hi"),
        fround(F.max("pr"), 6).alias("max_pr"),
    )


# ---------------------------------------------------------------------------
# W5 — event-TIME range frame (RANGE BETWEEN interval PRECEDING): the
# trailing-window moving aggregate w1-w4 don't cover (their frames are
# ROWS/rank-based). Each event sees the sum/count of its user's events in
# the trailing hour — the per-entity rate/rolling-exposure shape behind
# throttling, anomaly baselines, and feature windows. Ordering is on
# epoch MICROS on both engines (Spark range frames need a numeric key;
# truncating to seconds would move frame boundaries vs DuckDB's
# full-precision interval arithmetic). The windowed sum runs in exact
# DECIMAL: a RANGE frame is a value SET, so double summation order inside
# it is engine-internal and would flip hashes.
# Scale: one shuffle on user_id + per-user ordered scan; frame state is
# bounded by events-per-user-per-hour. The skew-prone variant (one global
# window) never appears.
# ---------------------------------------------------------------------------
_W5_HOUR_US = 3_600_000_000


@register(
    "w5_trailing_hour_aggs",
    oracle=f"""
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS trailing_count,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE), 2)
         AS trailing_value,
       round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS trailing_avg
FROM events
WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_W5_HOUR_US} PRECEDING AND CURRENT ROW)
""",
    doc="W5: trailing-hour RANGE-frame moving aggregates per user",
)
def w5_trailing_hour_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_W5_HOUR_US, 0)
    )
    cnt = F.count("*").over(w)
    val = F.sum(_dec2("value")).over(w).cast("double")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        cnt.alias("trailing_count"),
        fround(val, 2).alias("trailing_value"),
        fround(val / cnt, 6).alias("trailing_avg"),
    )


# ---------------------------------------------------------------------------
# U3 — MULTISET set operations (INTERSECT ALL / EXCEPT ALL), completing
# u1/u2's distinct-set forms: duplicates count, so the result sizes
# reflect per-key multiplicities (min for intersect, truncated difference
# for except). Spark plans these as a single aggregate computing paired
# counts per key — no join, one shuffle.
# ---------------------------------------------------------------------------
@register(
    "u3_key_overlap_multiset",
    oracle="""
SELECT 'intersect_all' AS bucket, count(*) AS row_count FROM (
  SELECT o_custkey FROM orders INTERSECT ALL SELECT user_id FROM events
) a
UNION ALL
SELECT 'orders_minus_events_all', count(*) FROM (
  SELECT o_custkey FROM orders EXCEPT ALL SELECT user_id FROM events
) b
UNION ALL
SELECT 'events_minus_orders_all', count(*) FROM (
  SELECT user_id FROM events EXCEPT ALL SELECT o_custkey FROM orders
) c
""",
    doc="U3: INTERSECT ALL / EXCEPT ALL multiset overlap between facts",
)
def u3_key_overlap_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("o_custkey")
    )

    def bucket(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("row_count")).select(
            F.lit(name).alias("bucket"), "row_count"
        )

    return (
        bucket(o.intersectAll(e), "intersect_all")
        .unionAll(bucket(o.exceptAll(e), "orders_minus_events_all"))
        .unionAll(bucket(e.exceptAll(o), "events_minus_orders_all"))
    )


# ---------------------------------------------------------------------------
# U4 — snapshot diff (dataset versioning): the added/removed/changed
# listing between two corpus versions, the audit a training-data pipeline
# runs before promoting a new snapshot. The two versions are carved
# deterministically from the one documents table (v1 drops doc_id % 7,
# v2 drops % 5 and rewrites % 11) so the diff is oracle-checkable; the
# OPERATOR is version-agnostic — one full-outer join on the key comparing
# content hashes, so rows shuffle once on doc_id and only the md5 (not
# the text) rides the comparison columns. At 100 TB both snapshot scans
# prune to (doc_id, md5) columns; the output is |changes|, not |corpus|.
# ---------------------------------------------------------------------------
def snapshot_diff(v1: DataFrame, v2: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, change_type) for rows added / removed / changed between two
    snapshot DataFrames that each expose (key, text)."""
    a = v1.select(F.col(key).alias("k1"), F.md5("text").alias("h1"))
    b = v2.select(F.col(key).alias("k2"), F.md5("text").alias("h2"))
    j = a.join(b, a["k1"] == b["k2"], "full_outer")
    return (
        j.select(
            F.coalesce("k1", "k2").alias(key),
            F.when(F.col("k1").isNull(), "added")
            .when(F.col("k2").isNull(), "removed")
            .when(F.col("h1") != F.col("h2"), "changed")
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
        .orderBy(key)
    )


@register(
    "u4_snapshot_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 5 <> 0
),
j AS (
  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN md5(v1.text) <> md5(v2.text) THEN 'changed'
         END AS change_type
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT doc_id, change_type FROM j WHERE change_type IS NOT NULL
ORDER BY doc_id
""",
    doc="U4: added/removed/changed diff between two corpus snapshots",
)
def u4_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    v2 = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return snapshot_diff(v1, v2)


# ---------------------------------------------------------------------------
# DQ4 — SEMI-JOIN PRE-FILTER (Bloom-style bucket filter): the shuffle-
# reduction pattern for a selective big⋈big join. Joining 100 TB of
# lineitem against the ~20% of orders that are URGENT shuffles EVERY
# lineitem row on the bare join; the fix is to ship a compact membership
# summary of the filtered build side to the probe side first. Spark's
# runtime row-level Bloom filter does this opportunistically; dq4 states
# the pattern declaratively with public primitives so it works on any
# engine and any join the optimizer misses: hash the build keys into a
# bucket domain, LEFT SEMI join the probe side on the bucket (planner
# broadcasts the distinct bucket list — no hint needed), then run the
# real key join on the survivors. False positives (bucket collisions)
# are eliminated by the real join, so the pre-filter is semantically
# transparent — which is exactly why the DuckDB oracle is the PLAIN
# join: any row the filter wrongly dropped, or any double-count from a
# mis-joined bucket, fails the hash gate.
#
# The domain must SCALE WITH THE BUILD SIDE, not stay fixed: a measured
# 40M-row sweep (SCALE.md) shows a fixed 2^16 domain saturating once the
# filtered build side passes ~65k distinct keys — survivors went
# 15% → 78% → 99.8% of the probe side, i.e. the filter silently decayed
# to a pass-through. So m is sized from a cheap build-side count
# (next power of two ≥ 8·n_build → ~12% FP), floored at 2^16 and capped
# at 2^22: at the cap the distinct bucket list is ≤ 4.2M longs ≈ 34 MB —
# still under the broadcast threshold — and beyond it the filter
# degrades gracefully (FP rises, correctness untouched, the real join
# still pays only for survivors). That cap is the same regime Spark's
# own runtime Bloom targets (build sides up to tens of millions of
# keys); past it, bucketed/co-located storage (sources/io.py) is the
# right tool, not a pre-filter.
# ---------------------------------------------------------------------------
_DQ4_M_MIN = 1 << 16
_DQ4_M_MAX = 1 << 22
_DQ4_KEYS_PER_BUCKET = 8  # m ≈ 8·n_build → ~1/8 false-positive rate


def _dq4_domain(n_build: int) -> int:
    m = _DQ4_M_MIN
    while m < min(_DQ4_KEYS_PER_BUCKET * max(n_build, 1), _DQ4_M_MAX):
        m <<= 1
    return m


@register(
    "dq4_semijoin_prefilter",
    oracle=f"""
SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
       count(*) AS n_items,
       round(CAST(sum({_SQL_DISC_PRICE.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP)
""",
    doc="DQ4: bucket-filter semi-join pre-reduction before a selective big-big join (oracle = plain join)",
)
def dq4_semijoin_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track

    # the filtered 1-column build side is consumed THREE times (domain
    # count, bucket distinct, final key join) — persist it so the orders
    # parquet is scanned once, not three times (the count materializes
    # the cache; both plan references read it back)
    o = track(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .persist()
    )
    # size the domain from the build side (one cheap count over the
    # pushed-down orders scan) — deterministic given the data, so the
    # registered output stays hash-stable
    m = _dq4_domain(o.count())
    # cast both keys to long BEFORE hashing: Spark's xxhash64 is
    # input-type-sensitive, so if the two parquet columns ever drift to
    # different integer widths the semi-join would silently drop every
    # true match (ADVICE r5) — the explicit cast pins one hash domain
    buckets = o.select(
        F.pmod(
            F.xxhash64(F.col("o_orderkey").cast("long")), F.lit(m)
        ).alias("kb")
    ).distinct()
    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "kb",
        F.pmod(F.xxhash64(F.col("l_orderkey").cast("long")), F.lit(m)),
    )
    survivors = l.join(buckets, "kb", "left_semi")
    joined = survivors.join(o, survivors["l_orderkey"] == o["o_orderkey"])
    return (
        joined.groupBy(
            F.date_trunc("month", "l_shipdate").alias("ship_month")
        )
        .agg(
            F.count("*").alias("n_items"),
            fround(_sum_dbl(_disc_price()), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# W6 — cohort retention matrix: the canonical product-analytics rollup
# (users grouped by first-activity day; distinct active users per
# (cohort, day-offset) cell). Two shuffle rounds at any scale: (1) the
# per-user MIN(first day) aggregate partitions on user_id, and (2) the
# activity join consumes that SAME hash partitioning (both sides keyed
# on user_id — Catalyst elides the second exchange on the aggregate
# side), then the (cohort_day, day_offset) distinct-count aggregate
# moves one compact row per (cell, user). Nothing is windowed and no
# side is collected; at 100 TB the cohort table is |users| rows and the
# matrix |days|² cells. The 100 TB twin for the distinct count is the
# HLL sketch (a17/a18's contract) — this query is its exact anchor.
# ---------------------------------------------------------------------------
@register(
    "w6_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
cells AS (
  SELECT f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
         e.user_id
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       count(DISTINCT user_id) AS active_users
FROM cells
GROUP BY 1, 2
""",
    doc="W6: cohort retention matrix — distinct active users per (first-day cohort, day offset)",
)
def w6_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    cells = e.join(firsts, "user_id").select(
        "cohort_day",
        F.datediff("d", "cohort_day").alias("day_offset"),
        "user_id",
    )
    return cells.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("active_users")
    ).select(
        F.col("cohort_day").cast("timestamp").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        "active_users",
    )


# ---------------------------------------------------------------------------
# W6b — w6's sketch twin: the 100 TB form of the retention matrix. An
# exact per-cell countDistinct(user_id) shuffles one row per (cell,
# user); the HLL form ships one fixed-size sketch per cell instead (the
# same exact-anchor/sketch-twin contract as a1/a2/a4/a7's approx twins
# and a17/a18's merges). Exact values are also emitted and the sketch
# estimate certifies against them (|est − exact| ≤ 3·rsd·exact, floor 1);
# the DuckDB oracle recomputes the exact cells and states the boolean.
# ---------------------------------------------------------------------------
_W6_RSD = 0.01


@register(
    "w6b_cohort_retention_approx",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
cells AS (
  SELECT f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
         e.user_id
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       count(DISTINCT user_id) AS active_users,
       TRUE AS actives_within_3rsd
FROM cells
GROUP BY 1, 2
""",
    doc="W6b: cohort retention via approx_count_distinct — sketch twin of w6's exact anchor",
)
def w6b_cohort_retention_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    cells = e.join(firsts, "user_id").select(
        "cohort_day",
        F.datediff("d", "cohort_day").alias("day_offset"),
        "user_id",
    )
    ev = F.countDistinct("user_id")
    av = F.approx_count_distinct("user_id", _W6_RSD)
    ok = F.abs(av.cast("double") - ev.cast("double")) <= F.greatest(
        F.lit(3 * _W6_RSD) * ev.cast("double"), F.lit(1.0)
    )
    return cells.groupBy("cohort_day", "day_offset").agg(
        ev.alias("active_users"), ok.alias("actives_within_3rsd")
    ).select(
        F.col("cohort_day").cast("timestamp").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        "active_users",
        "actives_within_3rsd",
    )


# ---------------------------------------------------------------------------
# W7 — ordered event funnel: view → click → purchase, each step's first
# qualifying event strictly after the previous step's, all inside a
# 7-day conversion window anchored at the user's first view. The
# canonical product-analytics sequence query — and deliberately NOT the
# window-function form: sorting every user's full event history
# (Window.partitionBy(user).orderBy(ts)) shuffles and sorts the whole
# events table; the staged per-step form below reduces each step to a
# filtered per-user MIN aggregation joined to the survivors of the
# previous step. Each stage shuffles only (user_id, one timestamp), all
# three stages hash-partition on user_id, so Catalyst reuses the same
# exchange across the chain (the w6 pattern, asserted for w6 in
# test_plans). The funnel summary is 3 rows; the conversion ratios ride
# a size-3 unpartitioned window.
# ---------------------------------------------------------------------------
_W7_WINDOW_DAYS = 7


@register(
    "w7_event_funnel",
    oracle=f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.t1
    AND e.ts <= v.t1 + INTERVAL {_W7_WINDOW_DAYS} DAY
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t2
    AND e.ts <= c.t1 + INTERVAL {_W7_WINDOW_DAYS} DAY
  GROUP BY e.user_id
),
n AS (
  SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM v
  UNION ALL SELECT 2, 'click', count(*) FROM c
  UNION ALL SELECT 3, 'purchase', count(*) FROM p
)
SELECT CAST(step_idx AS BIGINT) AS step_idx, step,
       CAST(n_users AS BIGINT) AS n_users,
       round(CAST(n_users AS DOUBLE)
             / lag(n_users, 1, n_users) OVER (ORDER BY step_idx), 6)
         AS conv_from_prev,
       round(CAST(n_users AS DOUBLE)
             / first_value(n_users) OVER (ORDER BY step_idx), 6)
         AS conv_from_first
FROM n ORDER BY step_idx
""",
    doc="W7: ordered 3-step funnel — staged per-user MIN joins, no full-history sort",
)
def w7_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import track

    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    win = F.expr(f"INTERVAL {_W7_WINDOW_DAYS} DAYS")
    # v and c are each consumed twice (next stage + the step count);
    # without persist Spark recomputes the whole upstream chain per
    # reference — measured 15 exchanges with one runtime ReusedExchange
    # for this 3-row result. The frames are per-user aggregates (|users|
    # rows, two columns), the same bounded regime dp9 persists its
    # splits in; p is consumed once and stays lazy.
    v = track(
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .persist()
    )
    c = track(
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
        .persist()
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)))
    )
    n = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("step_idx"), F.lit("view").alias("step"), "n_users")
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("step_idx"), F.lit("click").alias("step"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("step_idx"), F.lit("purchase").alias("step"), "n_users"
            )
        )
    )
    w = Window.orderBy("step_idx")  # 3-row funnel summary — bounded
    # try_divide, with the oracle's lag(n, 1, n) default mirrored via
    # coalesce: an empty funnel step makes the next ratio 0/0, which
    # must be NULL on BOTH engines (DuckDB yields NULL on /0; Spark's
    # plain `/` throws under ANSI mode and the session must not dictate
    # the result) — never a crash, and never a coalesce-to-1.0 that
    # would claim a 100% conversion out of an empty step
    prev = F.coalesce(F.lag("n_users", 1).over(w), F.col("n_users"))
    return (
        n.select(
            F.col("step_idx").cast("long").alias("step_idx"),
            "step",
            F.col("n_users").cast("long").alias("n_users"),
            fround(
                F.try_divide(
                    F.col("n_users").cast("double"), prev.cast("double")
                ),
                6,
            ).alias("conv_from_prev"),
            fround(
                F.try_divide(
                    F.col("n_users").cast("double"),
                    F.first("n_users").over(w).cast("double"),
                ),
                6,
            ).alias("conv_from_first"),
        )
        .orderBy("step_idx")
    )


# ---------------------------------------------------------------------------
# J23 — FREQUENT ITEM PAIRS (market-basket co-occurrence): part pairs
# that co-occur in the same order, Apriori-pruned — the association-
# mining primitive (FP-growth's first pass) and the classic "people who
# bought X also bought Y" batch job.
#
# Apriori pruning is the scale story: a pair can only be frequent if
# BOTH items are, so the item-support filter (≥ 5 orders) runs FIRST as
# a |parts|-keyed aggregate + semi-join, and only surviving items enter
# the quadratic-per-basket self-join. The self-join shuffles on the
# order key; its output per order is C(k,2) over the PRUNED basket size
# k (TPC-H baskets ≈ 4-7 items), so the blowup is bounded by basket
# width, never corpus size. The pair aggregate shuffles on (p1, p2)
# with map-side partials; lift's two scalar totals broadcast.
#
# lift = P(p1,p2) / (P(p1)·P(p2)) = pair_n·N / (c1·c2) — exact int64
# products under one double division (t17's discipline; bounds: pair_n
# ≤ N ≤ 1.5e7 at sf0.1 → products ≤ 2^63), rounded 6 dp, (p1,p2)
# tiebreak → total order.
#
# Ref parity anchor: the reference's analytics job measures per-entity
# category co-occurrence (vehicle × sensor-type coverage via
# countDistinct, src/spark/batch/SensorDataAnalytics.scala:158-172);
# j23 is that co-occurrence shape with the Apriori support bound.
# ---------------------------------------------------------------------------
_J23_ITEM_SUPPORT = 5  # item must appear in >= 5 orders
_J23_PAIR_SUPPORT = 3  # pair must co-occur in >= 3 orders
_J23_TOPN = 20


@register(
    "j23_frequent_pairs",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
freq AS (
  SELECT pkey, CAST(count(*) AS BIGINT) AS c
  FROM items GROUP BY pkey HAVING count(*) >= {_J23_ITEM_SUPPORT}
),
fi AS (
  SELECT items.okey, items.pkey, freq.c
  FROM items JOIN freq ON items.pkey = freq.pkey
),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM items),
pairs AS (
  SELECT a.pkey AS p1, b.pkey AS p2,
         CAST(count(*) AS BIGINT) AS pair_n,
         min(a.c) AS c1, min(b.c) AS c2
  FROM fi a JOIN fi b ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY a.pkey, b.pkey
)
SELECT p1, p2, pair_n, c1, c2,
       round(CAST(pair_n * n.n AS DOUBLE) / CAST(c1 * c2 AS DOUBLE),
             6) AS lift
FROM pairs CROSS JOIN n
WHERE pair_n >= {_J23_PAIR_SUPPORT}
ORDER BY pair_n DESC, p1 ASC, p2 ASC
LIMIT {_J23_TOPN}
""",
    doc=(
        "J23: Apriori-pruned frequent part pairs per order with exact "
        "lift — market-basket co-occurrence top-20"
    ),
)
def j23_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frequent_pairs(
        load_table(spark, sf_dir, "lineitem"),
        scale_shape=_j23_scale_shape(sf_dir),
    )


def _j23_scale_shape(sf_dir: str) -> bool:
    """Input-size gate for the basket-array pair expansion (r17 VERDICT
    Next #4): a deterministic function of the fact table's on-disk size —
    both plan forms compute identical values. Unknown size (non-local
    path) → assume big."""
    from ..sources import tables as _tables

    b = _tables.table_bytes(sf_dir, "lineitem")
    return b is None or b >= _tables.SCALE_GATE_MIN_BYTES


def frequent_pairs(
    l: DataFrame,
    item_support: int = _J23_ITEM_SUPPORT,
    pair_support: int = _J23_PAIR_SUPPORT,
    topn: int = _J23_TOPN,
    scale_shape: bool = False,
) -> DataFrame:
    """j23 core over any lineitem-shaped frame — separated so tests can
    drive hand-built baskets through both support floors (and both plan
    shapes, via ``scale_shape``)."""
    return (
        _frequent_pair_counts(l, item_support, pair_support, scale_shape)
        .select(
            "p1",
            "p2",
            "pair_n",
            "c1",
            "c2",
            fround(
                (F.col("pair_n") * F.col("n")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_n").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(topn)
    )


def _frequent_pair_counts(
    l: DataFrame,
    item_support: int,
    pair_support: int,
    scale_shape: bool = False,
) -> DataFrame:
    """The Apriori-pruned pair-count relation shared by the exact (j23)
    and log-space (j23b) lift scorers — columns (p1, p2, pair_n, c1,
    c2, n).

    ``scale_shape`` picks the pair-generation plan (values identical):

    - False (local default): fi ⋈ fi self-join on okey. At bench scale
      fi broadcasts, so pair generation costs ZERO shuffles — the r17 A/B
      measured the basket form ~0.6 s slower here (collect_list's
      ObjectHashAggregate + a real okey shuffle vs a broadcast join).
    - True (the 100 TB form, input-size-gated by the callers): one
      groupBy(okey) builds each basket's sorted item array, and the
      C(k,2) expansion is a map-side nested transform — ONE shuffle of
      (okey, pkey, c) rows total, where the self-join at scale shuffles
      BOTH sides (2×) before the same quadratic blowup. Validated r18
      with broadcasts disabled (the at-scale join shape) where this form
      measured faster; see OPTIMIZATION_r18.md.
    """
    from ..caching import track

    # persisted: FOUR consumers (the item-support aggregate, both sides
    # of the self-join, and the order-count scalar) would otherwise each
    # re-scan and re-distinct lineitem (dp15's persist lesson; verified
    # in the r9 plan audit — the uncached plan carried 5 parquet scans)
    items = track(
        l.select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").alias("pkey"),
        )
        .distinct()
        .persist()
    )
    freq = (
        items.groupBy("pkey")
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter(F.col("c") >= item_support)
    )
    # Apriori prune BEFORE the self-join: only frequent items enter the
    # per-basket quadratic step. freq is |parts|-scale — no broadcast
    # hint (t6's vocabulary rationale); both sides hash on pkey.
    fi = items.join(freq, "pkey").select("okey", "pkey", "c")
    n = items.agg(F.countDistinct("okey").cast("bigint").alias("n"))
    if scale_shape:
        # basket-array expansion: pkey is unique within an okey (items is
        # distinct) and sort_array orders the struct array by pkey, so
        # emitting (items[i], items[j]) for i < j yields exactly the
        # self-join's p1 < p2 pair multiset per basket
        baskets = fi.groupBy("okey").agg(
            F.sort_array(F.collect_list(F.struct("pkey", "c"))).alias(
                "items"
            )
        )
        expanded = baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (a, i) ->"
                    " transform(slice(items, i + 2, size(items)), b ->"
                    " struct(a.pkey AS p1, a.c AS ca,"
                    " b.pkey AS p2, b.c AS cb))))"
                )
            ).alias("p")
        ).select("p.p1", "p.ca", "p.p2", "p.cb")
    else:
        # persisted only here: fi feeds BOTH sides of the self-join, while
        # the basket form above is its single consumer
        fi = track(fi.persist())
        a = fi.select(
            F.col("okey"),
            F.col("pkey").alias("p1"),
            F.col("c").alias("ca"),
        )
        b = fi.select(
            F.col("okey"),
            F.col("pkey").alias("p2"),
            F.col("c").alias("cb"),
        )
        expanded = (
            a.join(b, "okey")
            .filter(F.col("p1") < F.col("p2"))
            .select("p1", "ca", "p2", "cb")
        )
    pairs = (
        expanded.groupBy("p1", "p2")
        .agg(
            F.count("*").cast("bigint").alias("pair_n"),
            F.min("ca").alias("c1"),  # constant per p1 — min is exact
            F.min("cb").alias("c2"),
        )
        .filter(F.col("pair_n") >= pair_support)
    )
    return pairs.crossJoin(F.broadcast(n))  # 1-row scalar aggregate


# ---------------------------------------------------------------------------
# J23B — LOG-SPACE LIFT (j23's production form past the int64 boundary):
# j23's exact lift forms pair_n·N and c1·c2 as int64 products before one
# double division — bounded at the gate SFs (header above), overflowing
# once N passes ~3e9 baskets. The production fix scores in log space,
# llift = ln pair_n + ln N − ln c1 − ln c2 — no product formed, safe at
# any scale. This twin REGISTERS that form (VERDICT r9 Next #5).
#
# Compared surface: INTEGERS ONLY (p1, p2, pair_n, c1, c2, rank) —
# ln is engine libm and may differ in the last ulp on identical inputs,
# so the score stays off the hashed surface (t17b's rationale); the
# ordering it induces is compared via row_number with (p1, p2)
# tie-breaks over a 6-dp floor-rounded key. The quantization is
# load-bearing here: the gate data HAS pairs with equal exact ratios
# whose ln sums differ by ulps (different factor orders); at 6 dp they
# collapse back into exact ties resolved identically on both engines.
# Rank-equivalence against the exact-ratio ordering is property-tested
# at both gate SFs (inversions only within sub-1e-6 near-ties). Unlike
# j23 (ordered by pair_n), this twin ORDERS BY the lift score itself,
# so the gate exercises the log path end to end.
#
# Plan shape at 100 TB: identical to j23 up to scoring (shared
# _frequent_pair_counts); TakeOrderedAndProject top-20 on the score,
# rank windowed over the surviving 20 rows only.
# ---------------------------------------------------------------------------
@register(
    "j23b_frequent_pairs_log",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
freq AS (
  SELECT pkey, CAST(count(*) AS BIGINT) AS c
  FROM items GROUP BY pkey HAVING count(*) >= {_J23_ITEM_SUPPORT}
),
fi AS (
  SELECT items.okey, items.pkey, freq.c
  FROM items JOIN freq ON items.pkey = freq.pkey
),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM items),
pairs AS (
  SELECT a.pkey AS p1, b.pkey AS p2,
         CAST(count(*) AS BIGINT) AS pair_n,
         min(a.c) AS c1, min(b.c) AS c2
  FROM fi a JOIN fi b ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY a.pkey, b.pkey
),
scored AS (
  SELECT p1, p2, pair_n, c1, c2,
         round(((ln(CAST(pair_n AS DOUBLE)) + ln(CAST(n.n AS DOUBLE))) - ln(CAST(c1 AS DOUBLE))) - ln(CAST(c2 AS DOUBLE)), 6) AS k
  FROM pairs CROSS JOIN n
  WHERE pair_n >= {_J23_PAIR_SUPPORT}
),
ranked AS (
  SELECT p1, p2, pair_n, c1, c2,
         row_number() OVER (ORDER BY k DESC, p1, p2) AS rank
  FROM scored
)
SELECT p1, p2, pair_n, c1, c2, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {_J23_TOPN}
""",
    doc=(
        "J23B: j23's frequent pairs ranked by LOG-space lift (no int64 "
        "product, overflow-free at any basket count) — integer-rank "
        "compared surface"
    ),
)
def j23b_frequent_pairs_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frequent_pairs_log(
        load_table(spark, sf_dir, "lineitem"),
        scale_shape=_j23_scale_shape(sf_dir),
    )


def _j23b_key() -> Column:
    """The j23b sort key: fixed-order log-space lift, 6-dp floor-rounded
    (t17's rounding precedent). The quantization matters for ties: two
    pairs with EQUAL exact ratio but different factor orders (c1·c2 vs
    c2·c1 under different pair_n·N) carry ulp-different ln sums; at 6 dp
    they collapse back into an exact tie that the (p1, p2) tie-break
    resolves identically on both engines. Exposed so the rank-
    equivalence test scores the counted relation with the query's own
    arithmetic."""
    llift = (
        (
            F.log(F.col("pair_n").cast("double"))
            + F.log(F.col("n").cast("double"))
        )
        - F.log(F.col("c1").cast("double"))
    ) - F.log(F.col("c2").cast("double"))
    return fround(llift, 6)


def frequent_pairs_log(
    l: DataFrame,
    item_support: int = _J23_ITEM_SUPPORT,
    pair_support: int = _J23_PAIR_SUPPORT,
    topn: int = _J23_TOPN,
    scale_shape: bool = False,
) -> DataFrame:
    """j23b core — the overflow-free log-space lift scorer over the
    shared pair counts; returns (p1, p2, pair_n, c1, c2, rank)."""
    from pyspark.sql import Window

    top = (
        _frequent_pair_counts(l, item_support, pair_support, scale_shape)
        .select("p1", "p2", "pair_n", "c1", "c2", _j23b_key().alias("k"))
        .orderBy(F.col("k").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(topn)  # TakeOrderedAndProject — distributed top-k
    )
    # rank windows over the ≤ topn surviving rows only
    w = Window.orderBy(
        F.col("k").desc(), F.col("p1").asc(), F.col("p2").asc()
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "p1", "p2", "pair_n", "c1", "c2", "rank"
    )


# ---------------------------------------------------------------------------
# W8 — MARKOV TRANSITION MATRIX over per-user event sequences: the
# first-order behavioral model (click → purchase probabilities) behind
# next-event prediction, anomaly detection on session flows, and the
# funnel family's (w7) generative counterpart.
#
# Exactness: transitions are integer lead() pairs under the (ts,
# event_id) total order w3 established; probabilities are one double
# division of two int64 counts (row count / from-state total), rounded
# 6 dp — no cross-row float accumulation anywhere.
#
# Plan shape at 100 TB: the lead() window partitions on user_id —
# per-user history is bounded (the same justification as w2/w3), so no
# single task sees unbounded state; the transition aggregate shuffles
# |event_types|² keys with map-side partials; the from-state totals
# relation is |event_types| rows and broadcasts into the final join.
#
# Ref parity anchor: the reference tracks per-entity last-seen ordering
# for liveness (src/monitoring/alerting.py:223-262); w8 generalizes
# consecutive-event ordering into the full transition model.
# ---------------------------------------------------------------------------
@register(
    "w8_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
tot AS (
  SELECT from_type, CAST(sum(transitions) AS BIGINT) AS from_total
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.transitions, tot.from_total,
       round(CAST(t.transitions AS DOUBLE) / tot.from_total, 6) AS prob
FROM trans t JOIN tot ON t.from_type = tot.from_type
""",
    doc=(
        "W8: first-order Markov transition matrix over per-user event "
        "sequences — exact counts, row-normalized probabilities"
    ),
)
def w8_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return markov_transitions(load_table(spark, sf_dir, "events"))


def markov_transitions(e: DataFrame) -> DataFrame:
    """w8 core over any events-shaped frame — separated so tests can
    replay hand-built sequences."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("transitions")
    )
    tot = trans.groupBy("from_type").agg(
        F.sum("transitions").cast("bigint").alias("from_total")
    )
    # tot is |event_types| rows — broadcast by construction
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "transitions",
        "from_total",
        fround(
            F.col("transitions").cast("double") / F.col("from_total"), 6
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# U5 — CROSS-SOURCE EXACT-DUPLICATE OVERLAP MATRIX: the provenance
# question every multi-source training mix has to answer before
# weighting sources — how many exact-duplicate documents does each PAIR
# of sources share, and how much does each source duplicate within
# itself. d1 measures the corpus's
# overall duplication; u5 attributes it to the source matrix. The matrix
# is TOTAL — every (a <= b) cell is emitted, zero cells included — so the
# compared surface pins the source enumeration even on a duplicate-free
# corpus (the gate data has none; the hand-corpus test carries the
# non-zero semantics).
#
# Scale: one md5 scan, pre-aggregated to ONE row per (source, hash) —
# the self-join's fanout per hash is bounded by |sources| (a constant),
# never by document count, and md5 keys are uniform so the shuffle is
# skew-free by construction. Both aggregates combine map-side; the final
# sort orders |sources|² rows. NULL-text docs are excluded up front (md5
# NULL joins nothing; counting two NULL texts as "duplicates" would be
# semantics by accident).
# ---------------------------------------------------------------------------
_U5_ORACLE = """
WITH hs AS (
  SELECT source, md5(text) AS h, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL
  GROUP BY source, md5(text)
),
srcs AS (SELECT DISTINCT source FROM hs),
cell AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source <= b.source
),
cross_pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_hashes
  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
),
within_source AS (
  SELECT source AS source_a, source AS source_b,
         CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS shared_hashes
  FROM hs GROUP BY source
)
SELECT cell.source_a, cell.source_b,
       coalesce(cross_pairs.shared_hashes,
                within_source.shared_hashes, 0) AS shared_hashes
FROM cell
LEFT JOIN cross_pairs USING (source_a, source_b)
LEFT JOIN within_source USING (source_a, source_b)
ORDER BY source_a, source_b
"""


@register(
    "u5_source_overlap_matrix",
    oracle=_U5_ORACLE,
    doc=(
        "U5: total |sources|x|sources| exact-duplicate overlap matrix "
        "(cross-source shared md5 hashes; diagonal = within-source dups)"
    ),
)
def u5_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    hs = (
        d.select("source", F.md5("text").alias("h"))
        .groupBy("source", "h")
        .agg(F.count("*").alias("n"))
    )
    hs = track(hs.persist())  # consumed by the pair join (twice) + within
    cross_pairs = (
        hs.alias("a")
        .join(
            hs.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("shared_hashes"))
    )
    within = (
        hs.groupBy(F.col("source").alias("source_a"))
        .agg(
            F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("shared_hashes")
        )
        .select(
            "source_a", F.col("source_a").alias("source_b"), "shared_hashes"
        )
    )
    # total matrix: every (a <= b) cell present, zeros included — both
    # frames are |sources|²-bounded; the filled (cross_pairs ∪ within)
    # side carries the broadcast hint below so the left join never
    # shuffles the cell enumeration (ADVICE r13 #3: comment now names
    # the side the plan actually broadcasts)
    srcs = hs.select("source").distinct()
    cell = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            srcs.select(F.col("source").alias("source_b")),
            F.col("source_a") <= F.col("source_b"),
        )
    )
    filled = cross_pairs.unionByName(within)
    return (
        cell.join(F.broadcast(filled), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("shared_hashes", F.lit(0)).cast("bigint").alias(
                "shared_hashes"
            ),
        )
        .orderBy("source_a", "source_b")
    )
