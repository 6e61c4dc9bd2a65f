"""Aggregates, joins and sketches: group-bys, pivots, set operations, skew-safe
joins and approximate distinct counts (``operators/aggregates``,
``operators/joins``, ``operators/sketches``)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from area_etl_spark.operators import aggregates as AGG
from area_etl_spark.operators.aggregates import collect_sorted_list, exact_money_sum
from area_etl_spark.operators.asof import range_band_join
from area_etl_spark.operators.joins import left_join_chain
from area_etl_spark.operators.sketches import HLL_DIGIT_ZEROS as _HLL_DZ
from area_etl_spark.registry._common import _tables


def q_groupby_agg(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    li = tables["lineitem"]
    return (
        li.where(F.col("l_shipdate") <= F.lit(datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_money_sum("l_quantity").alias("sum_qty"),
            exact_money_sum("l_extendedprice").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
def o_groupby_agg() -> str:
    return """
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(round(l_quantity * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_qty,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """


def q_groupby_collect_list(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return (
        tables["events"]
        .groupBy("user_id")
        .agg(
            F.array_join(collect_sorted_list("event_type"), ",").alias("event_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
def o_groupby_collect_list() -> str:
    return """
            SELECT user_id,
                   array_to_string(list_sort(list(event_type)), ',') AS event_types,
                   COUNT(*) AS n_events
            FROM events GROUP BY user_id
        """


def q_distinct_dedup(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["customer"].select("c_mktsegment", "c_nationkey").distinct()
def o_distinct_dedup() -> str:
    return "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"


def q_topk_per_group(spark, sf_dir):
    """Aggregate-based per-group top-k (top-3 customers by order cents per
    nation): collect → array_sort → slice, no window — a hot group sorts a
    group-local array instead of stalling one reducer task. Oracle = the
    equivalent row_number window, proving the forms agree."""
    tables = _tables(spark, sf_dir)
    cust_totals = (
        tables["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    joined = (
        cust_totals.join(
            tables["customer"], F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(tables["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_custkey", "cents")
    )
    return AGG.topk_per_group(joined, ["n_name"], "cents", ["c_custkey"], 3)
def o_topk_per_group() -> str:
    return """
            WITH ct AS (
                SELECT o_custkey,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                FROM orders GROUP BY o_custkey
            ), j AS (
                SELECT n_name, c_custkey, cents
                FROM ct JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            ), r AS (
                SELECT n_name, c_custkey, cents,
                       CAST(row_number() OVER (
                           PARTITION BY n_name ORDER BY cents DESC, c_custkey
                       ) AS INTEGER) AS rank
                FROM j
            )
            SELECT n_name, rank, c_custkey, cents FROM r WHERE rank <= 3
        """


def q_or_join(spark, sf_dir):
    """OR-predicate join (match on nationkey OR on a derived code) rewritten
    as a union of hash equi-joins + distinct — the BroadcastNestedLoopJoin
    escape hatch; result-identical to the OR join (the oracle IS the OR
    join)."""
    from area_etl_spark.operators.joins import or_join

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select(
        F.col("c_custkey"), F.col("c_nationkey").alias("l_nat"),
        (F.col("c_custkey") % 30).alias("l_code"),
    )
    supp = tables["supplier"].select(
        F.col("s_suppkey"), F.col("s_nationkey").alias("r_nat"),
        (F.col("s_suppkey") % 30).alias("r_code"),
    )
    out = or_join(cust, supp, [("l_nat", "r_nat"), ("l_code", "r_code")])
    return out.groupBy("l_nat").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("s_suppkey").alias("n_suppliers"),
    )
def o_or_join() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey, c_nationkey AS l_nat, c_custkey % 30 AS l_code
                FROM customer
            ), supp AS (
                SELECT s_suppkey, s_nationkey AS r_nat, s_suppkey % 30 AS r_code
                FROM supplier
            )
            SELECT l_nat, COUNT(*) AS n_pairs,
                   CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
            FROM cust JOIN supp ON l_nat = r_nat OR l_code = r_code
            GROUP BY l_nat
        """


def q_bitmap_distinct(spark, sf_dir):
    """Exact distinct suppliers per return flag via bitmap aggregates
    (constant-size per-bucket accumulators instead of shuffling every
    distinct value)."""
    from area_etl_spark.operators.aggregates import bitmap_distinct_count

    li = _tables(spark, sf_dir)["lineitem"]
    return bitmap_distinct_count(li, ["l_returnflag"], "l_suppkey")
def o_bitmap_distinct() -> str:
    return """
            SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_distinct
            FROM lineitem GROUP BY l_returnflag
        """


def q_weighted_median(spark, sf_dir):
    """Lower weighted median price (cents) per return flag, weighted by
    quantity — cumulative-weight window, exact integer threshold test."""
    from area_etl_spark.operators.aggregates import weighted_median

    li = _tables(spark, sf_dir)["lineitem"]
    s = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_median(s, ["l_returnflag"], "price_cents", "qty")
def o_weighted_median() -> str:
    return """
            WITH s AS (
                SELECT l_returnflag,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                       CAST(l_quantity AS BIGINT) AS w
                FROM lineitem
            ), c AS (
                SELECT l_returnflag, v,
                       CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum,
                       CAST(SUM(w) OVER (PARTITION BY l_returnflag)
                            AS BIGINT) AS tot
                FROM s
            )
            SELECT l_returnflag, MIN(v) AS weighted_median
            FROM c WHERE cum * 2 >= tot GROUP BY l_returnflag
        """


WATERFALL_TIERS = [
    ("exact", [("key_dirty", "c_custkey")]),
    ("by_name", [("name_dirty", "c_name")]),
]


def q_waterfall_join(spark, sf_dir):
    """Cascading match: dirty inbound rows resolve against the customer
    master by exact key, then by name, else stay unmatched — each tier one
    equi-join + anti-join on the shrinking remainder."""
    from area_etl_spark.operators.joins import waterfall_join

    cust = _tables(spark, sf_dir)["customer"]
    incoming = cust.select(
        F.col("c_custkey").alias("in_id"),
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_custkey"))
        .otherwise(F.lit(-1))
        .alias("key_dirty"),
        F.when(F.col("c_custkey") % 3 != 2, F.col("c_name"))
        .otherwise(F.concat(F.lit("zzz-"), F.col("c_custkey").cast("string")))
        .alias("name_dirty"),
    )
    out = waterfall_join(
        incoming, cust.select("c_custkey", "c_name"), "in_id", "c_custkey", WATERFALL_TIERS
    )
    return out.select("in_id", "matched_id", "match_tier")
def o_waterfall_join() -> str:
    return """
            WITH incoming AS (
                SELECT c_custkey AS in_id,
                       CASE WHEN c_custkey % 3 = 0 THEN c_custkey ELSE -1 END AS key_dirty,
                       CASE WHEN c_custkey % 3 <> 2 THEN c_name
                            ELSE 'zzz-' || CAST(c_custkey AS VARCHAR) END AS name_dirty
                FROM customer
            ), t1 AS (
                SELECT i.in_id, MIN(c.c_custkey) AS matched_id, 'exact' AS match_tier
                FROM incoming i JOIN customer c ON i.key_dirty = c.c_custkey
                GROUP BY i.in_id
            ), t2 AS (
                SELECT i.in_id, MIN(c.c_custkey) AS matched_id, 'by_name' AS match_tier
                FROM incoming i JOIN customer c ON i.name_dirty = c.c_name
                WHERE NOT EXISTS (SELECT 1 FROM t1 WHERE t1.in_id = i.in_id)
                GROUP BY i.in_id
            ), matched AS (
                SELECT * FROM t1 UNION ALL SELECT * FROM t2
            )
            SELECT i.in_id, m.matched_id, m.match_tier
            FROM incoming i LEFT JOIN matched m ON m.in_id = i.in_id
        """


def q_radius_join(spark, sf_dir):
    """Spatial proximity join: customers within integer distance 500 of a
    supplier on a synthetic 10000×10000 plane — grid-bucketed (9-cell
    candidate join, ONE shuffle on the cell key, pure BIGINT distance
    predicate), never the |L|·|R| cross join the oracle brute-forces."""
    from area_etl_spark.operators.joins import radius_join

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select(
        F.col("c_custkey").alias("left_id"),
        ((F.col("c_custkey") * 37) % 10000).alias("x"),
        ((F.col("c_custkey") * 91) % 10000).alias("y"),
    )
    supp = tables["supplier"].select(
        F.col("s_suppkey").alias("right_id"),
        ((F.col("s_suppkey") * 53) % 10000).alias("x"),
        ((F.col("s_suppkey") * 71) % 10000).alias("y"),
    )
    return radius_join(cust, supp, "x", "y", radius=500)
def o_radius_join() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey AS left_id,
                       (c_custkey * 37) % 10000 AS x, (c_custkey * 91) % 10000 AS y
                FROM customer
            ), supp AS (
                SELECT s_suppkey AS right_id,
                       (s_suppkey * 53) % 10000 AS x, (s_suppkey * 71) % 10000 AS y
                FROM supplier
            )
            SELECT c.left_id, s.right_id,
                   (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
            FROM cust c JOIN supp s
              ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 250000
        """


def q_tpch_q3ish(spark, sf_dir):
    """Shipping-priority shape (TPC-H Q3): 3-way join, agg, top-10 by revenue.

    customer filter → broadcast into orders; orders⋈lineitem is the
    fact-fact shuffle (bucketable at scale); top-10 is TakeOrdered, no
    global sort.
    """
    tables = _tables(spark, sf_dir)
    cust = tables["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = tables["orders"].select(
        F.col("o_orderkey"), F.col("o_custkey").alias("c_custkey"), F.col("o_orderdate")
    )
    li = tables["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long").alias("rev_cents"),
    )
    return (
        orders.join(cust, "c_custkey")  # sf-proportional side: AQE picks BHJ/SMJ
        .join(li, "o_orderkey")
        .groupBy("o_orderkey", "o_orderdate")
        .agg((F.sum("rev_cents") / F.lit(100.0)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )
def o_tpch_q3ish() -> str:
    return """
            SELECT o_orderkey, o_orderdate,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                       / CAST(100.0 AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
            JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY 1, 2
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """


def q_tpch_q5ish(spark, sf_dir):
    """Local-supplier-volume shape (TPC-H Q5): 5-way star join + rollup.

    All dimension sides broadcast; the single data-sized shuffle is
    orders⋈lineitem and the final group-by.
    """
    tables = _tables(spark, sf_dir)
    region = tables["region"].select(F.col("r_regionkey").alias("n_regionkey"), F.col("r_name"))
    nation = tables["nation"].select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name"), F.col("n_regionkey")
    )
    cust = tables["customer"].select("c_custkey", "c_nationkey")
    orders = tables["orders"].select(
        F.col("o_orderkey"), F.col("o_custkey").alias("c_custkey"), F.year("o_orderdate").alias("o_year")
    )
    li = tables["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long").alias("rev_cents"),
    )
    joined = (
        orders.join(li, "o_orderkey")
        .join(cust, "c_custkey")  # sf-proportional: AQE decides
        .join(F.broadcast(nation), "c_nationkey")
        .join(F.broadcast(region), "n_regionkey")
    )
    return (
        joined.where(F.col("o_year").between(1996, 1998))
        .groupBy("r_name", "n_name", "o_year")
        .agg((F.sum("rev_cents") / F.lit(100.0)).alias("revenue"))
    )
def o_tpch_q5ish() -> str:
    return """
            SELECT r.r_name, n.n_name, year(o.o_orderdate) AS o_year,
                   SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
                       / CAST(100.0 AS DOUBLE) AS revenue
            FROM orders o
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE year(o.o_orderdate) BETWEEN 1996 AND 1998
            GROUP BY 1, 2, 3
        """


def q_histogram_bins(spark, sf_dir):
    """Fixed-width histogram of order values (floor-div binning — portable,
    no width_bucket dependency), with per-bin totals."""
    tables = _tables(spark, sf_dir)
    binned = tables["orders"].select(
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("cents") / F.lit(100.0)).alias("total_value"),
    )
def o_histogram_bins() -> str:
    return """
            SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
                   COUNT(*) AS n_orders,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_value
            FROM orders GROUP BY 1
        """


def q_range_band_join(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    spark_bands = spark.createDataFrame(
        [("SMALL", 0.0, 50_000.0), ("MEDIUM", 50_000.0, 200_000.0), ("LARGE", 200_000.0, 10_000_000.0)],
        "band string, lo double, hi double",
    )
    joined = range_band_join(tables["orders"], spark_bands, "o_totalprice")
    return joined.select("o_orderkey", "band")
def o_range_band_join() -> str:
    return """
            SELECT o.o_orderkey, b.band
            FROM orders o
            LEFT JOIN (VALUES ('SMALL', 0.0, 50000.0),
                              ('MEDIUM', 50000.0, 200000.0),
                              ('LARGE', 200000.0, 10000000.0)) AS b(band, lo, hi)
              ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        """


def q_monthly_revenue_rollup(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    li = tables["lineitem"].select(
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long").alias("rev_cents"),
    )
    return li.groupBy("ship_month").agg(
        (F.sum("rev_cents") / F.lit(100.0)).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
def o_monthly_revenue_rollup() -> str:
    return """
            SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                       / CAST(100.0 AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lines
            FROM lineitem GROUP BY 1
        """


def q_agg_salted_sum(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return AGG.salted_agg_sum_count(ev, ["event_type"], "cents", salt_on="event_id", buckets=32)
def o_agg_salted_sum() -> str:
    return """
            SELECT event_type,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """


def q_distinct_count_skewsafe(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return AGG.distinct_count_skew_safe(tables["events"], ["event_type"], "user_id")
def o_distinct_count_skewsafe() -> str:
    return """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
            FROM events GROUP BY event_type
        """


def q_anti_semi_join(spark, sf_dir):
    """Customers never seen in orders (anti) vs seen (semi) — one row per kind.

    Left-anti/semi joins are Spark's EXISTS/NOT EXISTS: build side hashed,
    probe short-circuits — no row multiplication regardless of match count.
    """
    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select("c_custkey")
    orders = tables["orders"].select(F.col("o_custkey").alias("c_custkey"))
    anti = cust.join(orders, "c_custkey", "left_anti").agg(F.count(F.lit(1)).alias("n"))
    semi = cust.join(orders, "c_custkey", "left_semi").agg(F.count(F.lit(1)).alias("n"))
    return anti.select(F.lit("never_ordered").alias("kind"), "n").unionByName(
        semi.select(F.lit("ordered").alias("kind"), "n")
    )
def o_anti_semi_join() -> str:
    return """
            SELECT 'never_ordered' AS kind, COUNT(*) AS n FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            UNION ALL
            SELECT 'ordered' AS kind, COUNT(*) AS n FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """


def q_percentile_agg(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return (
        tables["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(F.col("l_quantity"), F.lit(0.5)), 6).alias("p50_qty"),
            F.round(F.percentile(F.col("l_quantity"), F.lit(0.95)), 6).alias("p95_qty"),
            F.round(F.percentile(F.col("l_extendedprice"), F.lit(0.5)), 4).alias("p50_price"),
        )
    )
def o_percentile_agg() -> str:
    return """
            SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
                   round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price
            FROM lineitem GROUP BY l_returnflag
        """


def q_groupby_rollup(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    nation = tables["nation"].select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
    cust = left_join_chain(tables["customer"], [(nation, "c_nationkey", True)])
    return (
        cust.rollup("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), exact_money_sum("c_acctbal").alias("total_acctbal"))
    )
def o_groupby_rollup() -> str:
    return """
            SELECT n.n_name, c.c_mktsegment,
                   COUNT(*) AS n,
                   SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_acctbal
            FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
        """


def q_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg WITHIN GROUP) — deterministic
    under any shuffle order because the sort is inside the aggregate."""
    tables = _tables(spark, sf_dir)
    return (
        tables["supplier"]
        .groupBy("s_nationkey")
        .agg(F.expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)").alias("supplier_names"))
    )
def o_string_agg() -> str:
    return """
            SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS supplier_names
            FROM supplier GROUP BY s_nationkey
        """


def q_unpivot_melt(spark, sf_dir):
    """Wide→long reshape (DataFrame.unpivot) — inverse of pivot_agg."""
    tables = _tables(spark, sf_dir)
    wide = (
        tables["orders"]
        .select("o_orderpriority", "o_orderstatus", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .sum("cents")
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["F", "O", "P"],
        variableColumnName="status",
        valueColumnName="cents",
    )
def o_unpivot_melt() -> str:
    return """
            WITH wide AS (
                SELECT o_orderpriority,
                       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS f,
                       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS o,
                       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS p
                FROM orders GROUP BY o_orderpriority
            )
            SELECT o_orderpriority, 'F' AS status, f AS cents FROM wide
            UNION ALL SELECT o_orderpriority, 'O', o FROM wide
            UNION ALL SELECT o_orderpriority, 'P', p FROM wide
        """


def q_groupby_cube(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return (
        tables["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), exact_money_sum("o_totalprice").alias("total"))
    )
def o_groupby_cube() -> str:
    return """
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """


def q_pivot_agg(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return (
        tables["orders"]
        .select("o_orderpriority", "o_orderstatus", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .sum("cents")
        .select(
            "o_orderpriority",
            F.col("F").alias("cents_f"),
            F.col("O").alias("cents_o"),
            F.col("P").alias("cents_p"),
        )
    )
def o_pivot_agg() -> str:
    return """
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents_f,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents_o,
                   CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents_p
            FROM orders GROUP BY o_orderpriority
        """


def q_salted_join_skew(spark, sf_dir):
    """Skew-safe salted equi-join (lineitem ⋈ supplier): big side salted on
    a row-unique hash, dimension side replicated num_salts×.  Result is
    IDENTICAL to the plain join — the oracle IS the plain join."""
    from area_etl_spark.operators.joins import salted_join

    tables = _tables(spark, sf_dir)
    li = tables["lineitem"].select(
        "l_orderkey", "l_linenumber", F.col("l_suppkey").alias("s_suppkey"), "l_quantity"
    )
    sup = tables["supplier"].select("s_suppkey", "s_name")
    out = salted_join(
        li, sup, "s_suppkey", num_salts=8,
        salt_source=F.xxhash64("l_orderkey", "l_linenumber"),
    )
    return out.select("l_orderkey", "l_linenumber", "s_suppkey", "s_name", "l_quantity")
def o_salted_join_skew() -> str:
    return """
            SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey AS s_suppkey,
                   s.s_name, l.l_quantity
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        """


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — finer than ROLLUP/CUBE: exactly the
    (flag,status), (flag), () groupings, with a portable grouping id derived
    from null-ness (safe: TPC-H flag/status are never NULL in the data)."""
    _tables(spark, sf_dir)["lineitem"]  # register the view
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
                    + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS INT) AS gid,
               COUNT(*) AS n,
               SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )
def o_grouping_sets() -> str:
    return """
            SELECT l_returnflag, l_linestatus,
                   CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
                        + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS INT) AS gid,
                   COUNT(*) AS n,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_price
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """


def q_mode_per_group(spark, sf_dir):
    """DETERMINISTIC mode per user (most frequent event type, ties → first
    alphabetically) — built-in `mode()` leaves ties engine-defined, so the
    argmax runs as a struct-min over (−count, value)."""
    tables = _tables(spark, sf_dir)
    counts = tables["events"].groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    win = counts.groupBy("user_id").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("event_type").alias("et"))).alias("_w")
    )
    return win.select(
        "user_id", F.col("_w.et").alias("mode_event_type"), (-F.col("_w.neg")).cast("long").alias("mode_count")
    )
def o_mode_per_group() -> str:
    return """
            SELECT user_id, event_type AS mode_event_type, CAST(cnt AS BIGINT) AS mode_count
            FROM (
                SELECT user_id, event_type, COUNT(*) AS cnt,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY COUNT(*) DESC, event_type ASC) AS rn
                FROM events GROUP BY user_id, event_type
            ) WHERE rn = 1
        """


def q_set_operations(spark, sf_dir):
    """INTERSECT / EXCEPT set algebra: BUILDING-segment customers split into
    those who ever ordered and those who never did."""
    tables = _tables(spark, sf_dir)
    seg = tables["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey"))
    both = seg.intersect(ordered).select(F.lit("ordered").alias("kind"), "c_custkey")
    never = seg.subtract(ordered).select(F.lit("never").alias("kind"), "c_custkey")
    return both.unionByName(never)
def o_set_operations() -> str:
    return """
            SELECT 'ordered' AS kind, c_custkey FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                INTERSECT
                SELECT o_custkey FROM orders
            )
            UNION ALL
            SELECT 'never' AS kind, c_custkey FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                EXCEPT
                SELECT o_custkey FROM orders
            )
        """


def q_agg_state_merge(spark, sf_dir):
    """Incremental-aggregation mergeability: per-user (n,sum,min,max) states
    built over two disjoint halves of the event stream merge into exactly
    the full-scan aggregate (the oracle IS the full scan) — the algebraic
    merge law that keeps 100 TB rollups O(new partition) instead of
    O(history)."""
    from area_etl_spark.operators.aggregates import agg_state, merge_agg_states

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    a = agg_state(ev.where(F.col("event_id") % 2 == 0), ["user_id"], "cents")
    b = agg_state(ev.where(F.col("event_id") % 2 == 1), ["user_id"], "cents")
    return merge_agg_states([a, b], ["user_id"]).select(
        "user_id",
        "n",
        F.col("sum").alias("sum_cents"),
        F.col("min").alias("min_cents"),
        F.col("max").alias("max_cents"),
    )
def o_agg_state_merge() -> str:
    return """
            SELECT user_id,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   MIN(CAST(round(value * 100) AS BIGINT)) AS min_cents,
                   MAX(CAST(round(value * 100) AS BIGINT)) AS max_cents
            FROM events GROUP BY user_id
        """


def q_bloom_prune(spark, sf_dir):
    """Bloom-filter join pruning: lineitem pre-filtered to suppliers from
    nation 3 by a 256-bit bitmap built in one bounded pass — the
    shuffle-avoidance move when the dim side is too big to broadcast as a
    hash table but its Bloom bitmap is tiny.  The tiny num_bits is chosen
    to surface deterministic false positives, which the portable md5 hash
    family reproduces bit-identically in the oracle."""
    from area_etl_spark.operators.sketches import bloom_prune

    tables = _tables(spark, sf_dir)
    build = tables["supplier"].where(F.col("s_nationkey") == 3)
    pruned = bloom_prune(
        tables["lineitem"], build, "l_suppkey", "s_suppkey", num_bits=256, num_hashes=3
    )
    return pruned.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_cents"),
    )
def o_bloom_prune() -> str:
    return """
            WITH bp AS (
                SELECT DISTINCT
                       CAST('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 12) AS BIGINT) % 256 AS p
                FROM supplier, (SELECT UNNEST([0, 1, 2]) AS i) i
                WHERE s_nationkey = 3
            ), kept AS (
                SELECT l_suppkey, l_extendedprice
                FROM lineitem
                WHERE l_suppkey IS NOT NULL
                  AND (CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || ':0'), 1, 12)
                       AS BIGINT) % 256) IN (SELECT p FROM bp)
                  AND (CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || ':1'), 1, 12)
                       AS BIGINT) % 256) IN (SELECT p FROM bp)
                  AND (CAST('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || ':2'), 1, 12)
                       AS BIGINT) % 256) IN (SELECT p FROM bp)
            )
            SELECT l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM kept GROUP BY l_suppkey
        """


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters: customers with ≥25 orders estimated
    from a fixed 3×64 counter table (deliberately narrow so collisions
    inflate estimates — the estimates-never-undercount guarantee and the
    exact collision pattern are both reproduced by the oracle)."""
    from area_etl_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(
        _tables(spark, sf_dir)["orders"], "o_custkey", threshold=25, width=64, depth=3
    )
def o_cms_heavy_hitters() -> str:
    return """
            WITH sketch AS (
                SELECT i.i AS row_,
                       CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 12) AS BIGINT) % 64 AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM orders, (SELECT UNNEST([0, 1, 2]) AS i) i
                WHERE o_custkey IS NOT NULL
                GROUP BY 1, 2
            ), probes AS (
                SELECT k.k, i.i AS row_,
                       CAST('0x' || substr(md5(CAST(k.k AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 12) AS BIGINT) % 64 AS bucket
                FROM (SELECT DISTINCT o_custkey AS k FROM orders
                      WHERE o_custkey IS NOT NULL) k,
                     (SELECT UNNEST([0, 1, 2]) AS i) i
            ), est AS (
                SELECT p.k, MIN(COALESCE(s.cnt, 0)) AS est
                FROM probes p
                LEFT JOIN sketch s ON p.row_ = s.row_ AND p.bucket = s.bucket
                GROUP BY p.k
            )
            SELECT k AS o_custkey, CAST(est AS BIGINT) AS est
            FROM est WHERE est >= 25
        """


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-16 distinct sketch per market segment: deterministic
    (md5) bottom-k hashes → distinct-customer estimates that reproduce
    bit-identically in the oracle — the mergeable distinct-count sketch
    with set algebra that HLL can't give you (union via kmv_merge is
    pytest-proven equal to sketching the union)."""
    from area_etl_spark.operators.sketches import kmv_estimate, kmv_sketch

    sk = kmv_sketch(
        _tables(spark, sf_dir)["customer"], ["c_mktsegment"], "c_custkey", k=16
    )
    est = kmv_estimate(sk, 16)
    return est.select(
        "c_mktsegment",
        F.size("hashes").alias("n_hashes"),
        "est_distinct",
    )
def o_kmv_distinct() -> str:
    return """
            WITH h AS (
                SELECT DISTINCT c_mktsegment AS seg,
                       CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12)
                            AS BIGINT) AS h
                FROM customer WHERE c_custkey IS NOT NULL
            ), sk AS (
                SELECT seg, list_slice(list(h ORDER BY h), 1, 16) AS hs
                FROM h GROUP BY seg
            )
            SELECT seg AS c_mktsegment,
                   CAST(len(hs) AS INT) AS n_hashes,
                   CASE WHEN len(hs) < 16 THEN CAST(len(hs) AS DOUBLE)
                        ELSE CAST(15 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                             / CAST(hs[16] AS DOUBLE) END AS est_distinct
            FROM sk
        """


def q_kmv_overlap(spark, sf_dir):
    """Audience-overlap matrix from KMV sketches: pairwise Jaccard of
    user sets between event types, computed entirely from bottom-16
    sketches — never re-reading events."""
    from area_etl_spark.operators.sketches import kmv_pairwise_jaccard, kmv_sketch

    sk = kmv_sketch(_tables(spark, sf_dir)["events"], ["event_type"], "user_id", k=16)
    return kmv_pairwise_jaccard(sk, "event_type", 16)
def o_kmv_overlap() -> str:
    return """
            WITH h AS (
                SELECT DISTINCT event_type AS seg,
                       CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                            AS BIGINT) AS h
                FROM events WHERE user_id IS NOT NULL
            ), sk AS (
                SELECT seg, list_slice(list(h ORDER BY h), 1, 16) AS hs
                FROM h GROUP BY seg
            ), p AS (
                SELECT s1.seg AS g1, s1.hs AS ha, s2.seg AS g2, s2.hs AS hb
                FROM sk s1, sk s2 WHERE s1.seg < s2.seg
            ), c AS (
                SELECT g1, g2, ha, hb,
                       list_slice(list_sort(list_distinct(ha || hb)), 1, 16) AS u
                FROM p
            )
            SELECT g1, g2,
                   CAST(len(u) AS INT) AS k_used,
                   CAST(len(list_intersect(list_intersect(u, ha), hb)) AS INT)
                       AS n_shared,
                   CAST(len(list_intersect(list_intersect(u, ha), hb)) AS DOUBLE)
                       / CAST(len(u) AS DOUBLE) AS jaccard
            FROM c
        """


def q_trimmed_mean(spark, sf_dir):
    """10% trimmed mean of order value per priority — the robust location
    estimate that DROPS the tails (winsorize clamps them): exact
    interpolated percentile bounds broadcast back, DECIMAL(38,0) sum of
    the kept rows, one final division."""
    from area_etl_spark.operators.aggregates import trimmed_mean

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return trimmed_mean(o, ["o_orderpriority"], "cents", trim=0.1)
def o_trimmed_mean() -> str:
    return """
            WITH o AS (
                SELECT o_orderpriority,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
            ), b AS (
                SELECT o_orderpriority, quantile_cont(v, 0.1) AS lo,
                       quantile_cont(v, 0.9) AS hi, COUNT(v) AS n_total
                FROM o GROUP BY 1
            )
            SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(b.n_total) AS BIGINT) AS n_total,
                   CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
            FROM o JOIN b USING (o_orderpriority)
            WHERE CAST(v AS DOUBLE) >= lo AND CAST(v AS DOUBLE) <= hi
            GROUP BY 1
        """


_HLL_DIGIT_CASE_SQL = " ".join(
    f"WHEN '{d}' THEN {z}" for d, z in _HLL_DZ.items()
)


def q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog over event user ids — md5 string-arithmetic
    registers (no float log in extraction), sorted-fold harmonic sum,
    small-range correction; bit-identical under any partitioning and in
    DuckDB."""
    from area_etl_spark.operators.sketches import hll_distinct_portable

    return hll_distinct_portable(_tables(spark, sf_dir)["events"], "user_id")
def o_hll_distinct() -> str:
    return f"""
            WITH h AS (
                SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events
            ), ext AS (
                SELECT CAST(CAST('0x' || substr(h, 1, 12) AS BIGINT) % 64 AS INT) AS b,
                       substr(h, 13, 15) AS tail
                FROM h
            ), rho AS (
                SELECT b,
                       CASE WHEN regexp_replace(tail, '^0+', '') = '' THEN 61
                            ELSE (length(tail) - length(regexp_replace(tail, '^0+', ''))) * 4
                                 + CASE substr(regexp_replace(tail, '^0+', ''), 1, 1)
                                   {_HLL_DIGIT_CASE_SQL}
                                   END + 1
                       END AS rho
                FROM ext
            ), regs AS (
                SELECT b, MAX(rho) AS m FROM rho GROUP BY b
            ), spine AS (
                SELECT CAST(unnest(range(64)) AS INT) AS b
            ), filled AS (
                SELECT spine.b, COALESCE(regs.m, 0) AS m
                FROM spine LEFT JOIN regs USING (b)
            ), agg AS (
                SELECT list_reduce(
                           list_prepend(0.0::DOUBLE,
                               list(pow(2.0, -CAST(m AS DOUBLE)) ORDER BY b)),
                           (a, x) -> a + x) AS S,
                       CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
                FROM filled
            )
            SELECT 64 AS m, v_zero,
                   round(CASE WHEN 0.709 * 64 * 64 / S <= 2.5 * 64 AND v_zero > 0
                              THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                              ELSE 0.709 * 64 * 64 / S END, 3) + 0.0 AS estimate
            FROM agg
        """
