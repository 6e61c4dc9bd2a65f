"""Business analytics: allocation, revenue bridges, cost basis, customer
segments and geography (``operators/business``, ``operators/allocation``,
``operators/geo``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators.geo import point_in_polygon_sql as _pip_sql
from area_etl_spark.registry._common import _tables


def q_allocate_budget(spark, sf_dir):
    """Largest-remainder proration: 1,000,000 integer units per order
    priority spread across its orders ∝ total price — shares are integers
    summing exactly to the target (Hamilton apportionment)."""
    from area_etl_spark.operators.allocation import allocate_largest_remainder

    o = _tables(spark, sf_dir)["orders"]
    w = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w_cents"),
    )
    return allocate_largest_remainder(
        w, ["o_orderpriority"], "o_orderkey", "w_cents", 1_000_000
    )
def o_allocate_budget() -> str:
    return """
            WITH w AS (
                SELECT o_orderpriority, o_orderkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS weight
                FROM orders
            ), t AS (
                SELECT *, CAST(SUM(weight) OVER (PARTITION BY o_orderpriority)
                               AS BIGINT) AS tot
                FROM w
            ), s AS (
                SELECT o_orderpriority, o_orderkey, weight,
                       (1000000 * weight) // tot AS fl,
                       (1000000 * weight) % tot AS rem
                FROM t
            ), r AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY rem DESC, o_orderkey) AS rk,
                       CAST(SUM(fl) OVER (PARTITION BY o_orderpriority)
                            AS BIGINT) AS sfl
                FROM s
            )
            SELECT o_orderpriority, o_orderkey, weight,
                   CAST(fl + CASE WHEN rk <= 1000000 - sfl THEN 1 ELSE 0 END
                        AS BIGINT) AS share
            FROM r
        """


def q_revenue_bridge(spark, sf_dir):
    """Period-over-period revenue waterfall: per-customer totals for two
    halves of the window, classified new / churned / expansion /
    contraction / flat — category deltas reconcile exactly to the total
    change (integer cents end-to-end)."""
    from area_etl_spark.operators.business import revenue_bridge

    o = _tables(spark, sf_dir)["orders"].select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    prior = o.where(F.col("o_orderdate") < cutoff).groupBy("o_custkey").agg(
        F.sum("cents").alias("amt")
    )
    current = o.where(F.col("o_orderdate") >= cutoff).groupBy("o_custkey").agg(
        F.sum("cents").alias("amt")
    )
    return revenue_bridge(prior, current, "o_custkey", "amt")
def o_revenue_bridge() -> str:
    return """
            WITH o AS (
                SELECT o_custkey, o_orderdate,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), p AS (
                SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS amt
                FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01'
                GROUP BY o_custkey
            ), c AS (
                SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS amt
                FROM o WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                GROUP BY o_custkey
            ), j AS (
                SELECT COALESCE(p.amt, 0) AS pa, COALESCE(c.amt, 0) AS ca,
                       p.amt IS NULL AS is_new, c.amt IS NULL AS is_churned
                FROM p FULL OUTER JOIN c ON p.o_custkey = c.o_custkey
            )
            SELECT CASE WHEN is_new THEN 'new'
                        WHEN is_churned THEN 'churned'
                        WHEN ca > pa THEN 'expansion'
                        WHEN ca < pa THEN 'contraction'
                        ELSE 'flat' END AS category,
                   COUNT(*) AS n_keys,
                   CAST(SUM(ca - pa) AS BIGINT) AS delta
            FROM j GROUP BY 1
        """


def q_rfm_segments(spark, sf_dir):
    """RFM quintile segmentation per customer (recency / frequency /
    monetary ntiles over the per-key aggregate, key-tie-broken; 555 best)."""
    from area_etl_spark.operators.business import rfm_segments

    o = _tables(spark, sf_dir)["orders"].select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return rfm_segments(o, "o_custkey", "o_orderdate", "cents", "2003-01-01")
def o_rfm_segments() -> str:
    return """
            WITH per_key AS (
                SELECT o_custkey,
                       CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                                      DATE '2003-01-01') AS INT) AS recency_days,
                       COUNT(*) AS frequency,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS monetary
                FROM orders GROUP BY o_custkey
            ), scored AS (
                SELECT *,
                       CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
                            AS INT) AS r_score,
                       CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey)
                            AS INT) AS f_score,
                       CAST(ntile(5) OVER (ORDER BY monetary ASC, o_custkey)
                            AS INT) AS m_score
                FROM per_key
            )
            SELECT o_custkey, recency_days, frequency, monetary,
                   r_score, f_score, m_score,
                   CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS segment
            FROM scored
        """


def q_attribution_time_decay(spark, sf_dir):
    """Multi-touch attribution with exponential time-decay credit: every
    view/click within 7 days before a purchase earns 2^(7-k) integer credit
    (k = recency rank, most recent k=0, capped at 8 touches) — exact BIGINT
    sums per channel, the power-of-two decay keeping cross-engine hashes
    stable (ewma recipe)."""
    from area_etl_spark.operators.business import time_decay_attribution

    return time_decay_attribution(_tables(spark, sf_dir)["events"])
def o_attribution_time_decay() -> str:
    return """
            WITH conv AS (
                SELECT event_id AS conv_id, user_id, ts AS conv_ts
                FROM events WHERE event_type = 'purchase'
            ), tch AS (
                SELECT user_id, event_type AS channel, ts AS touch_ts,
                       event_id AS touch_id
                FROM events WHERE event_type IN ('view', 'click')
            ), j AS (
                SELECT conv_id, channel, touch_ts, touch_id
                FROM tch JOIN conv USING (user_id)
                WHERE touch_ts < conv_ts AND touch_ts >= conv_ts - INTERVAL 7 DAY
            ), r AS (
                SELECT conv_id, channel,
                       row_number() OVER (PARTITION BY conv_id
                           ORDER BY touch_ts DESC, touch_id DESC) - 1 AS k
                FROM j
            )
            SELECT channel,
                   CAST(SUM(1 << (7 - k)) AS BIGINT) AS credit,
                   CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions
            FROM r WHERE k < 8 GROUP BY channel
        """


def q_growth_accounting(spark, sf_dir):
    """Daily growth accounting over events: every active user classified
    new / retained / resurrected per day, churn reported the day after
    last activity — all lag/lead arithmetic on the distinct (user, day)
    activity grid, exact integers end to end."""
    from area_etl_spark.operators.business import growth_accounting

    ev = _tables(spark, sf_dir)["events"]
    return growth_accounting(
        ev, "user_id", F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
    )
def o_growth_accounting() -> str:
    return """
            WITH act AS (
                SELECT DISTINCT user_id AS k,
                       CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS p
                FROM events
            ), cl AS (
                SELECT p,
                       lag(p)  OVER (PARTITION BY k ORDER BY p) AS prev,
                       lead(p) OVER (PARTITION BY k ORDER BY p) AS nxt
                FROM act
            ), bs AS (
                SELECT p,
                       CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                       CAST(SUM(CASE WHEN prev = p - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
                       CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < p - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
                FROM cl GROUP BY p
            ), mx AS (
                SELECT MAX(p) AS mp FROM act
            ), ch AS (
                SELECT p + 1 AS p, CAST(COUNT(*) AS BIGINT) AS n_churned
                FROM cl, mx
                WHERE (nxt IS NULL OR nxt > p + 1) AND p + 1 <= mp
                GROUP BY p + 1
            )
            SELECT COALESCE(bs.p, ch.p) AS period,
                   COALESCE(n_new, 0) AS n_new,
                   COALESCE(n_retained, 0) AS n_retained,
                   COALESCE(n_resurrected, 0) AS n_resurrected,
                   COALESCE(n_churned, 0) AS n_churned
            FROM bs FULL OUTER JOIN ch ON bs.p = ch.p
        """


def _geohash_sql(lat: str, lon: str, precision: int = 6) -> str:
    """DuckDB replay of geo.geohash_encode: same quantization, same
    lon-first bit interleave, same base32 lookup."""
    half = 5 * precision // 2
    scale = 1 << half
    lonq = (
        f"LEAST({scale - 1}, GREATEST(0, CAST(FLOOR((({lon} + 180.0) / 360.0) "
        f"* {float(scale)}) AS BIGINT)))"
    )
    latq = (
        f"LEAST({scale - 1}, GREATEST(0, CAST(FLOOR((({lat} + 90.0) / 180.0) "
        f"* {float(scale)}) AS BIGINT)))"
    )
    total = 2 * half
    # every term fully parenthesized: SQL gives '+' HIGHER precedence than
    # '<<', so a bare `x << 29 + y << 27` parses as `x << (29 + y) << 27`
    terms = []
    for i in range(half):
        terms.append(f"(((lonq >> {half - 1 - i}) & 1) << {total - 1 - 2 * i})")
        terms.append(f"(((latq >> {half - 1 - i}) & 1) << {total - 2 - 2 * i})")
    g = " + ".join(terms)
    chars = []
    for j in range(precision):
        chars.append(
            "substr('0123456789bcdefghjkmnpqrstuvwxyz', "
            f"CAST((g >> {5 * (precision - 1 - j)}) & 31 AS INTEGER) + 1, 1)"
        )
    concat = " || ".join(chars)
    # correlated scalar subqueries decorrelate wrongly in the FROM position;
    # LATERAL keeps the per-row evaluation explicit
    return {"lonq": lonq, "latq": latq, "g": g, "concat": concat}


_GH = _geohash_sql("lat", "lon", 6)


def q_geohash_cells(spark, sf_dir):
    """Standard geohash-6 cell rollup over synthetic order coordinates —
    the interoperable spatial bucket key (same cells as every geohash
    library, proven on reference vectors in pytest), computed as ONE
    narrow closed-form bit-interleave projection in the scan stage."""
    from area_etl_spark.operators.geo import geohash_encode

    o = _tables(spark, sf_dir)["orders"].select(
        ((F.col("o_custkey") % 17000) / 100.0 - 85.0).alias("lat"),
        ((F.col("o_orderkey") % 35000) / 100.0 - 175.0).alias("lon"),
    )
    return o.select(geohash_encode(F.col("lat"), F.col("lon"), 6).alias("cell")).groupBy(
        "cell"
    ).agg(F.count(F.lit(1)).alias("n_orders"))
def o_geohash_cells() -> str:
    return f"""
            WITH o AS (
                SELECT ((o_custkey % 17000) / 100.0 - 85.0) AS lat,
                       ((o_orderkey % 35000) / 100.0 - 175.0) AS lon
                FROM orders
            ), cells AS (
                SELECT {_GH["concat"]} AS cell
                FROM o,
                     LATERAL (SELECT {_GH["lonq"]} AS lonq,
                                     {_GH["latq"]} AS latq) q1,
                     LATERAL (SELECT ({_GH["g"]}) AS g) q2
            )
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM cells GROUP BY 1
        """


IP_NETWORKS = [
    ("internal-10", "10.0.0.0/8"),
    ("office-lan", "192.168.0.0/16"),
    ("office-floor1", "192.168.1.0/24"),
    ("google-dns", "8.8.8.0/24"),
]


def q_ip_networks(spark, sf_dir):
    """IPv4 → CIDR classification of synthetic access ips (parse_logs'
    natural downstream): dotted-quad parse with malformed-input quarantine,
    broadcast band join on the numeric ip, MOST-SPECIFIC block wins."""
    from area_etl_spark.operators.geo import tag_ip_networks

    c = _tables(spark, sf_dir)["customer"].select("c_custkey")
    ip = F.concat_ws(
        ".",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("10"))
        .when(F.col("c_custkey") % 3 == 1, F.lit("192"))
        .otherwise(F.lit("8")),
        F.when(F.col("c_custkey") % 3 == 0, (F.col("c_custkey") % 200).cast("string"))
        .when(F.col("c_custkey") % 3 == 1, F.lit("168"))
        .otherwise(F.lit("8")),
        (F.col("c_custkey") % 7).cast("string"),
        ((F.col("c_custkey") * 3) % 256).cast("string"),
    )
    df = c.select("c_custkey", ip.alias("ip"))
    return tag_ip_networks(df, "ip", IP_NETWORKS)
def o_ip_networks() -> str:
    return f"""
            WITH c AS (
                SELECT c_custkey,
                       (CASE WHEN c_custkey % 3 = 0 THEN '10'
                             WHEN c_custkey % 3 = 1 THEN '192' ELSE '8' END)
                       || '.' ||
                       (CASE WHEN c_custkey % 3 = 0 THEN CAST(c_custkey % 200 AS VARCHAR)
                             WHEN c_custkey % 3 = 1 THEN '168' ELSE '8' END)
                       || '.' || CAST(c_custkey % 7 AS VARCHAR)
                       || '.' || CAST((c_custkey * 3) % 256 AS VARCHAR) AS ip
                FROM customer
            ), p AS (
                SELECT c_custkey, ip, string_split(ip, '.') AS parts FROM c
            ), n AS (
                SELECT c_custkey, ip,
                       TRY_CAST(parts[1] AS BIGINT) * 16777216
                       + TRY_CAST(parts[2] AS BIGINT) * 65536
                       + TRY_CAST(parts[3] AS BIGINT) * 256
                       + TRY_CAST(parts[4] AS BIGINT) AS ip_num
                FROM p
            ), dim AS (
                SELECT * FROM (VALUES {", ".join(f"('{name}', {__import__('area_etl_spark.operators.geo', fromlist=['cidr_bounds']).cidr_bounds(cidr)[0]}, {__import__('area_etl_spark.operators.geo', fromlist=['cidr_bounds']).cidr_bounds(cidr)[1]})" for name, cidr in IP_NETWORKS)})
                       AS t(net_name, net_lo, net_hi)
            ), j AS (
                SELECT n.c_custkey, n.ip, n.ip_num, d.net_name, d.net_lo,
                       row_number() OVER (
                           PARTITION BY n.c_custkey
                           ORDER BY d.net_lo DESC NULLS LAST,
                                    d.net_name DESC NULLS LAST) AS rn
                FROM n LEFT JOIN dim d
                  ON n.ip_num >= d.net_lo AND n.ip_num <= d.net_hi
            )
            SELECT c_custkey, ip, ip_num,
                   CASE WHEN net_lo IS NOT NULL THEN net_name END AS network
            FROM j WHERE rn = 1
        """


_FIFO_TRADES_SQL = """li AS (
    SELECT user_id % 50 AS sym,
           event_id AS ts,
           CASE WHEN event_id % 2 = 1 THEN 'buy' ELSE 'sell' END AS side,
           CAST(round(value * 100) AS BIGINT) % 50 + 1 AS q,
           CAST(round(value * 100) AS BIGINT) % 1000 + 1 AS p
    FROM events
)"""


def q_fifo_cost_basis(spark, sf_dir):
    """FIFO tax-lot matching over event-derived trades (event_id is the
    UNIQUE deterministic trade time — lineitem's (orderkey, linenumber) is
    not unique in this synthetic data, and FIFO price attribution is
    order-sensitive under ties) — cumulative-quantity interval algebra,
    all-BIGINT, one row per sell."""
    from area_etl_spark.operators.business import fifo_cost_basis

    cents = F.round(F.col("value") * 100).cast("long")
    tr = _tables(spark, sf_dir)["events"].select(
        (F.col("user_id") % 50).alias("sym"),
        F.col("event_id").alias("ts"),
        F.when(F.col("event_id") % 2 == 1, "buy").otherwise("sell").alias("side"),
        (cents % 50 + 1).alias("q"),
        (cents % 1000 + 1).alias("p"),
    )
    return fifo_cost_basis(tr, ["sym"], "ts", "side", "q", "p")
def o_fifo_cost_basis() -> str:
    return f"""
            WITH {_FIFO_TRADES_SQL}, buys AS (
                SELECT sym,
                       COALESCE(SUM(q) OVER (PARTITION BY sym ORDER BY ts, q, p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b0,
                       COALESCE(SUM(q) OVER (PARTITION BY sym ORDER BY ts, q, p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + q AS b1,
                       p AS bp
                FROM li WHERE side = 'buy'
            ), sells AS (
                SELECT sym, ts AS sell_ts, q, p AS sell_price,
                       COALESCE(SUM(q) OVER (PARTITION BY sym ORDER BY ts, q, p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s0,
                       COALESCE(SUM(q) OVER (PARTITION BY sym ORDER BY ts, q, p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + q AS s1
                FROM li WHERE side = 'sell'
            ), j AS (
                SELECT s.sym, s.sell_ts, s.q, s.sell_price, s.s0, s.s1,
                       b.b0, b.b1, b.bp
                FROM sells s LEFT JOIN buys b
                  ON s.sym = b.sym AND b.b0 < s.s1 AND s.s0 < b.b1
            )
            SELECT sym, sell_ts, q AS qty, sell_price,
                   CAST(COALESCE(SUM(CASE WHEN b0 IS NOT NULL
                       THEN LEAST(b1, s1) - GREATEST(b0, s0) END), 0) AS BIGINT) AS matched_qty,
                   CAST(COALESCE(SUM(CASE WHEN b0 IS NOT NULL
                       THEN (LEAST(b1, s1) - GREATEST(b0, s0)) * bp END), 0) AS BIGINT) AS cost_cents,
                   CAST(COALESCE(SUM(CASE WHEN b0 IS NOT NULL
                       THEN (LEAST(b1, s1) - GREATEST(b0, s0)) * sell_price END), 0) AS BIGINT) AS proceeds_cents,
                   CAST(COALESCE(SUM(CASE WHEN b0 IS NOT NULL
                       THEN (LEAST(b1, s1) - GREATEST(b0, s0)) * (sell_price - bp) END), 0) AS BIGINT) AS realized_pnl_cents
            FROM j GROUP BY sym, sell_ts, q, sell_price, s0
        """


def q_fifo_open_lots(spark, sf_dir):
    """Open tax lots after FIFO consumption over the same event-derived
    trades as fifo_cost_basis — per-key cumulative buys vs one total-sold
    aggregate, no pairwise join."""
    from area_etl_spark.operators.business import fifo_open_lots

    cents = F.round(F.col("value") * 100).cast("long")
    tr = _tables(spark, sf_dir)["events"].select(
        (F.col("user_id") % 50).alias("sym"),
        F.col("event_id").alias("ts"),
        F.when(F.col("event_id") % 2 == 1, "buy").otherwise("sell").alias("side"),
        (cents % 50 + 1).alias("q"),
        (cents % 1000 + 1).alias("p"),
    )
    return fifo_open_lots(tr, ["sym"], "ts", "side", "q", "p")
def o_fifo_open_lots() -> str:
    return f"""
            WITH {_FIFO_TRADES_SQL},
            buys AS (
                SELECT sym, ts AS buy_ts, p AS price, q AS qty,
                       COALESCE(SUM(q) OVER (PARTITION BY sym ORDER BY ts, q, p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b0,
                       COALESCE(SUM(q) OVER (PARTITION BY sym ORDER BY ts, q, p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + q AS b1
                FROM li WHERE side = 'buy'
            ), sold AS (
                SELECT sym, CAST(SUM(q) AS BIGINT) AS sq
                FROM li WHERE side = 'sell' GROUP BY sym
            )
            SELECT b.sym, b.buy_ts, b.price, b.qty,
                   CAST(b.b1 - GREATEST(b.b0, COALESCE(s.sq, 0)) AS BIGINT) AS remaining_qty,
                   CAST((b.b1 - GREATEST(b.b0, COALESCE(s.sq, 0))) * b.price AS BIGINT) AS remaining_value_cents
            FROM buys b LEFT JOIN sold s USING (sym)
            WHERE b.b1 > COALESCE(s.sq, 0)
        """


def q_mix_shift(spark, sf_dir):
    """Mix-shift decomposition of the 1995→1996 average order value by
    priority segment — mix/rate/interaction effects that reconcile exactly
    to the overall delta; exact integer sums, fixed-order float effects."""
    from area_etl_spark.operators.business import mix_shift_decomposition

    o = _tables(spark, sf_dir)["orders"].select(
        F.year(F.col("o_orderdate")).alias("yr"),
        F.col("o_orderpriority").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return mix_shift_decomposition(o, "yr", "seg", "cents", 1995, 1996)
def o_mix_shift() -> str:
    return """
            WITH two AS (
                SELECT year(o_orderdate) = 1996 AS is_b,
                       o_orderpriority AS segment,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders WHERE year(o_orderdate) IN (1995, 1996)
            ), seg AS (
                SELECT segment,
                       CAST(SUM(CASE WHEN NOT is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                       CAST(SUM(CASE WHEN NOT is_b THEN v ELSE 0 END) AS BIGINT) AS s_a,
                       CAST(SUM(CASE WHEN is_b THEN v ELSE 0 END) AS BIGINT) AS s_b
                FROM two GROUP BY segment
            ), tot AS (
                SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a, CAST(SUM(n_b) AS BIGINT) AS tot_b FROM seg
            ), fx AS (
                SELECT segment, n_a, n_b,
                       CAST(n_a AS DOUBLE) / tot_a AS w1,
                       CAST(n_b AS DOUBLE) / tot_b AS w2,
                       CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / n_a ELSE 0.0 END AS r1,
                       CASE WHEN n_b > 0 THEN CAST(s_b AS DOUBLE) / n_b ELSE 0.0 END AS r2
                FROM seg, tot
            )
            SELECT segment, n_a, n_b,
                   round(r1, 6) + 0.0 AS rate_a,
                   round(r2, 6) + 0.0 AS rate_b,
                   round((w2 - w1) * r1, 6) + 0.0 AS mix_effect,
                   round(w1 * (r2 - r1), 6) + 0.0 AS rate_effect,
                   round((w2 - w1) * (r2 - r1), 6) + 0.0 AS interaction,
                   round((w2 - w1) * r1 + w1 * (r2 - r1) + (w2 - w1) * (r2 - r1), 6) + 0.0 AS total_effect
            FROM fx
        """


_PIP_POLYGON = [(100, 100), (900, 200), (800, 800), (400, 950), (50, 600)]


def q_point_in_polygon(spark, sf_dir):
    """Even–odd ray-cast point-in-polygon in EXACT integer arithmetic —
    the crossing test clears its division by sign-adjusted
    cross-multiplication, so no float (and no epsilon contract) exists
    anywhere; customers mapped onto a synthetic 1000×1000 grid against a
    literal pentagon, the predicate folded edge-by-edge in codegen."""
    from area_etl_spark.operators.geo import point_in_polygon

    c = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        F.pmod(F.col("c_custkey"), F.lit(1000)).alias("px"),
        F.pmod(F.round(F.col("c_acctbal") * 100).cast("long"), F.lit(1000)).alias(
            "py"
        ),
    )
    return point_in_polygon(c, "px", "py", _PIP_POLYGON)
def o_point_in_polygon() -> str:
    return f"""
            WITH pts AS (
                SELECT c_custkey,
                       ((c_custkey % 1000) + 1000) % 1000 AS px,
                       ((CAST(round(c_acctbal * 100) AS BIGINT) % 1000) + 1000)
                           % 1000 AS py
                FROM customer
            )
            SELECT c_custkey, px, py,
                   {_pip_sql("px", "py", _PIP_POLYGON)} AS inside
            FROM pts
        """


def q_sbg_retention(spark, sf_dir):
    """sBG retention projection of the first-month signup cohort's
    monthly activity curve — closed-form two-moment Fader–Hardie fit,
    exact product projection, observed overlay."""
    from area_etl_spark.operators.business import sbg_retention

    ev = _tables(spark, sf_dir)["events"]
    mi = ev.select(
        (F.year(F.col("ts")) * 12 + F.month(F.col("ts"))).alias("m"),
        "user_id",
    )
    m0 = mi.agg(F.min("m").alias("m0"))
    cohort = (
        mi.groupBy("user_id")
        .agg(F.min("m").alias("fm"))
        .crossJoin(F.broadcast(m0))
        .where(F.col("fm") == F.col("m0"))
        .select("user_id")
    )
    curve = (
        mi.join(cohort, "user_id", "left_semi")
        .crossJoin(F.broadcast(m0))
        .select((F.col("m") - F.col("m0")).alias("p"), "user_id")
        .distinct()
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("active"))
    )
    return sbg_retention(curve, "p", "active", horizon=12)
def o_sbg_retention() -> str:
    return """
            WITH mi AS (
                SELECT year(ts) * 12 + month(ts) AS m, user_id FROM events
            ), m0 AS (
                SELECT MIN(m) AS m0 FROM mi
            ), cohort AS (
                SELECT user_id FROM mi CROSS JOIN m0
                GROUP BY user_id, m0 HAVING MIN(m) = MAX(m0)
            ), curve AS (
                SELECT p, COUNT(*) AS active FROM (
                    SELECT DISTINCT mi.m - m0.m0 AS p, mi.user_id
                    FROM mi JOIN cohort USING (user_id) CROSS JOIN m0
                ) GROUP BY 1
            ), piv AS (
                SELECT
                    SUM(CASE WHEN p = 0 THEN active END) AS n0,
                    CAST(SUM(CASE WHEN p = 1 THEN active END) AS DOUBLE)
                        / CAST(SUM(CASE WHEN p = 0 THEN active END) AS DOUBLE)
                        AS s1,
                    CAST(SUM(CASE WHEN p = 2 THEN active END) AS DOUBLE)
                        / CAST(SUM(CASE WHEN p = 0 THEN active END) AS DOUBLE)
                        AS s2
                FROM curve
            ), pri AS (
                SELECT n0,
                       CASE WHEN n0 IS NOT NULL AND n0 > 0
                                 AND s1 IS NOT NULL AND s2 IS NOT NULL
                                 AND s2 > s1 * s1 AND s1 > s2 AND s1 < 1
                            THEN ((s1 - s2) / (s2 - s1 * s1)) * (1.0 - s1)
                       END AS alpha,
                       CASE WHEN n0 IS NOT NULL AND n0 > 0
                                 AND s1 IS NOT NULL AND s2 IS NOT NULL
                                 AND s2 > s1 * s1 AND s1 > s2 AND s1 < 1
                            THEN s1 * ((s1 - s2) / (s2 - s1 * s1))
                       END AS beta
                FROM piv
            ), grid AS (
                SELECT DISTINCT p FROM (
                    SELECT unnest(range(1, 13)) AS p
                    UNION ALL SELECT p FROM curve WHERE p >= 1
                )
            ), j AS (
                SELECT g.p, c.active, n0, alpha, beta
                FROM grid g CROSS JOIN pri
                LEFT JOIN curve c ON c.p = g.p
            )
            SELECT CAST(p AS BIGINT) AS period,
                   CAST(active AS BIGINT) AS n_active,
                   round(CASE WHEN active IS NOT NULL AND n0 > 0 THEN
                       CAST(active AS DOUBLE) / CAST(n0 AS DOUBLE) END, 9)
                       AS retention_obs,
                   round(CASE WHEN alpha IS NOT NULL THEN
                       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                           list_transform(range(1, CAST(p AS BIGINT) + 1),
                               k -> CAST(k AS DOUBLE))),
                           (acc, k) -> acc * ((beta + k - 1)
                                              / (alpha + beta + k - 1)))
                   END, 9) AS retention_fit,
                   round(alpha, 9) AS alpha,
                   round(beta, 9) AS beta
            FROM j
        """


def q_vwap_bars(spark, sf_dir):
    """Monthly VWAP per return-flag over lineitem (price cents × integer
    quantity): both sums exact DECIMAL, one division per bar."""
    from area_etl_spark.operators.business import vwap_bars

    li = _tables(spark, sf_dir)["lineitem"].select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_shipdate").cast("timestamp").alias("ts"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return vwap_bars(li, ["flag"], "ts", "cents", "qty", bar="month")
def o_vwap_bars() -> str:
    return """
            SELECT l_returnflag AS flag,
                   CAST(date_trunc('month', CAST(l_shipdate AS TIMESTAMP))
                        AS TIMESTAMP) AS bar_start,
                   COUNT(*) AS n_trades,
                   CAST(SUM(CAST(l_quantity AS HUGEINT)) AS BIGINT)
                       AS total_qty,
                   round(CASE WHEN SUM(CAST(l_quantity AS HUGEINT)) > 0 THEN
                       CAST(SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
                                * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                       / CAST(SUM(CAST(l_quantity AS HUGEINT)) AS DOUBLE)
                   END, 6) AS vwap
            FROM lineitem
            GROUP BY 1, 2
        """


def q_hhi_concentration(spark, sf_dir):
    """Revenue-concentration HHI per market segment: per-customer exact
    DECIMAL revenue sums, HHI = Σv²/V² as two exact integers and one
    division, CR4 via a PARTITIONED top-k window."""
    from area_etl_spark.operators.business import hhi_concentration

    t = _tables(spark, sf_dir)
    df = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_custkey").alias("cust"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return hhi_concentration(df, "segment", "cust", "cents", top_k=4)
def o_hhi_concentration() -> str:
    return """
            WITH pe AS (
                SELECT c.c_mktsegment AS segment, c.c_custkey AS e,
                       SUM(CAST(round(o.o_totalprice * 100) AS HUGEINT)) AS ev
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2
            ), rk AS (
                SELECT segment, e, ev,
                       row_number() OVER (PARTITION BY segment
                           ORDER BY ev DESC, e ASC) AS rk
                FROM pe
            ), ag AS (
                SELECT segment, COUNT(*) AS n, MIN(ev) AS minv,
                       SUM(ev) AS tot, SUM(ev * ev) AS sq,
                       SUM(CASE WHEN rk <= 4 THEN ev ELSE 0 END) AS topv
                FROM rk GROUP BY 1
            )
            SELECT segment,
                   CAST(n AS BIGINT) AS n_entities,
                   CAST(tot AS BIGINT) AS total,
                   round(CASE WHEN minv >= 0 AND tot > 0
                        THEN CAST(sq AS DOUBLE)
                             / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) END,
                        9) AS hhi,
                   round(CASE WHEN minv >= 0 AND tot > 0 AND n > 1
                        THEN (CAST(sq AS DOUBLE)
                              / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
                              - 1.0 / CAST(n AS DOUBLE))
                             / (1.0 - 1.0 / CAST(n AS DOUBLE)) END, 9)
                       AS hhi_normalized,
                   round(CASE WHEN minv >= 0 AND tot > 0
                        THEN CAST(topv AS DOUBLE) / CAST(tot AS DOUBLE) END, 9)
                       AS cr_k
            FROM ag
        """


def q_abc_classification(spark, sf_dir):
    """ABC / Pareto classes of customer revenue within each nation —
    integer cross-multiplied cum-share boundaries (cum·100 ≤ pct·total),
    partitioned rank window, (value desc, entity asc) tie-break."""
    from area_etl_spark.operators.business import abc_classification

    t = _tables(spark, sf_dir)
    df = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_custkey").alias("cust"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return abc_classification(df, "nation", "cust", "cents")
def o_abc_classification() -> str:
    return """
            WITH pe AS (
                SELECT c.c_nationkey AS nation, c.c_custkey AS cust,
                       SUM(CAST(round(o.o_totalprice * 100) AS HUGEINT)) AS ev
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                GROUP BY 1, 2
            ), tot AS (
                SELECT nation, SUM(ev) AS tot FROM pe GROUP BY 1
            ), rk AS (
                SELECT pe.nation, cust, ev, tot,
                       row_number() OVER (PARTITION BY pe.nation
                           ORDER BY ev DESC, cust ASC) AS rk,
                       SUM(ev) OVER (PARTITION BY pe.nation
                           ORDER BY ev DESC, cust ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum
                FROM pe JOIN tot USING (nation)
            )
            SELECT nation, cust,
                   CAST(ev AS BIGINT) AS value,
                   CAST(rk AS BIGINT) AS rank,
                   CAST(cum AS BIGINT) AS cum_value,
                   CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                        WHEN cum * 100 <= tot * 95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM rk
        """
