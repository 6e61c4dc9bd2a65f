"""Windows and time series: window functions, as-of joins, intervals, smoothing,
control charts and spectral or trend statistics (``operators/windows``,
``operators/asof``, ``operators/intervals``, ``operators/sequences``,
``operators/telemetry``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import windows as W
from area_etl_spark.operators.asof import asof_join
from area_etl_spark.operators.experiments import normal_sf_sql as _normal_sf_sql
from area_etl_spark.registry._common import _tables


def q_rolling_corr(spark, sf_dir):
    """Trailing 30-row quantity↔price correlation per supplier from exact
    integer window sums (only the closed-form division/sqrt is float)."""
    from area_etl_spark.operators.windows import rolling_corr

    li = _tables(spark, sf_dir)["lineitem"].select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # (orderkey, linenumber) is NOT unique in the synthetic data at sf0.1 —
    # append the value columns so ties are bit-identical rows and the frame
    # sums are order-invariant (a genuinely total order per key)
    out = rolling_corr(
        li,
        ["l_suppkey"],
        ["l_shipdate", "l_orderkey", "l_linenumber", "qty", "cents"],
        "qty",
        "cents",
        window_rows=30,
    )
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "rolling_corr")
def o_rolling_corr() -> str:
    return """
            WITH s AS (
                SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
                       CAST(l_quantity AS BIGINT) AS x,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
            ), w AS (
                SELECT l_suppkey, l_orderkey, l_linenumber,
                       CAST(COUNT(*) OVER fr AS BIGINT) AS n,
                       CAST(SUM(x) OVER fr AS BIGINT) AS sx,
                       CAST(SUM(y) OVER fr AS BIGINT) AS sy,
                       CAST(SUM(x * y) OVER fr AS BIGINT) AS sxy,
                       CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx,
                       CAST(SUM(y * y) OVER fr AS BIGINT) AS syy
                FROM s
                WINDOW fr AS (PARTITION BY l_suppkey
                              ORDER BY l_shipdate, l_orderkey, l_linenumber, x, y
                              ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
            )
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                        THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                             + 0.0
                   END AS rolling_corr
            FROM w
        """


def q_cusum_drift(spark, sf_dir):
    """Per-user CUSUM drift report (mean-shift detection) in all-integer
    arithmetic: n·C_k = n·P_k − k·S stays BIGINT, threshold 5.00 units."""
    from area_etl_spark.operators.windows import cusum_stats

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cusum_stats(ev, ["user_id"], ["ts", "event_id"], "cents", threshold=500)
def o_cusum_drift() -> str:
    return """
            WITH s AS (
                SELECT user_id, ts, event_id,
                       CAST(round(value * 100) AS BIGINT) AS x
                FROM events
            ), w AS (
                SELECT user_id,
                       CAST(SUM(x) OVER cum AS BIGINT) AS pk,
                       CAST(COUNT(*) OVER cum AS BIGINT) AS k,
                       CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
                       CAST(SUM(x) OVER (PARTITION BY user_id) AS BIGINT) AS s
                FROM s
                WINDOW cum AS (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), c AS (
                SELECT user_id, n, n * pk - k * s AS numer FROM w
            )
            SELECT user_id, MAX(n) AS n,
                   MAX(abs(numer)) AS max_abs_cusum_numer,
                   CAST(SUM(CASE WHEN abs(numer) > 500 * n THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_crossings
            FROM c GROUP BY user_id
        """


def q_interval_overlap(spark, sf_dir):
    """1-D interval overlap join: even vs odd event streams as [ts, ts+dur]
    intervals in exact epoch micros, grid-bucketed — one equi-join on the
    cell, never a cross join; exact integer overlap length."""
    from area_etl_spark.operators.intervals import interval_overlap_join

    ev = _tables(spark, sf_dir)["events"].select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + (F.round(F.col("value") * 100).cast("long") % 600 + 1) * 1_000_000
        ).alias("e"),
    )
    left = ev.where(F.col("event_id") % 2 == 0).withColumnRenamed("event_id", "id_a")
    right = ev.where(F.col("event_id") % 2 == 1).withColumnRenamed("event_id", "id_b")
    return interval_overlap_join(
        left, right, "id_a", "id_b", "s", "e", bucket_width=600 * 1_000_000
    )
def o_interval_overlap() -> str:
    return """
            WITH ev AS (
                SELECT event_id, epoch_us(ts) AS s,
                       epoch_us(ts)
                       + (CAST(round(value * 100) AS BIGINT) % 600 + 1) * 1000000 AS e
                FROM events
            )
            SELECT a.event_id AS id_a, b.event_id AS id_b,
                   least(a.e, b.e) - greatest(a.s, b.s) AS overlap
            FROM ev a JOIN ev b
              ON a.event_id % 2 = 0 AND b.event_id % 2 = 1
             AND a.s <= b.e AND b.s <= a.e
        """


def _ewma_sql(n_lags: int = 16) -> str:
    """DuckDB replay of the exact truncated α=1/2 EWMA: the same 16 lag
    terms with power-of-two weights, generated to match ewma_smooth."""
    terms, avail = [], []
    for i in range(n_lags):
        w = 1 << (n_lags - 1 - i)
        lag = "x" if i == 0 else f"lag(x, {i}) OVER w"
        terms.append(f"COALESCE({lag}, 0) * {w}")
        avail.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0 END")
    return f"""
        WITH s AS (
            SELECT user_id, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS x
            FROM events
        ), l AS (
            SELECT user_id, event_id,
                   ({' + '.join(terms)}) AS num,
                   ({' + '.join(avail)}) AS den
            FROM s
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_id,
               round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma
        FROM l
    """


def q_ewma_smooth(spark, sf_dir):
    """α=1/2 EWMA per user in exact truncated form: 16 shared-sort lags,
    integer 2^i-weighted numerator/denominator, one final division."""
    from area_etl_spark.operators.windows import ewma_smooth

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = ewma_smooth(ev, ["user_id"], ["ts", "event_id"], "cents", n_lags=16)
    return out.select("user_id", "event_id", "ewma")
def o_ewma_smooth() -> str:
    return _ewma_sql()


def q_asof_forward(spark, sf_dir):
    """Forward as-of: each event's NEXT strictly-later purchase by the same
    user (time-to-next-event join) — union-merge with a descending window,
    one shuffle; oracle = DuckDB's native ASOF with the < inequality."""
    from area_etl_spark.operators.asof import asof_join_forward

    ev = _tables(spark, sf_dir)["events"]
    left = ev.select("event_id", "user_id", "ts")
    right = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join_forward(
        left, right, "user_id", "ts", "ts", value_cols=[], strict=True
    )
    return out.select("event_id", "user_id", "ts", "ts_asof")
def o_asof_forward() -> str:
    return """
            SELECT e.event_id, e.user_id, e.ts, p.ts AS ts_asof
            FROM events e
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                            WHERE event_type = 'purchase') p
              ON e.user_id = p.user_id AND e.ts < p.ts
        """


def q_ohlc_bars(spark, sf_dir):
    """Hourly OHLCV bars per event type: one hash aggregate, open/close as
    struct-min/max argmins over (time, value) — deterministic under
    same-instant ties, no windows."""
    from area_etl_spark.operators.windows import ohlc_bars

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return ohlc_bars(ev, ["event_type"], "ts", "cents", bar_seconds=3600)
def o_ohlc_bars() -> str:
    return """
            WITH s AS (
                SELECT event_type, epoch_us(ts) AS tus,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events
            ), b AS (
                SELECT event_type, tus - tus % 3600000000 AS bar_start_us,
                       tus, v
                FROM s
            )
            SELECT event_type, bar_start_us,
                   first(v ORDER BY tus, v) AS open,
                   MAX(v) AS high, MIN(v) AS low,
                   first(v ORDER BY tus DESC, v DESC) AS close,
                   COUNT(*) AS n_obs, CAST(SUM(v) AS BIGINT) AS volume
            FROM b GROUP BY 1, 2
        """


def q_interval_integrity(spark, sf_dir):
    """SCD2-style validity-interval validator over synthesized per-customer
    order intervals: report every overlap/gap with the offending neighbor
    start — empty output is the pass signal."""
    from area_etl_spark.operators.intervals import interval_integrity_report

    o = _tables(spark, sf_dir)["orders"]
    tus = F.unix_micros(F.col("o_orderdate"))
    iv = o.select(
        "o_custkey",
        tus.alias("s"),
        (
            tus
            + (F.round(F.col("o_totalprice") * 100).cast("long") % 30 + 1)
            * F.lit(86_400_000_000)
        ).alias("e"),
    )
    return interval_integrity_report(iv, ["o_custkey"], "s", "e")
def o_interval_integrity() -> str:
    return """
            WITH iv AS (
                SELECT o_custkey, epoch_us(o_orderdate) AS s,
                       epoch_us(o_orderdate)
                       + (CAST(round(o_totalprice * 100) AS BIGINT) % 30 + 1)
                         * 86400000000 AS e
                FROM orders
            ), w AS (
                SELECT o_custkey, s, e,
                       lead(s) OVER (PARTITION BY o_custkey ORDER BY s, e)
                           AS next_start
                FROM iv
            )
            SELECT o_custkey, s, e, next_start,
                   CASE WHEN next_start < e THEN 'overlap'
                        WHEN next_start > e THEN 'gap' END AS issue
            FROM w
            WHERE next_start IS NOT NULL AND next_start <> e
        """


def q_share_of_parent(spark, sf_dir):
    """Two-level share-of-parent rollup: each nation's revenue share within
    its region AND each region's share of the total — exact cents, shares
    from window sums over the AGGREGATED levels."""
    from pyspark.sql import Window

    t = _tables(spark, sf_dir)
    rev = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_regionkey").alias("regionkey"),
            F.col("n_name").alias("nation"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("regionkey", "nation")
        .agg(F.sum("cents").alias("nation_cents"))
    )
    w_region = Window.partitionBy("regionkey")
    w_all = Window.partitionBy()
    region_cents = F.sum("nation_cents").over(w_region)
    total_cents = F.sum("nation_cents").over(w_all)
    return rev.select(
        "regionkey",
        "nation",
        "nation_cents",
        F.round(F.col("nation_cents").cast("double") / region_cents.cast("double"), 9).alias(
            "share_of_region"
        ),
        F.round(region_cents.cast("double") / total_cents.cast("double"), 9).alias(
            "region_share_of_total"
        ),
    )
def o_share_of_parent() -> str:
    return """
            WITH rev AS (
                SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
                       CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS nation_cents
                FROM customer c
                JOIN orders o ON c.c_custkey = o.o_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                GROUP BY 1, 2
            ), w AS (
                SELECT *,
                       CAST(SUM(nation_cents) OVER (PARTITION BY regionkey)
                            AS BIGINT) AS region_cents,
                       CAST(SUM(nation_cents) OVER () AS BIGINT) AS total_cents
                FROM rev
            )
            SELECT regionkey, nation, nation_cents,
                   round(CAST(nation_cents AS DOUBLE) / CAST(region_cents AS DOUBLE), 9)
                       AS share_of_region,
                   round(CAST(region_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 9)
                       AS region_share_of_total
            FROM w
        """


def _ewma_chart_sql(n_lags: int = 16, l_sigma: float = 3.0) -> str:
    """DuckDB replay of ewma_control_chart over the events/user grain:
    the _ewma_sql lag terms plus per-user exact mean/sample-std and the
    exact (1 − 4^{−t})/3 limit-width factor."""
    terms, avail = [], []
    for i in range(n_lags):
        w = 1 << (n_lags - 1 - i)
        lag = "x" if i == 0 else f"lag(x, {i}) OVER w"
        terms.append(f"COALESCE({lag}, 0) * {w}")
        avail.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0 END")
    return f"""
        WITH s AS (
            SELECT user_id, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS x
            FROM events
        ), lg AS (
            SELECT user_id, event_id,
                   round(CAST(({' + '.join(terms)}) AS DOUBLE)
                         / CAST(({' + '.join(avail)}) AS DOUBLE), 6) AS ewma,
                   row_number() OVER w AS t
            FROM s
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), st AS (
            SELECT user_id, COUNT(*) AS n,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(x AS HUGEINT) * x) AS qx
            FROM s GROUP BY 1
        ), j AS (
            SELECT lg.user_id, event_id, ewma, t, n,
                   CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                   CASE WHEN n > 1 THEN sqrt(GREATEST(
                       CAST(n * qx - sx * sx AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)),
                       0.0))
                   END AS sigma
            FROM lg JOIN st USING (user_id)
        ), k AS (
            SELECT user_id, event_id, ewma, mu, sigma,
                   {l_sigma} * sigma
                   * sqrt((1.0 - pow(0.25, CAST(t AS DOUBLE))) / 3.0) AS width
            FROM j
        )
        SELECT user_id, event_id, ewma,
               round(mu, 6) AS center,
               round(CASE WHEN sigma > 0 THEN mu + width END, 6) AS ucl,
               round(CASE WHEN sigma > 0 THEN mu - width END, 6) AS lcl,
               CASE WHEN sigma > 0
                    THEN (ewma > mu + width OR ewma < mu - width)
               END AS out_of_control
        FROM k
    """


def q_ewma_control_chart(spark, sf_dir):
    """EWMA control chart per user over event value cents: exact
    truncated α=1/2 EWMA vs μ ± 3σ·√((1−4^{−t})/3) — mean/std from exact
    DECIMAL sums, the time-dependent width exact by construction."""
    from area_etl_spark.operators.windows import ewma_control_chart

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = ewma_control_chart(ev, ["user_id"], ["ts", "event_id"], "cents")
    return out.select(
        "user_id", "event_id", "ewma", "center", "ucl", "lcl", "out_of_control"
    )
def o_ewma_control_chart() -> str:
    return _ewma_chart_sql()


def q_linear_interpolate(spark, sf_dir):
    """Per-user LINEAR interpolation of gapped readings (every 5th value
    nulled): time-weighted blend between neighboring observations in exact
    micros/cents, boundary rows back-/forward-filled — the trend-unbiased
    complement of LOCF."""
    from area_etl_spark.operators.windows import linear_interpolate

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id",
        "user_id",
        # synthetic unique timeline (micros from event_id): a total order per
        # user so the window order is deterministic
        F.timestamp_micros(F.col("event_id") * 60_000_000).alias("ts"),
        F.when(
            F.col("event_id") % 5 != 0, F.round(F.col("value") * 100).cast("long")
        ).alias("cents"),
    )
    out = linear_interpolate(ev, "user_id", "ts", "cents")
    return out.select("event_id", "user_id", "cents", "value_interp")
def o_linear_interpolate() -> str:
    return """
            WITH ev AS (
                SELECT event_id, user_id,
                       make_timestamp(event_id * 60000000) AS ts,
                       CASE WHEN event_id % 5 <> 0
                            THEN CAST(round(value * 100) AS BIGINT) END AS cents
                FROM events
            ), n AS (
                SELECT *,
                       epoch_us(ts) AS t,
                       last_value(CASE WHEN cents IS NOT NULL
                                       THEN struct_pack(t := epoch_us(ts), v := cents) END
                                  IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
                       first_value(CASE WHEN cents IS NOT NULL
                                        THEN struct_pack(t := epoch_us(ts), v := cents) END
                                   IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
                FROM ev
            )
            SELECT event_id, user_id, cents,
                   round(CASE
                       WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                       WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
                            CAST(prev.v AS DOUBLE)
                            + CAST(nxt.v - prev.v AS DOUBLE)
                              * (CAST(t - prev.t AS DOUBLE) / CAST(nxt.t - prev.t AS DOUBLE))
                       WHEN prev IS NOT NULL THEN CAST(prev.v AS DOUBLE)
                       ELSE CAST(nxt.v AS DOUBLE)
                   END, 6) AS value_interp
            FROM n
        """


def q_pareto_frontier(spark, sf_dir):
    """2-D Pareto frontier (skyline) of parts maximizing (size, price):
    collapse size ties to best price, one running-max window over distinct
    sizes — never the O(n²) NOT EXISTS self-join."""
    from area_etl_spark.operators.windows import pareto_frontier

    tables = _tables(spark, sf_dir)
    parts = tables["part"].select(
        F.col("p_size"), F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents")
    )
    return pareto_frontier(parts, "p_size", "price_cents")
def o_pareto_frontier() -> str:
    return """
            WITH best AS (
                SELECT p_size, MAX(CAST(round(p_retailprice * 100) AS BIGINT)) AS price_cents
                FROM part GROUP BY p_size
            ), run AS (
                SELECT p_size, price_cents,
                       MAX(price_cents) OVER (
                           ORDER BY p_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
                FROM best
            )
            SELECT p_size, price_cents FROM run
            WHERE prev_best IS NULL OR price_cents > prev_best
        """


def q_asof_join(spark, sf_dir):
    """Most recent purchase strictly before each event, per user (as-of join)."""
    tables = _tables(spark, sf_dir)
    events = tables["events"]
    # project BOTH sides to the columns the result uses before the
    # union-merge shuffle: asof_join packs every left column into a struct
    # that rides the exchange, so unused payload (props, value, ...) would
    # otherwise be shuffled just to be dropped (guide §2.3)
    left = events.select("event_id", "user_id", "ts")
    purchases = events.where(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = asof_join(
        left, purchases, on="user_id", left_time="ts", right_time="ts",
        value_cols=[], strict=True,
    )
    return joined.select("event_id", "user_id", "ts", "ts_asof")
def o_asof_join() -> str:
    return """
            SELECT e.event_id, e.user_id, e.ts, p.ts AS ts_asof
            FROM events e
            ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
              ON e.user_id = p.user_id AND e.ts > p.ts
        """


def q_window_rolling_agg(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id", "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("value_cents")
    )
    # No presentation orderBy: the driver's compare is order-insensitive, and
    # the r02/r03 hash-fail was the oracle's HUGEINT windowed SUM dtype (fixed
    # by CAST AS BIGINT in oracle_sql), not row order — a global sort here is
    # a pure extra exchange.
    return W.lag_and_rolling(ev, "user_id", ["ts", "event_id"], "value_cents", window_rows=3, lag_default=0)
def o_window_rolling_agg() -> str:
    return """
            SELECT event_id, user_id, ts,
                   CAST(round(value * 100) AS BIGINT) AS value_cents,
                   lag(CAST(round(value * 100) AS BIGINT), 1, 0)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value_cents,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS rolling_value_cents
            FROM events
        """


def q_window_rank_funcs(spark, sf_dir):
    """Ranking family over one shared window sort: rank, dense_rank, ntile,
    running first_value — a single Window physical node."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return tables["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("top_order_key"),
    )
def o_window_rank_funcs() -> str:
    return """
            SELECT o_orderkey, o_orderpriority,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   ntile(4) OVER w AS quartile,
                   first_value(o_orderkey) OVER w AS top_order_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        """


def q_calendar_gapfill(spark, sf_dir):
    """Zero-filled monthly series: generated calendar spine left-joined to
    the revenue rollup (months with no shipments appear with 0)."""
    tables = _tables(spark, sf_dir)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-12-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("ship_month")
    )
    li = tables["lineitem"].select(
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long").alias("rev_cents"),
    )
    monthly = li.groupBy("ship_month").agg(F.sum("rev_cents").alias("cents"))
    return spine.join(monthly, "ship_month", "left").select(
        "ship_month",
        (F.coalesce(F.col("cents"), F.lit(0)) / F.lit(100.0)).alias("revenue"),
    )
def o_calendar_gapfill() -> str:
    return """
            WITH spine AS (
                SELECT CAST(unnest(generate_series(TIMESTAMP '1995-01-01',
                                                   TIMESTAMP '2001-12-01',
                                                   INTERVAL 1 MONTH)) AS TIMESTAMP) AS ship_month
            ), monthly AS (
                SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
                       SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS cents
                FROM lineitem GROUP BY 1
            )
            SELECT s.ship_month,
                   COALESCE(m.cents, 0) / CAST(100.0 AS DOUBLE) AS revenue
            FROM spine s LEFT JOIN monthly m ON s.ship_month = m.ship_month
        """


def q_keep_latest(spark, sf_dir):
    """CDC compaction: latest record per key (row_number over recency-desc,
    keep rank 1) — the change-log → current-state collapse every
    incremental pipeline runs."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        tables["events"]
        .select("user_id", "event_id", "ts", "event_type", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("last_event_id"), F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_event_type"))
    )
def o_keep_latest() -> str:
    return """
            SELECT user_id, event_id AS last_event_id, ts AS last_ts,
                   event_type AS last_event_type
            FROM (SELECT user_id, event_id, ts, event_type,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """


def q_merge_intervals(spark, sf_dir):
    """Gaps-and-islands interval consolidation: each event opens a
    variable-length validity interval [ts, ts + (event_id mod 3000) min];
    overlapping/touching intervals merge per user (running-max-end islands —
    lag alone can't handle a long interval swallowing later short ones)."""
    from area_etl_spark.operators.intervals import merge_intervals

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "user_id",
        F.col("ts").alias("iv_start"),
        (
            F.col("ts")
            + F.make_dt_interval(F.lit(0), F.lit(0), F.pmod(F.col("event_id"), F.lit(3000)), F.lit(0))
        ).alias("iv_end"),
    )
    return merge_intervals(ev, ["user_id"], "iv_start", "iv_end")
def o_merge_intervals() -> str:
    return """
            WITH iv AS (
                SELECT user_id, ts AS iv_start,
                       ts + (event_id % 3000) * INTERVAL 1 MINUTE AS iv_end
                FROM events
            ), flagged AS (
                SELECT user_id, iv_start, iv_end,
                       CASE WHEN iv_start > MAX(iv_end) OVER (
                                PARTITION BY user_id ORDER BY iv_start, iv_end
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS new_island
                FROM iv
            ), islands AS (
                SELECT *, SUM(new_island) OVER (
                           PARTITION BY user_id ORDER BY iv_start, iv_end
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM flagged
            )
            SELECT user_id, MIN(iv_start) AS interval_start,
                   MAX(iv_end) AS interval_end, COUNT(*) AS n_merged
            FROM islands GROUP BY user_id, island
        """


def q_window_running_distinct(spark, sf_dir):
    """Running DISTINCT count over an event stream (collect_set window — a
    distinct aggregate no plain running sum can express): per user, how many
    distinct event types seen so far."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    ev = tables["events"].where(F.col("user_id") < 100)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_seen"),
    )
def o_window_running_distinct() -> str:
    return """
            SELECT user_id, event_id,
                   CAST(COUNT(DISTINCT event_type) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS n_types_seen
            FROM events WHERE user_id < 100
        """


def q_window_moving_median(spark, sf_dir):
    """Moving EXACT median over a 7-row trailing window per user — an
    order-statistic no running sum can maintain; the window buffers the
    frame and Spark's `percentile` aggregate evaluates per frame.  Integer
    cents make the .5-interpolation identical across engines."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    ev = tables["events"].where(F.col("user_id") < 100).select(
        "user_id", "event_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", "cents",
        F.round(F.percentile(F.col("cents"), F.lit(0.5)).over(w), 6).alias("median_7"),
    )
def o_window_moving_median() -> str:
    return """
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS median_7
            FROM events WHERE user_id < 100
        """


def q_locf_impute(spark, sf_dir):
    """Forward-fill (last-observation-carried-forward) imputation: planted
    nulls (every 5th event) take the user's most recent non-null value —
    `last(ignorenulls)` over an ordered frame, the time-series gap-repair
    primitive."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 5 != 0, F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "value_cents",
        F.last("value_cents", ignorenulls=True).over(w).alias("filled_cents"),
    )
def o_locf_impute() -> str:
    return """
            WITH ev AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN event_id % 5 <> 0
                            THEN CAST(round(value * 100) AS BIGINT) END AS value_cents
                FROM events
            )
            SELECT event_id, user_id, value_cents,
                   last_value(value_cents IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
            FROM ev
        """


def q_ratio_to_report(spark, sf_dir):
    """Percent-of-total within a group (ratio-to-report): each order's share
    of its priority class's revenue — window sum of exact cents, one
    division per row."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    o = tables["orders"].select(
        "o_orderkey", "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    total = F.sum("cents").over(Window.partitionBy("o_orderpriority"))
    return o.select(
        "o_orderkey", "o_orderpriority", "cents",
        F.round(F.col("cents") / total, 9).alias("share"),
    )
def o_ratio_to_report() -> str:
    return """
            SELECT o_orderkey, o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   round(CAST(round(o_totalprice * 100) AS BIGINT)
                         / CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                                OVER (PARTITION BY o_orderpriority) AS DOUBLE), 9) AS share
            FROM orders
        """


def q_time_weighted_avg(spark, sf_dir):
    """Interval-weighted mean for an IRREGULAR time series: each value
    holds until the user's next event, so it weighs by its microsecond
    duration (exact BIGINT diffs — `timestampdiff(SECOND)` truncates and
    DuckDB's date_diff counts boundary crossings; at microsecond
    granularity, the native resolution, the two agree exactly).  Products
    accumulate as DECIMAL(38,0); one window pass + one aggregation."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    ev = tables["events"].select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).withColumn("next_ts", F.lead("ts").over(w))
    dur = F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
    spans = ev.where(F.col("next_ts").isNotNull()).select(
        "user_id", "cents", dur.alias("dur_us")
    )
    dec = "decimal(38,0)"
    return spans.groupBy("user_id").agg(
        F.round(
            # cast each FACTOR to decimal before multiplying — a long×long
            # product can overflow int64 for multi-decade gaps even though
            # the SUM accumulates as decimal (same class as the r6 sums fix)
            F.sum(F.col("cents").cast(dec) * F.col("dur_us").cast(dec)).cast("double")
            / F.sum(F.col("dur_us").cast(dec)).cast("double"),
            6,
        ).alias("tw_avg_cents"),
        F.count(F.lit(1)).alias("n_spans"),
    )
def o_time_weighted_avg() -> str:
    return """
            WITH ev AS (
                SELECT user_id, event_id, ts,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
                FROM events
            ), spans AS (
                SELECT user_id, cents,
                       date_diff('microsecond', ts, next_ts) AS dur_us
                FROM ev WHERE next_ts IS NOT NULL
            )
            SELECT user_id,
                   round(CAST(SUM(CAST(cents AS HUGEINT) * dur_us) AS DOUBLE)
                         / CAST(SUM(dur_us) AS DOUBLE), 6) AS tw_avg_cents,
                   COUNT(*) AS n_spans
            FROM spans GROUP BY user_id
        """


def q_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth: monthly rollup → lag ratio.  The
    post-aggregation window runs over O(months) rows — a bounded
    single-partition window by construction, not a scale hazard."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    monthly = (
        tables["orders"]
        .select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("month")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    prev = F.lag("rev_cents").over(Window.orderBy("month"))
    return monthly.select(
        "month", "rev_cents",
        F.round(F.col("rev_cents") / prev, 6).alias("growth"),
    )
def o_mom_growth() -> str:
    return """
            WITH monthly AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
                FROM orders GROUP BY 1
            )
            SELECT month, rev_cents,
                   round(rev_cents / CAST(lag(rev_cents) OVER (ORDER BY month) AS DOUBLE), 6) AS growth
            FROM monthly
        """


def q_window_dist_funcs(spark, sf_dir):
    """Distribution window functions: percent_rank + cume_dist of each
    order within its priority class (completes the ranking family beside
    window_rank_funcs)."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.round(F.col("o_totalprice") * 100).cast("long"), F.col("o_orderkey")
    )
    return tables["orders"].select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )
def o_window_dist_funcs() -> str:
    return """
            SELECT o_orderkey, o_orderpriority,
                   round(percent_rank() OVER w, 9) AS pct_rank,
                   round(cume_dist() OVER w, 9) AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
        """


def q_window_range_frame(spark, sf_dir):
    """RANGE-frame window (trailing 7 VALUE days, not 7 rows): daily revenue
    summed over [day−6, day] — on a gapped calendar a ROWS frame silently
    spans more than a week; RANGE frames bound by the ORDER-BY value.  The
    window runs post-aggregation over O(days) rows (bounded by the calendar,
    like mom_growth)."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    daily = (
        tables["events"]
        .select(
            F.datediff(F.col("ts").cast("date"), F.lit("1990-01-01").cast("date")).alias("day_num"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day_num")
        .agg(F.sum("cents").alias("day_cents"), F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, Window.currentRow)
    return daily.select(
        "day_num", "day_cents", "n_events",
        F.sum("day_cents").over(w).alias("trailing7_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("days_present_7"),
    )
def o_window_range_frame() -> str:
    return """
            WITH daily AS (
                SELECT date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day_num,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents,
                       COUNT(*) AS n_events
                FROM events GROUP BY 1
            )
            SELECT day_num, day_cents, n_events,
                   CAST(SUM(day_cents) OVER w AS BIGINT) AS trailing7_cents,
                   CAST(COUNT(*) OVER w AS BIGINT) AS days_present_7
            FROM daily
            WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        """


def q_topk_with_ties(spark, sf_dir):
    """Top-3 orders per priority WITH TIES (rank() ≤ k keeps every row
    tied at the boundary — the ANSI FETCH WITH TIES semantic, distinct from
    topk_per_group's exactly-k slice)."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(cents.desc())
    return (
        tables["orders"]
        .select("o_orderkey", "o_orderpriority", cents.alias("cents"), F.rank().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )
def o_topk_with_ties() -> str:
    return """
            SELECT o_orderkey, o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(rnk AS BIGINT) AS rnk
            FROM (
                SELECT o_orderkey, o_orderpriority, o_totalprice,
                       rank() OVER (PARTITION BY o_orderpriority
                                    ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC) AS rnk
                FROM orders
            ) WHERE rnk <= 3
        """


def q_sequence_match(spark, sf_dir):
    """MATCH_RECOGNIZE-lite sequence mining: per user the ordered
    event-initial symbol string and the count of non-overlapping
    view→clicks*→purchase runs ('vc*p') — CEP as one hash aggregate plus a
    key-local regexp, no state machine."""
    from area_etl_spark.operators.sequences import sequence_pattern_count

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("sym"),
    )
    return sequence_pattern_count(
        ev, ["user_id"], ["ts", "event_id"], "sym", "vc*p"
    )
def o_sequence_match() -> str:
    return """
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS symbol_seq,
                   CAST(len(regexp_extract_all(
                       string_agg(substr(event_type, 1, 1), ''
                                  ORDER BY ts, event_id),
                       'vc*p')) AS INT) AS n_matches
            FROM events GROUP BY user_id
        """


def _event_deltas(spark, sf_dir):
    """Shared signed-cash-flow view of the event stream: purchases deposit,
    everything else withdraws — deterministic integer deltas for the
    balance-series operators."""
    ev = _tables(spark, sf_dir)["events"]
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_type") == "purchase", cents).otherwise(-cents).alias(
            "delta"
        ),
    )


def q_max_drawdown(spark, sf_dir):
    """Per-user maximum drawdown of the cumulative signed cash-flow series —
    peak-to-trough risk metric from two stacked window aggregates sharing
    one sort (cum → running peak → dd), then a struct-max argmax; exact
    integers, earliest trough on ties."""
    from area_etl_spark.operators.windows import max_drawdown

    return max_drawdown(_event_deltas(spark, sf_dir), ["user_id"], ["us", "event_id"], "delta")
def o_max_drawdown() -> str:
    return """
            WITH d AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
                FROM events
            ), c0 AS (
                SELECT user_id, event_id, us, delta,
                       SUM(delta) OVER (PARTITION BY user_id
                           ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum
                FROM d
            ), c AS (
                SELECT *, MAX(cum) OVER (PARTITION BY user_id
                           ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS peak
                FROM c0
            ), ranked AS (
                SELECT user_id, peak - cum AS dd, peak, cum,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY peak - cum DESC,
                                                   us ASC, event_id ASC) AS rn
                FROM c
            )
            SELECT user_id,
                   CAST(dd AS BIGINT) AS max_drawdown,
                   CAST(peak AS BIGINT) AS peak_at_max,
                   CAST(cum AS BIGINT) AS trough_at_max
            FROM ranked WHERE rn = 1
        """


def q_clamped_balance(spark, sf_dir):
    """Per-user ENDING balance with a zero floor (prepaid-credit semantics:
    overdrafts truncate, not carry) — non-associative, so the ordered
    deltas fold once per key with O(1) (balance, floor_hits) state."""
    from area_etl_spark.operators.windows import clamped_balance

    return clamped_balance(
        _event_deltas(spark, sf_dir), ["user_id"], ["ts", "event_id"], "delta"
    )
def o_clamped_balance() -> str:
    return """
            WITH d AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
                FROM events
            ), folded AS (
                SELECT user_id,
                       list_reduce(
                           list_prepend(
                               [0::BIGINT, 0::BIGINT],
                               list_transform(
                                   list(delta ORDER BY ts, event_id),
                                   x -> [x, 0::BIGINT])),
                           (acc, x) -> [
                               greatest(0::BIGINT, acc[1] + x[1]),
                               acc[2] + CASE WHEN acc[1] + x[1] < 0
                                             THEN 1 ELSE 0 END]) AS r
                FROM d GROUP BY user_id
            )
            SELECT user_id,
                   CAST(r[1] AS BIGINT) AS end_balance,
                   CAST(r[2] AS BIGINT) AS n_floor_hits
            FROM folded
        """


def q_changepoint(spark, sf_dir):
    """Mean-shift changepoint per event type over the daily revenue
    series: argmax_k |n·P_k − k·S| (all-integer CUSUM numerator) plus the
    before/after segment means — cusum_stats' scan report localized."""
    from area_etl_spark.operators.windows import changepoint_detect

    ev = _tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return changepoint_detect(daily, ["event_type"], ["day"], "cents")
def o_changepoint() -> str:
    return """
            WITH daily AS (
                SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                           AS cents
                FROM events GROUP BY 1, 2
            ), w AS (
                SELECT event_type, day, cents,
                       SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS pk,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY day) AS k,
                       COUNT(*) OVER (PARTITION BY event_type) AS n,
                       SUM(cents) OVER (PARTITION BY event_type) AS s
                FROM daily
            ), cand AS (
                SELECT event_type, day, k, pk, n, s,
                       abs(n * pk - k * s) AS numer,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(n * pk - k * s) DESC, k ASC) AS rn
                FROM w WHERE k < n
            )
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   day AS change_at_day,
                   CAST(numer AS BIGINT) AS max_abs_numer,
                   round(CAST(pk AS DOUBLE) / k, 6) + 0.0 AS mean_before,
                   round(CAST(s - pk AS DOUBLE) / (n - k), 6) + 0.0 AS mean_after
            FROM cand WHERE rn = 1
        """


def _periodogram_oracle_sql(max_freq: int = 12) -> str:
    """DuckDB replay of q_periodogram built from the SAME import-time
    trig-coefficient literals as the Spark operator (W.horner_sql renders
    the identical Horner association; repr round-trips every double), so
    the only cross-engine float surface is IEEE +,*,/ — bit-identical."""
    cos_h = W.horner_sql("x2", W.COS_X2_COEFFS)
    sin_h = f"(theta * {W.horner_sql('x2', W.SIN_X2_COEFFS)})"
    ck = "(CAST(C AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0))"
    sk = "(CAST(Ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0))"
    return f"""
            WITH series AS (
                SELECT o_orderdate AS day, count(*) AS x
                FROM orders GROUP BY o_orderdate
            ), b AS (
                SELECT CAST(x AS BIGINT) AS x,
                       CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS i
                FROM series
            ), t AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       SUM(CAST(x AS HUGEINT)) AS S
                FROM b
            ), g AS (
                SELECT CAST(unnest(range(1, {max_freq + 1})) AS INT) AS freq
            ), r1 AS (
                SELECT b.x, t.n, t.S, g.freq,
                       4 * ((CAST(g.freq AS BIGINT) * b.i) % t.n) AS fourm,
                       (4 * ((CAST(g.freq AS BIGINT) * b.i) % t.n)) % t.n AS r
                FROM b, t, g
            ), r2 AS (
                SELECT x, n, S, freq,
                       CAST((fourm - r) / n AS INT) AS q,
                       (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                           * {W.HALF_PI!r} AS theta
                FROM r1
            ), r3 AS (
                SELECT x, n, S, freq, q, theta, theta * theta AS x2 FROM r2
            ), r4 AS (
                SELECT x, n, S, freq,
                       CASE WHEN q = 0 THEN {cos_h}
                            WHEN q = 1 THEN -{sin_h}
                            WHEN q = 2 THEN -{cos_h}
                            ELSE {sin_h} END AS cosv,
                       CASE WHEN q = 0 THEN {sin_h}
                            WHEN q = 1 THEN {cos_h}
                            WHEN q = 2 THEN -{sin_h}
                            ELSE -{cos_h} END AS sinv
                FROM r3
            ), r5 AS (
                SELECT freq, n,
                       CAST(n AS HUGEINT) * x - S AS w,
                       CAST(floor(cosv * 1000000000.0 + 0.5) AS BIGINT) AS cq,
                       CAST(floor(sinv * 1000000000.0 + 0.5) AS BIGINT) AS sq
                FROM r4
            ), a AS (
                SELECT freq, MAX(n) AS n,
                       SUM(w * cq) AS C, SUM(w * sq) AS Ss
                FROM r5 GROUP BY freq
            )
            SELECT freq, n,
                   round(CAST(n AS DOUBLE) / CAST(freq AS DOUBLE), 6) AS period,
                   round(({ck} * {ck} + {sk} * {sk}) / CAST(n AS DOUBLE), 6)
                       AS power
            FROM a
    """


def q_periodogram(spark, sf_dir):
    """DFT periodogram of the daily order-count series at harmonics
    k = 1..12: integer quadrant reduction + the shared Horner trig
    polynomials (engine-bit-identical — no libm sin/cos on either side),
    1e-9-quantized weights, exact DECIMAL sums; DuckDB replays the
    identical chain from the same import-time coefficient literals."""
    from area_etl_spark.operators.windows import periodogram

    o = (
        _tables(spark, sf_dir)["orders"]
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return periodogram(o, "day", "x", max_freq=12)
def o_periodogram() -> str:
    return _periodogram_oracle_sql()


def q_repair_monotonic(spark, sf_dir):
    """Device-clock repair: per-user timestamps clamped non-decreasing in
    event_id (ingest) order — running max over one window sort."""
    from area_etl_spark.operators.telemetry import repair_monotonic

    ev = _tables(spark, sf_dir)["events"].select("user_id", "event_id", "ts")
    return repair_monotonic(ev, ["user_id"], "ts", "event_id").select(
        "user_id", "event_id", "ts_repaired", "was_reordered"
    )
def o_repair_monotonic() -> str:
    return """
            SELECT user_id, event_id,
                   max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS ts_repaired,
                   max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       <> ts AS was_reordered
            FROM events
        """


def q_counter_increase(spark, sf_dir):
    """Prometheus increase() semantics: per-user total increase of the
    value-cents series in time order, counter resets (negative deltas)
    contributing their post-reset value — exact integers end to end."""
    from area_etl_spark.operators.telemetry import counter_increase

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return counter_increase(ev, ["user_id"], "ts", "cents")
def o_counter_increase() -> str:
    return """
            WITH s AS (
                SELECT user_id,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       lag(CAST(round(value * 100) AS BIGINT)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, CAST(round(value * 100) AS BIGINT)
                       ) AS prev
                FROM events
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_samples,
                   CAST(SUM(CASE WHEN prev IS NOT NULL AND cents < prev
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
                   CAST(SUM(CASE WHEN prev IS NULL THEN 0
                                 WHEN cents >= prev THEN cents - prev
                                 ELSE cents END) AS BIGINT) AS total_increase
            FROM s GROUP BY user_id
        """


def q_interpolate_linear(spark, sf_dir):
    """Gap repair beyond LOCF: every 7th event's value knocked out, then
    linearly interpolated between its per-user neighbors in (ts,
    event_id) order — edges stay NULL, non-nulls pass through exactly."""
    from area_etl_spark.operators.telemetry import interpolate_linear

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.col("event_id") % 7 != 0, F.round(F.col("value") * 100).cast("long")
        ).alias("cents"),
    )
    out = interpolate_linear(
        ev, ["user_id"], "us", "cents", order_cols=["us", "event_id"]
    )
    return out.select("user_id", "event_id", "value_interp")
def o_interpolate_linear() -> str:
    return """
            WITH s AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CASE WHEN event_id % 7 <> 0
                            THEN CAST(round(value * 100) AS BIGINT) END AS cents
                FROM events
            ), w AS (
                SELECT user_id, event_id,
                       CAST(us AS DOUBLE) AS t, cents,
                       last_value(cents IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS pv,
                       CAST(last_value(CASE WHEN cents IS NOT NULL THEN us END
                                       IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS DOUBLE) AS pt,
                       first_value(cents IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                       ) AS nv,
                       CAST(first_value(CASE WHEN cents IS NOT NULL THEN us END
                                        IGNORE NULLS) OVER (
                           PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                       ) AS DOUBLE) AS nt
                FROM s
            )
            SELECT user_id, event_id,
                   CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                            round(CAST(pv AS DOUBLE)
                                  + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                                    * (t - pt) / (nt - pt), 9) + 0.0
                        END AS value_interp
            FROM w
        """


def q_max_concurrency(spark, sf_dir):
    """Peak concurrent sessions per event type: each event opens a
    half-open interval [ts_micros, ts_micros + value-cents·1k) — sweep-line
    +1/−1 deltas, per-key cumulative window, exact integers."""
    from area_etl_spark.operators.intervals import max_concurrency

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + F.round(F.col("value") * 100).cast("long") * 1000
        ).alias("e"),
    )
    return max_concurrency(ev, ["event_type"], "s", "e")
def o_max_concurrency() -> str:
    return """
            WITH iv AS (
                SELECT event_type, epoch_us(ts) AS s,
                       epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 1000 AS e
                FROM events
            ), ev AS (
                SELECT event_type, s AS t, 1 AS d FROM iv
                UNION ALL
                SELECT event_type, e, -1 FROM iv
            ), run AS (
                SELECT event_type, SUM(d) OVER (PARTITION BY event_type
                    ORDER BY t, d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
                FROM ev
            )
            SELECT event_type,
                   CAST(MAX(cur) AS BIGINT) AS peak_concurrent,
                   CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
            FROM run GROUP BY event_type
        """


def q_acf_lags(spark, sf_dir):
    """Autocorrelation ladder (lags 1..3) of value-cents per event type
    ordered by event id — denominator-cleared exact DECIMAL arithmetic,
    one float division per lag."""
    from area_etl_spark.operators.windows import acf_lags

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        F.col("event_id").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return acf_lags(ev, ["event_type"], "t", "x", max_lag=3)
def o_acf_lags() -> str:
    return """
            WITH b AS (
                SELECT event_type, event_id AS t,
                       CAST(round(value * 100) AS BIGINT) AS x
                FROM events
            ), led AS (
                SELECT event_type, x,
                       LEAD(x, 1) OVER w AS l1,
                       LEAD(x, 2) OVER w AS l2,
                       LEAD(x, 3) OVER w AS l3
                FROM b
                WINDOW w AS (PARTITION BY event_type ORDER BY t)
            ), agg AS (
                SELECT event_type,
                       CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS S,
                       CAST(SUM(x * x) AS HUGEINT) AS SS,
                       CAST(SUM(CASE WHEN l1 IS NOT NULL THEN x * l1 END) AS HUGEINT) AS cr1,
                       CAST(SUM(CASE WHEN l1 IS NOT NULL THEN x END) AS HUGEINT) AS hd1,
                       CAST(SUM(l1) AS HUGEINT) AS tl1,
                       CAST(SUM(CASE WHEN l2 IS NOT NULL THEN x * l2 END) AS HUGEINT) AS cr2,
                       CAST(SUM(CASE WHEN l2 IS NOT NULL THEN x END) AS HUGEINT) AS hd2,
                       CAST(SUM(l2) AS HUGEINT) AS tl2,
                       CAST(SUM(CASE WHEN l3 IS NOT NULL THEN x * l3 END) AS HUGEINT) AS cr3,
                       CAST(SUM(CASE WHEN l3 IS NOT NULL THEN x END) AS HUGEINT) AS hd3,
                       CAST(SUM(l3) AS HUGEINT) AS tl3
                FROM led GROUP BY 1
            ), long AS (
                SELECT event_type, 1 AS lag, cr1 AS cr, hd1 AS hd, tl1 AS tl, n, S, SS FROM agg
                UNION ALL
                SELECT event_type, 2, cr2, hd2, tl2, n, S, SS FROM agg
                UNION ALL
                SELECT event_type, 3, cr3, hd3, tl3, n, S, SS FROM agg
            )
            SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
                   CASE WHEN n * n * SS - n * S * S <> 0 AND n > lag THEN
                       round(CAST(n * n * COALESCE(cr, 0)
                                  - n * S * (COALESCE(hd, 0) + COALESCE(tl, 0))
                                  + (n - lag) * S * S AS DOUBLE)
                             / CAST(n * n * SS - n * S * S AS DOUBLE), 6)
                   END + 0.0 AS r
            FROM long
        """


def _holt_brown_sql(n_lags: int = 8, horizon: int = 1) -> str:
    """Replay of holt_brown_smooth over per-day event totals: the same
    integer lag weights (w1 geometric, w2 its self-convolution), per-row
    linear combinations over LAG columns, one double division per smooth."""
    k = n_lags
    lag_cols = ", ".join(
        f"LAG(v, {m}) OVER w AS g{m}" for m in range(1, 2 * k - 1)
    )
    s1n, s1d, s2n, s2d = [], [], [], []
    for m in range(2 * k - 1):
        g = "v" if m == 0 else f"g{m}"
        w1 = (1 << (k - 1 - m)) if m < k else 0
        overlap = min(m, k - 1) - max(0, m - k + 1) + 1
        w2 = overlap * (1 << (2 * k - 2 - m))
        s1n.append(f"COALESCE({g}, 0) * {w1}")
        s1d.append(f"CASE WHEN {g} IS NOT NULL THEN {w1} ELSE 0 END")
        s2n.append(f"COALESCE({g}, 0) * {w2}")
        s2d.append(f"CASE WHEN {g} IS NOT NULL THEN {w2} ELSE 0 END")
    s1 = f"(CAST({' + '.join(s1n)} AS DOUBLE) / CAST({' + '.join(s1d)} AS DOUBLE))"
    s2 = f"(CAST({' + '.join(s2n)} AS DOUBLE) / CAST({' + '.join(s2d)} AS DOUBLE))"
    return f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
            FROM events GROUP BY 1, 2
        ), led AS (
            SELECT event_type, day, v, {lag_cols}
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day, v,
               round(2 * {s1} - {s2}, 6) AS level,
               round({s1} - {s2}, 6) AS trend,
               round(2 * {s1} - {s2} + {horizon} * ({s1} - {s2}), 6) AS forecast
        FROM led
    """


def q_holt_brown(spark, sf_dir):
    """Brown double-exponential smoothing over per-day event totals per
    type (bounded daily series): exact truncated integer-weight form,
    level/trend/one-step forecast."""
    from area_etl_spark.operators.windows import holt_brown_smooth

    daily = (
        _tables(spark, sf_dir)["events"]
        .groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    )
    return holt_brown_smooth(daily, ["event_type"], ["day"], "v", n_lags=8)
def o_holt_brown() -> str:
    return _holt_brown_sql(n_lags=8, horizon=1)


def q_page_hinkley(spark, sf_dir):
    """Page–Hinkley sequential mean-shift detection on per-priority daily
    order counts, warmup-reference form — the WHOLE detector state stays
    in exact BIGINTs (the online-mean form's dyadic tie points land on
    round-half boundaries where engines' window-sum ulp orders disagree;
    clearing by the fixed warmup denominator removes every float from the
    alarm decision)."""
    from area_etl_spark.operators.windows import page_hinkley

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    return page_hinkley(
        daily, ["o_orderpriority"], "day", "v", warmup=30, delta=0, lambda_threshold=50
    )
def o_page_hinkley() -> str:
    return """
            WITH d AS (
                SELECT o_orderpriority,
                       date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS day,
                       COUNT(*) AS v
                FROM orders GROUP BY 1, 2
            ), numbered AS (
                SELECT o_orderpriority, day, v,
                       ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY day) AS rn
                FROM d
            ), st AS (
                SELECT o_orderpriority, day, v, rn,
                       SUM(CASE WHEN rn <= 30 THEN v END)
                           OVER (PARTITION BY o_orderpriority) AS sw
                FROM numbered
            ), m AS (
                SELECT o_orderpriority, day, v AS value, rn,
                       SUM(CASE WHEN rn > 30 THEN 30 * v - sw - 0 ELSE 0 END)
                           OVER wnd AS m
                FROM st
                WINDOW wnd AS (PARTITION BY o_orderpriority ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT o_orderpriority, day, value,
                   round(CASE WHEN rn > 30 THEN
                       CAST(m - MIN(m) OVER wnd AS DOUBLE) / 30.0 END, 6) AS ph,
                   COALESCE(CASE WHEN rn > 30
                       THEN (m - MIN(m) OVER wnd) > 1500 END, false) AS alarm
            FROM m
            WINDOW wnd AS (PARTITION BY o_orderpriority ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """


def _pacf_sql(max_lag: int = 5) -> str:
    """Chained-CTE replay of pacf_lags on the daily order-count series:
    the acf ladder (no partition), pivoted wide, then the Durbin–Levinson
    levels generated by the SAME loop the Spark side evaluates."""
    from area_etl_spark.operators.windows import pacf_sql_lines

    leads = ",\n                       ".join(
        f"LEAD(x, {k}) OVER (ORDER BY t) AS l{k}" for k in range(1, max_lag + 1)
    )
    aggs = ",\n                       ".join(
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x * l{k} END) AS HUGEINT) AS cr{k},\n"
        f"                       CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x END) AS HUGEINT) AS hd{k},\n"
        f"                       CAST(SUM(l{k}) AS HUGEINT) AS tl{k}"
        for k in range(1, max_lag + 1)
    )
    rws = "\n                UNION ALL ".join(
        f"SELECT {k} AS lag, cr{k} AS cr, hd{k} AS hd, tl{k} AS tl, n, S, SS FROM agg"
        for k in range(1, max_lag + 1)
    )
    pivots = ",\n                       ".join(
        f"MAX(CASE WHEN lag = {k} THEN r END) AS r{k}" for k in range(1, max_lag + 1)
    )
    ctes = []
    prev = "wide"
    for i, line in enumerate(pacf_sql_lines(max_lag), start=1):
        ctes.append(f"l{i} AS ({line.replace('__prev__', prev)})")
        prev = f"l{i}"
    level_ctes = ",\n            ".join(ctes)
    finals = "\n            UNION ALL ".join(
        f"SELECT {k} AS lag, round(p{k}_{k}, 6) AS pacf FROM {prev}"
        for k in range(1, max_lag + 1)
    )
    return f"""
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS t,
                       COUNT(*) AS x
                FROM orders GROUP BY 1
            ), led AS (
                SELECT x,
                       {leads}
                FROM daily
            ), agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS S,
                       CAST(SUM(x * x) AS HUGEINT) AS SS,
                       {aggs}
                FROM led
            ), longr AS (
                {rws}
            ), rr AS (
                SELECT lag,
                       CASE WHEN n * n * SS - n * S * S <> 0 AND n > lag THEN
                           round(CAST(n * n * COALESCE(cr, 0)
                                      - n * S * (COALESCE(hd, 0) + COALESCE(tl, 0))
                                      + (n - lag) * S * S AS DOUBLE)
                                 / CAST(n * n * SS - n * S * S AS DOUBLE), 6)
                       END + 0.0 AS r
                FROM longr
            ), wide AS (
                SELECT {pivots}
                FROM rr
            ),
            {level_ctes}
            {finals}
    """


def q_pacf_lags(spark, sf_dir):
    """PACF of the daily order-count series via Durbin–Levinson over the
    exact-cleared ACF ladder — the AR-order diagnostic; ONE Python loop
    both evaluates the recursion and generates its SQL replica, so the
    float streams are instruction-identical."""
    from area_etl_spark.operators.windows import pacf_lags

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "day"
        )
    ).agg(F.count(F.lit(1)).alias("y"))
    return pacf_lags(daily, "day", "y", max_lag=5)
def o_pacf_lags() -> str:
    return _pacf_sql(5)


def q_seasonal_strength(spark, sf_dir):
    """Wang–Smith–Hyndman seasonal/trend strength of the monthly revenue
    series — exact-BIGINT decomposition components in, two variance
    ratios out, every variance one division of exact DECIMAL sums."""
    from area_etl_spark.operators.windows import seasonal_strength

    o = _tables(spark, sf_dir)["orders"]
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    return seasonal_strength(monthly, [], ["month"], "rev", 12)
def o_seasonal_strength() -> str:
    return """
            WITH m AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
                FROM orders GROUP BY 1
            ), st AS (
                SELECT month, rev,
                       ROW_NUMBER() OVER (ORDER BY month) AS rn,
                       2 * SUM(rev) OVER (ORDER BY month
                           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                       + COALESCE(lag(rev, 6) OVER (ORDER BY month), 0)
                       + COALESCE(lead(rev, 6) OVER (ORDER BY month), 0) AS num0,
                       COUNT(rev) OVER (ORDER BY month
                           ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS cnt,
                       lag(rev, 6) OVER (ORDER BY month) AS lg,
                       lead(rev, 6) OVER (ORDER BY month) AS ld
                FROM m
            ), st2 AS (
                SELECT month, rev, (rn - 1) % 12 AS phase,
                       CASE WHEN cnt = 13 AND lg IS NOT NULL AND ld IS NOT NULL
                            THEN num0 END AS num
                FROM st
            ), dn AS (
                SELECT month, rev, phase, num,
                       CASE WHEN num IS NOT NULL THEN rev * 24 - num END AS dnv
                FROM st2
            ), pp AS (
                SELECT phase, SUM(dnv) AS sdn, COUNT(*) AS np
                FROM dn WHERE dnv IS NOT NULL GROUP BY 1
            ), ppr AS (
                SELECT phase,
                       CAST(sdn AS DOUBLE) / (24.0 * CAST(np AS DOUBLE)) AS s_raw
                FROM pp
            ), cen AS (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(s_raw ORDER BY phase)), (a, b) -> a + b) AS ssum,
                       COUNT(*) AS nph
                FROM ppr
            ), sea AS (
                SELECT phase, s_raw - ssum / CAST(nph AS DOUBLE) AS seasonal
                FROM ppr CROSS JOIN cen
            ), comp AS (
                SELECT CAST(round(CAST(num AS DOUBLE) / 24.0) AS BIGINT) AS trend,
                       CAST(round(seasonal) AS BIGINT) AS seasonal,
                       CAST(round(CAST(rev AS DOUBLE) - CAST(num AS DOUBLE) / 24.0
                                  - seasonal) AS BIGINT) AS residual
                FROM dn LEFT JOIN sea USING (phase)
            ), kept AS (
                SELECT CAST(seasonal + residual AS HUGEINT) AS sr,
                       CAST(trend + residual AS HUGEINT) AS tr,
                       CAST(residual AS HUGEINT) AS rr
                FROM comp WHERE residual IS NOT NULL
            ), agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(rr) AS s_r, SUM(rr * rr) AS q_r,
                       SUM(sr) AS s_s, SUM(sr * sr) AS q_s,
                       SUM(tr) AS s_t, SUM(tr * tr) AS q_t
                FROM kept
            ), vs AS (
                SELECT CAST(n AS BIGINT) AS n_int,
                       CAST(n * q_r - s_r * s_r AS DOUBLE) AS vr,
                       CAST(n * q_s - s_s * s_s AS DOUBLE) AS vss,
                       CAST(n * q_t - s_t * s_t AS DOUBLE) AS vt
                FROM agg
            )
            SELECT n_int AS n,
                   round(CASE WHEN vss > 0
                         THEN GREATEST(0.0, 1.0 - vr / vss) END, 6)
                       AS seasonal_strength,
                   round(CASE WHEN vt > 0
                         THEN GREATEST(0.0, 1.0 - vr / vt) END, 6)
                       AS trend_strength
            FROM vs
        """


def q_ljung_box(spark, sf_dir):
    """Ljung–Box whiteness test per event-type series (the acf_lags ladder
    it is built on is already driver-green): Q = n(n+2)·Σ r²/(n−k) folded
    in sorted lag order, Wilson–Hilferty p — the residual diagnostic that
    closes the acf → forecast loop."""
    from area_etl_spark.operators.windows import ljung_box

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        F.col("event_id").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return ljung_box(ev, ["event_type"], "t", "x", max_lag=5)
def o_ljung_box() -> str:
    return f"""
            WITH b AS (
                SELECT event_type, event_id AS t,
                       CAST(round(value * 100) AS BIGINT) AS x
                FROM events
            ), led AS (
                SELECT event_type, x,
                       LEAD(x, 1) OVER w AS l1, LEAD(x, 2) OVER w AS l2,
                       LEAD(x, 3) OVER w AS l3, LEAD(x, 4) OVER w AS l4,
                       LEAD(x, 5) OVER w AS l5
                FROM b
                WINDOW w AS (PARTITION BY event_type ORDER BY t)
            ), agg AS (
                SELECT event_type,
                       CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS S,
                       CAST(SUM(x * x) AS HUGEINT) AS SS,
                       CAST(SUM(CASE WHEN l1 IS NOT NULL THEN x * l1 END) AS HUGEINT) AS cr1,
                       CAST(SUM(CASE WHEN l1 IS NOT NULL THEN x END) AS HUGEINT) AS hd1,
                       CAST(SUM(l1) AS HUGEINT) AS tl1,
                       CAST(SUM(CASE WHEN l2 IS NOT NULL THEN x * l2 END) AS HUGEINT) AS cr2,
                       CAST(SUM(CASE WHEN l2 IS NOT NULL THEN x END) AS HUGEINT) AS hd2,
                       CAST(SUM(l2) AS HUGEINT) AS tl2,
                       CAST(SUM(CASE WHEN l3 IS NOT NULL THEN x * l3 END) AS HUGEINT) AS cr3,
                       CAST(SUM(CASE WHEN l3 IS NOT NULL THEN x END) AS HUGEINT) AS hd3,
                       CAST(SUM(l3) AS HUGEINT) AS tl3,
                       CAST(SUM(CASE WHEN l4 IS NOT NULL THEN x * l4 END) AS HUGEINT) AS cr4,
                       CAST(SUM(CASE WHEN l4 IS NOT NULL THEN x END) AS HUGEINT) AS hd4,
                       CAST(SUM(l4) AS HUGEINT) AS tl4,
                       CAST(SUM(CASE WHEN l5 IS NOT NULL THEN x * l5 END) AS HUGEINT) AS cr5,
                       CAST(SUM(CASE WHEN l5 IS NOT NULL THEN x END) AS HUGEINT) AS hd5,
                       CAST(SUM(l5) AS HUGEINT) AS tl5
                FROM led GROUP BY 1
            ), long AS (
                SELECT event_type, 1 AS lag, cr1 AS cr, hd1 AS hd, tl1 AS tl, n, S, SS FROM agg
                UNION ALL SELECT event_type, 2, cr2, hd2, tl2, n, S, SS FROM agg
                UNION ALL SELECT event_type, 3, cr3, hd3, tl3, n, S, SS FROM agg
                UNION ALL SELECT event_type, 4, cr4, hd4, tl4, n, S, SS FROM agg
                UNION ALL SELECT event_type, 5, cr5, hd5, tl5, n, S, SS FROM agg
            ), rr AS (
                SELECT event_type, lag, n,
                       CASE WHEN n * n * SS - n * S * S <> 0 AND n > lag THEN
                           round(CAST(n * n * COALESCE(cr, 0)
                                      - n * S * (COALESCE(hd, 0) + COALESCE(tl, 0))
                                      + (n - lag) * S * S AS DOUBLE)
                                 / CAST(n * n * SS - n * S * S AS DOUBLE), 6)
                       END + 0.0 AS r
                FROM long
            ), packed AS (
                SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                       CAST(COUNT(*) AS BIGINT) AS h,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(r * r / CAST(n - lag AS DOUBLE) ORDER BY lag)),
                           (a, b) -> a + b) AS s
                FROM rr WHERE r IS NOT NULL GROUP BY 1
            ), qq AS (
                SELECT event_type, n, h,
                       CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2) * s AS q,
                       CAST(h AS DOUBLE) AS dfree
                FROM packed
            ), zed AS (
                SELECT event_type, n, h, q,
                       (pow(q / dfree, 0.3333333333333333e0)
                        - (1.0 - 2.0 / (9.0 * dfree)))
                       / sqrt(2.0 / (9.0 * dfree)) AS z
                FROM qq
            )
            SELECT event_type, n, h, round(q, 9) AS q_stat,
                   round(CASE WHEN h > 0 AND q > 0 THEN
                       LEAST(1.0, GREATEST(0.0,
                           CASE WHEN z >= 0 THEN {_normal_sf_sql("z")}
                                ELSE 1.0 - {_normal_sf_sql("(-z)")} END))
                       ELSE 1.0 END, 6) AS p_value
            FROM zed
        """


def q_haar_transform(spark, sf_dir):
    """Unnormalized Haar decomposition of the monthly revenue series —
    every coefficient an EXACT BIGINT (approx = pair sum, detail = pair
    difference; the 1/√2 normalization would make every level a float),
    three levels, each ONE hash aggregate."""
    from area_etl_spark.operators.windows import haar_transform

    o = _tables(spark, sf_dir)["orders"]
    monthly = o.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    return haar_transform(monthly, "month", "rev", levels=3)
def o_haar_transform() -> str:
    return """
            WITH m AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev
                FROM orders GROUP BY 1
            ), s0 AS (
                SELECT ROW_NUMBER() OVER (ORDER BY month) - 1 AS idx, rev AS val
                FROM m
            ), l1 AS (
                SELECT CAST(floor(idx / 2) AS BIGINT) AS idx, COUNT(*) AS cnt,
                       MIN(CASE WHEN idx % 2 = 0 THEN val END) AS ev,
                       MIN(CASE WHEN idx % 2 = 1 THEN val END) AS od
                FROM s0 GROUP BY 1
            ), h1 AS (
                SELECT 1 AS level, idx, ev + od AS approx, ev - od AS detail
                FROM l1 WHERE cnt = 2
            ), s1 AS (
                SELECT idx, approx AS val FROM h1
            ), l2 AS (
                SELECT CAST(floor(idx / 2) AS BIGINT) AS idx, COUNT(*) AS cnt,
                       MIN(CASE WHEN idx % 2 = 0 THEN val END) AS ev,
                       MIN(CASE WHEN idx % 2 = 1 THEN val END) AS od
                FROM s1 GROUP BY 1
            ), h2 AS (
                SELECT 2 AS level, idx, ev + od AS approx, ev - od AS detail
                FROM l2 WHERE cnt = 2
            ), s2 AS (
                SELECT idx, approx AS val FROM h2
            ), l3 AS (
                SELECT CAST(floor(idx / 2) AS BIGINT) AS idx, COUNT(*) AS cnt,
                       MIN(CASE WHEN idx % 2 = 0 THEN val END) AS ev,
                       MIN(CASE WHEN idx % 2 = 1 THEN val END) AS od
                FROM s2 GROUP BY 1
            ), h3 AS (
                SELECT 3 AS level, idx, ev + od AS approx, ev - od AS detail
                FROM l3 WHERE cnt = 2
            )
            SELECT level, idx, approx, detail FROM h1
            UNION ALL SELECT level, idx, approx, detail FROM h2
            UNION ALL SELECT level, idx, approx, detail FROM h3
        """


def q_asof_nearest(spark, sf_dir):
    """Nearest-in-time as-of join (pandas direction='nearest'): each
    event matched to the closest purchase timestamp of the same user,
    either direction, backward on ties — one union-merge sort, both
    direction windows sharing it."""
    from area_etl_spark.operators.asof import asof_nearest

    ev = _tables(spark, sf_dir)["events"]
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("pts"))
        .distinct()
    )
    out = asof_nearest(
        ev.select("event_id", "user_id", "ts"), p, "user_id", "ts", "pts"
    )
    return out.select("event_id", "user_id", "ts", "pts_near", "asof_direction")
def o_asof_nearest() -> str:
    return """
            WITH p AS (
                SELECT DISTINCT user_id, ts AS pts FROM events
                WHERE event_type = 'purchase'
            ), b AS (
                SELECT e.event_id, p.pts AS bts
                FROM events e ASOF LEFT JOIN p
                  ON e.user_id = p.user_id AND e.ts >= p.pts
            ), f AS (
                SELECT e.event_id, p.pts AS fts
                FROM events e ASOF LEFT JOIN p
                  ON e.user_id = p.user_id AND e.ts <= p.pts
            ), j AS (
                SELECT e.event_id, e.user_id, e.ts, bts, fts
                FROM events e JOIN b USING (event_id) JOIN f USING (event_id)
            )
            SELECT event_id, user_id, ts,
                   CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                            epoch_us(ts) - epoch_us(bts)
                            <= epoch_us(fts) - epoch_us(ts))
                        THEN bts ELSE fts END AS pts_near,
                   CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                            epoch_us(ts) - epoch_us(bts)
                            <= epoch_us(fts) - epoch_us(ts))
                        THEN 'backward'
                        WHEN fts IS NOT NULL THEN 'forward' END
                       AS asof_direction
            FROM j
        """


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of the monthly revenue series
    (period 12, the even-period 2×MA path): exact BIGINT trend numerators,
    per-phase exact detrended means, sorted-fold phase centering — the
    decomposition STL descends from, on the grain monthly_revenue_rollup
    already produces."""
    from area_etl_spark.operators.windows import seasonal_decompose_classical

    o = _tables(spark, sf_dir)["orders"]
    # Timestamp (not date) month grain: the driver's hash is dtype-sensitive
    # and Spark DATE -> pandas object vs DuckDB DATE -> datetime64 breaks it;
    # date_trunc's TIMESTAMP matches both sides (the monthly_revenue_rollup
    # recipe).
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    return seasonal_decompose_classical(monthly, [], ["month"], "rev", 12)
def o_seasonal_decompose() -> str:
    return """
            WITH m AS (
                SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev
                FROM orders GROUP BY 1
            ), st AS (
                SELECT month, rev,
                       ROW_NUMBER() OVER (ORDER BY month) AS rn,
                       2 * SUM(rev) OVER (ORDER BY month
                           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                       + COALESCE(lag(rev, 6) OVER (ORDER BY month), 0)
                       + COALESCE(lead(rev, 6) OVER (ORDER BY month), 0) AS num0,
                       COUNT(rev) OVER (ORDER BY month
                           ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS cnt,
                       lag(rev, 6) OVER (ORDER BY month) AS lg,
                       lead(rev, 6) OVER (ORDER BY month) AS ld
                FROM m
            ), st2 AS (
                SELECT month, rev, (rn - 1) % 12 AS phase,
                       CASE WHEN cnt = 13 AND lg IS NOT NULL AND ld IS NOT NULL
                            THEN num0 END AS num
                FROM st
            ), dn AS (
                SELECT month, rev, phase, num,
                       CASE WHEN num IS NOT NULL THEN rev * 24 - num END AS dnv
                FROM st2
            ), pp AS (
                SELECT phase, SUM(dnv) AS sdn, COUNT(*) AS np
                FROM dn WHERE dnv IS NOT NULL GROUP BY 1
            ), ppr AS (
                SELECT phase,
                       CAST(sdn AS DOUBLE) / (24.0 * CAST(np AS DOUBLE)) AS s_raw
                FROM pp
            ), cen AS (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(s_raw ORDER BY phase)), (a, b) -> a + b) AS ssum,
                       COUNT(*) AS nph
                FROM ppr
            ), sea AS (
                SELECT phase, s_raw - ssum / CAST(nph AS DOUBLE) AS seasonal
                FROM ppr CROSS JOIN cen
            )
            SELECT month, rev AS value,
                   CAST(round(CAST(num AS DOUBLE) / 24.0) AS BIGINT) AS trend,
                   CAST(round(seasonal) AS BIGINT) AS seasonal,
                   CAST(round(CAST(rev AS DOUBLE) - CAST(num AS DOUBLE) / 24.0
                              - seasonal) AS BIGINT) AS residual
            FROM dn LEFT JOIN sea USING (phase)
        """


def q_rsi_cutler(spark, sf_dir):
    """Cutler's RSI (the SMA, non-recursive form — Wilder's EWMA is a
    sequential recursion no engine parallelizes; the variant choice is
    documented) over per-priority daily revenue: exact integer gain/loss
    window sums, one division, warm-up rows stay NULL."""
    from area_etl_spark.operators.windows import rsi_cutler

    o = _tables(spark, sf_dir)["orders"]
    # Timestamp day grain for the dtype-sensitive driver hash (see
    # q_seasonal_decompose).
    daily = o.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("timestamp").alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    return rsi_cutler(daily, ["o_orderpriority"], ["day"], "rev", 14)
def o_rsi_cutler() -> str:
    return """
            WITH d AS (
                SELECT o_orderpriority, CAST(o_orderdate AS TIMESTAMP) AS day,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev
                FROM orders GROUP BY 1, 2
            ), g AS (
                SELECT o_orderpriority, day, rev,
                       rev - lag(rev, 1) OVER (PARTITION BY o_orderpriority
                           ORDER BY day) AS diff
                FROM d
            ), gl AS (
                SELECT o_orderpriority, day, rev,
                       CASE WHEN diff IS NOT NULL THEN GREATEST(diff, 0) END AS gain,
                       CASE WHEN diff IS NOT NULL THEN GREATEST(-diff, 0) END AS loss
                FROM g
            ), s AS (
                SELECT o_orderpriority, day, rev,
                       SUM(gain) OVER (PARTITION BY o_orderpriority ORDER BY day
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sg,
                       SUM(loss) OVER (PARTITION BY o_orderpriority ORDER BY day
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sl,
                       COUNT(gain) OVER (PARTITION BY o_orderpriority ORDER BY day
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nd
                FROM gl
            )
            SELECT o_orderpriority, day, rev,
                   round(CASE WHEN nd = 14 THEN
                       CASE WHEN sg + sl > 0
                            THEN 100.0 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE)
                            ELSE 50.0 END
                   END, 9) AS rsi
            FROM s
        """


def q_bollinger_bands(spark, sf_dir):
    """Bollinger bands over the same per-priority daily revenue series:
    20-row moving mean ± 2 sample stddevs from EXACT window sums (Σv, Σv²
    in DECIMAL) — no catastrophic cancellation, one division per band."""
    from area_etl_spark.operators.windows import bollinger_bands

    o = _tables(spark, sf_dir)["orders"]
    # Timestamp day grain for the dtype-sensitive driver hash (see
    # q_seasonal_decompose).
    daily = o.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("timestamp").alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    return bollinger_bands(daily, ["o_orderpriority"], ["day"], "rev", 20, 2.0)
def o_bollinger_bands() -> str:
    return """
            WITH d AS (
                SELECT o_orderpriority, CAST(o_orderdate AS TIMESTAMP) AS day,
                       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev
                FROM orders GROUP BY 1, 2
            ), s AS (
                SELECT o_orderpriority, day, rev,
                       SUM(CAST(rev AS HUGEINT)) OVER (
                           PARTITION BY o_orderpriority ORDER BY day
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sv,
                       SUM(CAST(rev AS HUGEINT) * rev) OVER (
                           PARTITION BY o_orderpriority ORDER BY day
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS qv,
                       COUNT(rev) OVER (
                           PARTITION BY o_orderpriority ORDER BY day
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS cnt
                FROM d
            ), calc AS (
                SELECT o_orderpriority, day, rev, cnt,
                       CAST(sv AS DOUBLE) / 20.0 AS mean,
                       sqrt(GREATEST(CAST(20 * qv - sv * sv AS DOUBLE) / 380.0,
                                     0.0)) AS std
                FROM s
            )
            SELECT o_orderpriority, day, rev,
                   CAST(round(CASE WHEN cnt = 20 THEN mean END) AS BIGINT) AS bb_mean,
                   CAST(round(CASE WHEN cnt = 20 THEN mean + 2.0 * std END)
                        AS BIGINT) AS bb_upper,
                   CAST(round(CASE WHEN cnt = 20 THEN mean - 2.0 * std END)
                        AS BIGINT) AS bb_lower
            FROM calc
        """


def q_hurst_exponent(spark, sf_dir):
    """Classical R/S Hurst exponent of the daily order-count series —
    per-block R·s and S·s exact over DECIMAL integers, one sqrt + one
    division per block, ln-ln OLS slope across dyadic block sizes."""
    from area_etl_spark.operators.windows import hurst_exponent

    daily = (
        _tables(spark, sf_dir)["orders"]
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            ).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return hurst_exponent(daily, "d", "v", (8, 16, 32, 64))
def o_hurst_exponent() -> str:
    return """
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS o,
                       COUNT(*) AS v
                FROM orders GROUP BY 1
            ), base AS (
                SELECT v, row_number() OVER (ORDER BY o) - 1 AS i FROM daily
            ), grid AS (
                SELECT unnest([8, 16, 32, 64]) AS bs
            ), rws AS (
                SELECT bs, v, i // bs AS b, i % bs AS k
                FROM base CROSS JOIN grid
            ), staged AS (
                SELECT bs, b, k, v,
                       SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY bs, b
                           ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum,
                       SUM(CAST(v AS HUGEINT)) OVER (PARTITION BY bs, b)
                           AS tot,
                       COUNT(*) OVER (PARTITION BY bs, b) AS cnt
                FROM rws
            ), blocks AS (
                SELECT bs, b,
                       MAX(CAST(bs AS HUGEINT) * cum - (k + 1) * tot) AS maxsy,
                       MIN(CAST(bs AS HUGEINT) * cum - (k + 1) * tot) AS minsy,
                       MAX(tot) AS tot,
                       SUM(CAST(v AS HUGEINT) * v) AS q
                FROM staged WHERE cnt = bs GROUP BY 1, 2
            ), valid AS (
                SELECT bs, b,
                       CAST(maxsy - minsy AS DOUBLE)
                       / sqrt(CAST(CAST(bs AS HUGEINT) * q - tot * tot
                                   AS DOUBLE)) AS rs
                FROM blocks
                WHERE CAST(CAST(bs AS HUGEINT) * q - tot * tot AS DOUBLE) > 0
            ), per_size AS (
                SELECT bs, COUNT(*) AS n_blocks,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(rs ORDER BY b)), (x, y) -> x + y)
                       / CAST(COUNT(*) AS DOUBLE) AS mean_rs
                FROM valid GROUP BY 1
            ), reg AS (
                SELECT COUNT(*) AS m,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(ln(CAST(bs AS DOUBLE)) ORDER BY bs)),
                           (x, y) -> x + y) AS sx,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(ln(mean_rs) ORDER BY bs)),
                           (x, y) -> x + y) AS sy,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(ln(CAST(bs AS DOUBLE)) * ln(mean_rs)
                                ORDER BY bs)), (x, y) -> x + y) AS sxy,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(ln(CAST(bs AS DOUBLE)) * ln(CAST(bs AS DOUBLE))
                                ORDER BY bs)), (x, y) -> x + y) AS sxx
                FROM per_size
            ), h AS (
                SELECT CASE WHEN m > 1 THEN
                    (CAST(m AS DOUBLE) * sxy - sx * sy)
                    / (CAST(m AS DOUBLE) * sxx - sx * sx) END AS hurst
                FROM reg
            ), nt AS (
                SELECT COUNT(*) AS n FROM base
            )
            SELECT CAST(bs AS BIGINT) AS block_size,
                   CAST(n_blocks AS BIGINT) AS n_blocks,
                   round(mean_rs, 9) AS mean_rs,
                   round(hurst, 9) AS hurst,
                   CAST(n AS BIGINT) AS n
            FROM per_size CROSS JOIN h CROSS JOIN nt
        """


def q_forecast_accuracy(spark, sf_dir):
    """MAE/RMSE/MAPE/sMAPE/MASE scorecard of a seasonal-naive (lag-7)
    forecast of the daily order count — exact DECIMAL error sums, float
    only in the per-row MAPE/sMAPE terms on one ordered window."""
    from pyspark.sql import Window as W

    from area_etl_spark.operators.windows import forecast_accuracy

    daily = (
        _tables(spark, sf_dir)["orders"]
        .groupBy(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("a"))
    )
    fc = daily.select(
        "d", "a", F.lag("a", 7).over(W.orderBy("d")).alias("f")
    ).where(F.col("f").isNotNull())
    return forecast_accuracy(fc, "d", "a", "f")
def o_forecast_accuracy() -> str:
    return """
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS d,
                       COUNT(*) AS a
                FROM orders GROUP BY 1
            ), fc AS (
                SELECT d, a, lag(a, 7) OVER (ORDER BY d) AS f FROM daily
            ), base AS (
                SELECT d, a, f FROM fc WHERE f IS NOT NULL
            ), lagd AS (
                SELECT d, a, f,
                       abs(a - f) AS ae,
                       CAST(a - f AS HUGEINT) * (a - f) AS se,
                       CASE WHEN a <> 0 THEN CAST(abs(a - f) AS DOUBLE)
                            / CAST(abs(a) AS DOUBLE) END AS mape_t,
                       CASE WHEN abs(a) + abs(f) > 0
                            THEN 2.0 * CAST(abs(a - f) AS DOUBLE)
                                 / CAST(abs(a) + abs(f) AS DOUBLE)
                       END AS smape_t,
                       COALESCE(abs(a - lag(a, 1) OVER (ORDER BY d, a, f)), 0)
                           AS naive
                FROM base
            ), cum AS (
                SELECT row_number() OVER (ORDER BY d, a, f) AS rn,
                       SUM(ae) OVER win AS sae,
                       SUM(se) OVER win AS sse,
                       SUM(naive) OVER win AS snaive,
                       SUM(COALESCE(mape_t, 0.0)) OVER win AS smn,
                       SUM(CASE WHEN mape_t IS NOT NULL THEN 1 ELSE 0 END)
                           OVER win AS nm,
                       SUM(COALESCE(smape_t, 0.0)) OVER win AS ssm,
                       SUM(CASE WHEN smape_t IS NOT NULL THEN 1 ELSE 0 END)
                           OVER win AS ns,
                       COUNT(*) OVER () AS n
                FROM lagd
                WINDOW win AS (ORDER BY d, a, f
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mae,
                   round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                       AS rmse,
                   round(CASE WHEN nm > 0
                        THEN smn / CAST(nm AS DOUBLE) END, 9) AS mape,
                   round(CASE WHEN ns > 0
                        THEN ssm / CAST(ns AS DOUBLE) END, 9) AS smape,
                   round(CASE WHEN n > 1 AND snaive > 0
                        THEN (CAST(sae AS DOUBLE) / CAST(n AS DOUBLE))
                             / (CAST(snaive AS DOUBLE)
                                / (CAST(n AS DOUBLE) - 1.0)) END, 9) AS mase
            FROM cum WHERE rn = n
        """
