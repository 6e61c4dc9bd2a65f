"""Events and sessions: sessionization, funnels, retention, streaks and
windowed event streams over the events table (``streaming/event_stream``,
``streaming/sessions``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.registry._common import _tables
from area_etl_spark.streaming.event_stream import windowed_event_agg
from area_etl_spark.streaming.sessions import session_agg


def q_session_paths(spark, sf_dir):
    """Top navigation paths: 30-min-gap sessionization, then event-type
    trigrams via two leads inside each session, counted globally."""
    from pyspark.sql import Window

    ev = _tables(spark, sf_dir)["events"].select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.col("_prev").isNull()
        | (F.expr("timestampdiff(MICROSECOND, _prev, ts)") > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    sessed = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_sess",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    w2 = Window.partitionBy("user_id", "_sess").orderBy("ts", "event_id")
    tri = (
        sessed.withColumn("_e2", F.lead("event_type", 1).over(w2))
        .withColumn("_e3", F.lead("event_type", 2).over(w2))
        .where(F.col("_e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "_e2", "_e3").alias("path")
        )
    )
    return tri.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions_through"))
def o_session_paths() -> str:
    return """
            WITH o AS (
                SELECT user_id, ts, event_id, event_type,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events
            ), s AS (
                SELECT *, SUM(CASE WHEN prev IS NULL
                                     OR date_diff('microsecond', prev, ts) > 1800000000
                                   THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
                FROM o
            ), t AS (
                SELECT event_type AS e1,
                       lead(event_type, 1) OVER w2 AS e2,
                       lead(event_type, 2) OVER w2 AS e3
                FROM s
                WINDOW w2 AS (PARTITION BY user_id, sess ORDER BY ts, event_id)
            )
            SELECT e1 || '>' || e2 || '>' || e3 AS path,
                   COUNT(*) AS n_sessions_through
            FROM t WHERE e3 IS NOT NULL GROUP BY 1
        """


def q_ltv_curve(spark, sf_dir):
    """Cohort LTV curve: signup-week cohorts × days-since-signup, per-day
    purchase revenue and its running total (exact cents; the post-agg
    cumulative window is bounded by days-per-cohort)."""
    from pyspark.sql import Window

    ev = _tables(spark, sf_dir)["events"]
    signups = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    j = purchases.join(signups, "user_id").where(F.col("ts") >= F.col("signup_ts"))
    daily = (
        j.select(
            # timestamp, not cast("date"): DATE → pandas object dtype breaks
            # the driver canonicalizer (vocab_encode failure class)
            F.date_trunc("week", F.col("signup_ts")).alias("cohort_week"),
            F.datediff(F.col("ts").cast("date"), F.col("signup_ts").cast("date")).alias(
                "day_offset"
            ),
            "cents",
        )
        .groupBy("cohort_week", "day_offset")
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
def o_ltv_curve() -> str:
    return """
            WITH signups AS (
                SELECT user_id, MIN(ts) AS signup_ts
                FROM events WHERE event_type = 'signup' GROUP BY user_id
            ), j AS (
                SELECT CAST(date_trunc('week', s.signup_ts) AS TIMESTAMP) AS cohort_week,
                       CAST(date_diff('day', CAST(s.signup_ts AS DATE),
                                      CAST(e.ts AS DATE)) AS INT) AS day_offset,
                       CAST(round(e.value * 100) AS BIGINT) AS cents
                FROM events e JOIN signups s ON e.user_id = s.user_id
                WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
            ), daily AS (
                SELECT cohort_week, day_offset,
                       CAST(SUM(cents) AS BIGINT) AS revenue_cents
                FROM j GROUP BY 1, 2
            )
            SELECT cohort_week, day_offset, revenue_cents,
                   CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_week
                        ORDER BY day_offset
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_revenue_cents
            FROM daily
        """


def q_session_quality_report(spark, sf_dir):
    """Daily session quality: sessions, bounces (single-event sessions),
    exact median session duration — sessionization reused, rollup per
    session-start day."""
    from pyspark.sql import Window

    ev = _tables(spark, sf_dir)["events"].select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.col("_prev").isNull()
        | (F.expr("timestampdiff(MICROSECOND, _prev, ts)") > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    sessed = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_sess",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per_session = sessed.groupBy("user_id", "_sess").agg(
        F.min("ts").alias("_start"),
        F.count(F.lit(1)).alias("_n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("_dur_us"),
    )
    return (
        # date_trunc (timestamp) not cast("date"): Spark DATE → pandas
        # object dtype, which the driver canonicalizer hashes differently
        # from DuckDB's datetime64 (the vocab_encode failure class)
        per_session.groupBy(F.date_trunc("day", F.col("_start")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("_n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
            F.percentile(F.col("_dur_us"), F.lit(0.5)).alias("median_duration_us"),
        )
    )
def o_session_quality_report() -> str:
    return """
            WITH o AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events
            ), s AS (
                SELECT *, SUM(CASE WHEN prev IS NULL
                                     OR date_diff('microsecond', prev, ts) > 1800000000
                                   THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
                FROM o
            ), per_session AS (
                SELECT user_id, sess, MIN(ts) AS start_ts, COUNT(*) AS n_events,
                       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
                FROM s GROUP BY user_id, sess
            )
            SELECT CAST(date_trunc('day', start_ts) AS TIMESTAMP) AS day,
                   COUNT(*) AS n_sessions,
                   CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bounces,
                   quantile_cont(dur_us, 0.5) AS median_duration_us
            FROM per_session GROUP BY 1
        """


def q_decline_streaks(spark, sf_dir):
    """Longest run of strictly-declining daily spend per user (consecutive
    OBSERVED days): gaps-and-islands on the delta sign, max run length;
    users that never decline report 0."""
    from pyspark.sql import Window

    ev = _tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    w = Window.partitionBy("user_id").orderBy("day")
    run = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = daily.withColumn(
        "_declining",
        (F.col("cents") - F.lag("cents").over(w) < 0).cast("int"),
    ).withColumn(
        "_grp",
        F.sum(
            F.when(F.coalesce(F.col("_declining"), F.lit(0)) == 0, 1).otherwise(0)
        ).over(run),
    )
    streaks = (
        flagged.where(F.col("_declining") == 1)
        .groupBy("user_id", "_grp")
        .agg(F.count(F.lit(1)).alias("_len"))
        .groupBy("user_id")
        .agg(F.max("_len").alias("longest"))
    )
    users = daily.select("user_id").distinct()
    return users.join(streaks, "user_id", "left").select(
        "user_id",
        F.coalesce(F.col("longest"), F.lit(0)).alias("longest_decline_streak"),
    )
def o_decline_streaks() -> str:
    return """
            WITH daily AS (
                SELECT user_id, CAST(ts AS DATE) AS day,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                           AS cents
                FROM events GROUP BY 1, 2
            ), flagged AS (
                SELECT user_id, day, cents,
                       CASE WHEN cents - lag(cents) OVER w < 0 THEN 1 ELSE 0 END
                           AS declining
                FROM daily
                WINDOW w AS (PARTITION BY user_id ORDER BY day)
            ), grouped AS (
                SELECT *, SUM(CASE WHEN declining = 0 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS grp
                FROM flagged
            ), streaks AS (
                SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest FROM (
                    SELECT user_id, grp, COUNT(*) AS len
                    FROM grouped WHERE declining = 1 GROUP BY user_id, grp
                ) GROUP BY user_id
            )
            SELECT d.user_id,
                   COALESCE(s.longest, 0) AS longest_decline_streak
            FROM (SELECT DISTINCT user_id FROM daily) d
            LEFT JOIN streaks s ON s.user_id = d.user_id
        """


def q_time_in_state(spark, sf_dir):
    """Total time each user spends 'in' each event type (state held until
    the next event): lead-difference in exact micros, last state open-ended
    and excluded — the device/session state accounting query."""
    from pyspark.sql import Window

    ev = _tables(spark, sf_dir)["events"].select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    held = (
        ev.withColumn("_nxt", F.lead("ts").over(w))
        .where(F.col("_nxt").isNotNull())
        .select(
            "user_id",
            "event_type",
            (F.unix_micros(F.col("_nxt")) - F.unix_micros(F.col("ts"))).alias("_dur"),
        )
    )
    return held.groupBy("user_id", "event_type").agg(
        F.sum("_dur").alias("total_us"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
def o_time_in_state() -> str:
    return """
            WITH o AS (
                SELECT user_id, event_type, ts,
                       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           AS nxt
                FROM events
            )
            SELECT user_id, event_type,
                   CAST(SUM(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS total_us,
                   COUNT(*) AS n_intervals
            FROM o WHERE nxt IS NOT NULL
            GROUP BY user_id, event_type
        """


def q_rolling_distinct_users(spark, sf_dir):
    """Exact trailing-7-day distinct users per day (DAU→WAU rollup).

    The naive COUNT(DISTINCT) OVER a RANGE window buffers every row of the
    frame per key; the scalable form works on the DAILY user grid: distinct
    (day, user) — already tiny — exploded to the ≤7 future days each
    contributes to (bounded 7× expansion of the GRID, not the events),
    distinct again, then a plain count per window day.  Every stage is a
    hash aggregate; nothing buffers raw events.  Only days with events
    appear (observed grid, no calendar spine)."""
    tables = _tables(spark, sf_dir)
    daily = (
        tables["events"]
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    contrib = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "user_id"
    ).select(F.date_add(F.col("day"), F.col("off")).alias("win_day"), "user_id")
    observed = daily.select(F.col("day").alias("win_day")).distinct()
    return (
        contrib.distinct()
        .join(observed, "win_day")
        .groupBy("win_day")
        .agg(F.count(F.lit(1)).cast("long").alias("users_7d"))
        # DATE degrades to python-object dtype in the pandas handoff while
        # DuckDB's DATE arrives as datetime64 — hash-mismatch despite equal
        # values; normalize to timestamp on both sides
        .withColumn("win_day", F.col("win_day").cast("timestamp"))
    )
def o_rolling_distinct_users() -> str:
    return """
            WITH daily AS (
                SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
            ), contrib AS (
                SELECT DISTINCT day + CAST(o.o AS INTEGER) AS win_day, user_id
                FROM daily, (SELECT unnest(range(7)) AS o) o
            )
            SELECT CAST(c.win_day AS TIMESTAMP) AS win_day,
                   CAST(COUNT(*) AS BIGINT) AS users_7d
            FROM contrib c
            JOIN (SELECT DISTINCT day AS win_day FROM daily) obs USING (win_day)
            GROUP BY c.win_day
        """


def q_hopping_window_agg(spark, sf_dir):
    """Batch hopping-window aggregation: 60-minute windows sliding every 15
    minutes via the built-in F.window (each event lands in 4 windows —
    Generate inside the scan stage, then ONE hash aggregation on
    (window_start, event_type)); exact integer-cents sums."""
    tables = _tables(spark, sf_dir)
    ev = tables["events"]
    return (
        ev.groupBy(
            F.window("ts", "60 minutes", "15 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "value_cents")
    )
def o_hopping_window_agg() -> str:
    return """
            WITH expanded AS (
                SELECT e.event_type,
                       CAST(round(e.value * 100) AS BIGINT) AS cents,
                       to_timestamp((epoch_us(e.ts) // 1000000 // 900) * 900 - o.o * 900)
                           AT TIME ZONE 'UTC' AS win_start
                FROM events e CROSS JOIN (SELECT unnest(range(4)) AS o) o
                WHERE (epoch_us(e.ts) // 1000000 // 900) * 900 - o.o * 900
                      > epoch_us(e.ts) // 1000000 - 3600
            )
            SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type,
                   COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS value_cents
            FROM expanded GROUP BY 1, 2
        """


def q_longest_streak(spark, sf_dir):
    """Longest run of consecutive ACTIVE DAYS per user — the
    gaps-and-islands date idiom (datediff − row_number is constant within a
    consecutive run): distinct (user, day) → island key → count per island
    → max per user.  Two bounded shuffles, no self-join."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    days = (
        tables["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    runs = islands.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("user_id").agg(F.max("run_len").cast("long").alias("longest_streak"))
def o_longest_streak() -> str:
    return """
            WITH days AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
            ), islands AS (
                SELECT user_id,
                       datediff('day', DATE '1970-01-01', day)
                       - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
                FROM days
            ), runs AS (
                SELECT user_id, island, COUNT(*) AS run_len
                FROM islands GROUP BY user_id, island
            )
            SELECT user_id, CAST(MAX(run_len) AS BIGINT) AS longest_streak
            FROM runs GROUP BY user_id
        """


def q_events_windowed_agg(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return windowed_event_agg(tables["events"], window_minutes=60)
def o_events_windowed_agg() -> str:
    return """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   COUNT(*) AS n_events,
                   SUM(CAST(round(value * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        """


def q_first_touch_attribution(spark, sf_dir):
    """First event per user (classic first-touch): row_number over (user, ts)."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        tables["events"]
        .select("user_id", "event_id", "ts", "event_type", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event_id"), F.col("event_type").alias("first_touch"))
    )
def o_first_touch_attribution() -> str:
    return """
            SELECT user_id, event_id AS first_event_id, event_type AS first_touch
            FROM (SELECT user_id, event_id, event_type,
                         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1
        """


def q_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-activity day, counted per
    (cohort_day, activity_day) — two shuffles (first-day window, rollup)."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn("cohort_day", F.min("day").over(w))
    return (
        cohorted.groupBy("cohort_day", "day")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
def o_retention_cohorts() -> str:
    return """
            WITH d AS (
                SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
            ), c AS (
                SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM d
            )
            SELECT cohort_day, day, COUNT(DISTINCT user_id) AS n_users
            FROM c GROUP BY cohort_day, day
        """


def q_events_sessionization(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return session_agg(tables["events"], gap_minutes=30)
def o_events_sessionization() -> str:
    return """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                 >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
                FROM events
            ), s AS (
                SELECT user_id, ts, value,
                       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM g
            )
            SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end_ts,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM s GROUP BY user_id, sess_id
        """


def q_funnel_conversion(spark, sf_dir):
    """Ordered-funnel analysis: users progressing view → later click → later
    purchase; per-stage reachable-user counts (strictly-ordered semantics via
    min-time joins, no window over the whole event stream)."""
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select("user_id", "event_type", "ts")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(1).alias("stage"), F.lit("view").alias("event"), "n_users")
        .unionByName(c.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(2).alias("stage"), F.lit("click").alias("event"), "n_users"))
        .unionByName(p.agg(F.count(F.lit(1)).alias("n_users")).select(F.lit(3).alias("stage"), F.lit("purchase").alias("event"), "n_users"))
        .orderBy("stage")
    )
def o_funnel_conversion() -> str:
    return """
            WITH v AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ), c AS (
                SELECT e.user_id, MIN(e.ts) AS t2
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click' AND e.ts > v.t1
                GROUP BY e.user_id
            ), p AS (
                SELECT e.user_id, MIN(e.ts) AS t3
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.ts > c.t2
                GROUP BY e.user_id
            )
            SELECT 1 AS stage, 'view' AS event, COUNT(*) AS n_users FROM v
            UNION ALL
            SELECT 2, 'click', COUNT(*) FROM c
            UNION ALL
            SELECT 3, 'purchase', COUNT(*) FROM p
            ORDER BY stage
        """


def q_event_transitions(spark, sf_dir):
    """First-order event-type transition matrix: per user, each event pairs
    with its successor (lead over the user's timeline); global counts per
    (from, to) — the product-analytics Markov summary."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    ev = tables["events"].select(
        "user_id", "ts", "event_id", F.col("event_type").alias("from_type")
    ).withColumn("to_type", F.lead("from_type").over(w))
    return (
        ev.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
def o_event_transitions() -> str:
    return """
            WITH ev AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
                FROM events
            )
            SELECT from_type, to_type, COUNT(*) AS n
            FROM ev WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        """


def q_debounce_events(spark, sf_dir):
    """Debounce: drop a user's repeat of the SAME event type within 30
    minutes of the previous same-type occurrence (double-click suppression —
    lag over the (user, type) timeline, narrow filter after one window)."""
    from pyspark.sql import Window

    tables = _tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("ts"), F.col("event_id"))
    # microsecond diff — SECOND-granularity diffs truncate in Spark but
    # count boundary crossings in DuckDB (the time_weighted_avg lesson)
    keep = F.col("_prev").isNull() | (
        F.expr("timestampdiff(MICROSECOND, _prev, ts)") >= 1800 * 1_000_000
    )
    return (
        tables["events"]
        .select("event_id", "user_id", "event_type", "ts")
        .withColumn("_prev", F.lag("ts").over(w))
        .where(keep)
        .drop("_prev")
    )
def o_debounce_events() -> str:
    return """
            WITH lagged AS (
                SELECT event_id, user_id, event_type, ts,
                       lag(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            )
            SELECT event_id, user_id, event_type, ts
            FROM lagged
            WHERE prev_ts IS NULL
               OR date_diff('microsecond', prev_ts, ts) >= 1800 * 1000000
        """


def q_burst_detection(spark, sf_dir):
    """Trailing event-rate window at event granularity (rate-limit/abuse
    monitoring): per user the event count in the trailing 30 days by VALUE
    (RANGE frame over exact micros — ROWS frames silently overcount gapped
    streams), flagged against a fixed burst threshold."""
    from pyspark.sql import Window

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_us")
        .rangeBetween(-30 * 86400 * 1_000_000, 0)
    )
    return (
        ev.withColumn("n_trailing_30d", F.count(F.lit(1)).over(w))
        .select(
            "user_id",
            "event_id",
            "ts",
            "n_trailing_30d",
            (F.col("n_trailing_30d") >= 14).alias("is_burst"),
        )
    )
def o_burst_detection() -> str:
    return """
            SELECT user_id, event_id, ts,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                  RANGE BETWEEN 2592000000000 PRECEDING
                                        AND CURRENT ROW) AS n_trailing_30d,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                  RANGE BETWEEN 2592000000000 PRECEDING
                                        AND CURRENT ROW) >= 14 AS is_burst
            FROM events
        """


def q_bot_traffic(spark, sf_dir):
    """Metronomic-traffic detection over events with planted bots: every
    user_id % 7 == 0 gets an exact 60-second tick schedule in place of
    its real timestamps; the cv/modal-gap signals must flag exactly the
    planted class.  Gaps are integer microseconds (the debounce lesson),
    the cv folds from DECIMAL sums, so DuckDB replays every signal."""
    from area_etl_spark.operators.telemetry import detect_bot_traffic

    ev = _tables(spark, sf_dir)["events"].select("user_id", "ts", "event_id")
    bot = F.col("user_id") % 7 == 0
    ts2 = F.when(
        bot,
        F.expr(
            "timestamp'1995-01-01 00:00:00'"
            " + make_dt_interval(0, 0, 0, CAST(event_id % 1000 AS INT) * 60)"
        ),
    ).otherwise(F.col("ts"))
    return detect_bot_traffic(
        ev.select("user_id", ts2.alias("ts")), "user_id", "ts", min_events=10
    )
def o_bot_traffic() -> str:
    return """
            WITH e AS (
                SELECT user_id,
                       CASE WHEN user_id % 7 = 0
                            THEN TIMESTAMP '1995-01-01 00:00:00'
                                 + (event_id % 1000 * 60) * INTERVAL 1 SECOND
                            ELSE ts END AS ts
                FROM events
            ), lagged AS (
                SELECT user_id AS u, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM e
            ), gaps AS (
                SELECT u, date_diff('microsecond', prev, ts) AS gap
                FROM lagged WHERE prev IS NOT NULL
            ), pu AS (
                SELECT u, CAST(count(*) AS BIGINT) AS g,
                       SUM(CAST(gap AS HUGEINT)) AS s,
                       SUM(CAST(gap AS HUGEINT) * gap) AS ss
                FROM gaps GROUP BY u
            ), md AS (
                SELECT u, MAX(c) AS mode_c FROM (
                    SELECT u, gap, CAST(count(*) AS BIGINT) AS c
                    FROM gaps GROUP BY u, gap
                ) GROUP BY u
            ), ct AS (
                SELECT user_id AS u, CAST(count(*) AS BIGINT) AS n_events
                FROM e GROUP BY user_id
            ), sig AS (
                SELECT ct.u AS "user", ct.n_events,
                       CASE WHEN pu.g IS NOT NULL THEN
                           round(CAST(pu.s AS DOUBLE) / CAST(pu.g AS DOUBLE)
                                 / 1000.0, 3) END AS mean_gap_ms,
                       CASE WHEN pu.s > 0 THEN
                           round(sqrt(greatest(
                                     CAST(pu.g * pu.ss - pu.s * pu.s
                                          AS DOUBLE), 0.0))
                                 / CAST(pu.s AS DOUBLE) * 1000.0, 3)
                       END AS cv_milli,
                       CASE WHEN pu.g IS NOT NULL THEN
                           round(CAST(md.mode_c AS DOUBLE)
                                 / CAST(pu.g AS DOUBLE), 6) END AS repeat_share
                FROM ct
                LEFT JOIN pu ON pu.u = ct.u
                LEFT JOIN md ON md.u = ct.u
            )
            SELECT "user", n_events, mean_gap_ms, cv_milli, repeat_share,
                   COALESCE(n_events >= 10
                            AND (cv_milli < 100 OR repeat_share > 0.9),
                            false) AS is_bot
            FROM sig
        """


def q_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per day: daily distinct users over trailing-28-day
    distinct users — the day-offset-explode exact-distinct recipe of
    rolling_distinct_users (76) at two horizons, one (day,user) distinct
    each, no windowed state."""
    ev = _tables(spark, sf_dir)["events"].select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    dau = ev.distinct().groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    spread = ev.distinct().select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(27)),
                lambda i: F.timestamp_add("DAY", i, F.col("day")),
            )
        ).alias("day"),
        "user_id",
    )
    mau = (
        spread.distinct()
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, "day")
        .select(
            "day",
            "dau",
            "mau",
            (F.round(F.col("dau").cast("double") / F.col("mau"), 6) + F.lit(0.0)).alias(
                "stickiness"
            ),
        )
    )
def o_stickiness() -> str:
    return """
            WITH du AS (
                SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       user_id
                FROM events
            ), dau AS (
                SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day
            ), spread AS (
                SELECT DISTINCT day + to_days(CAST(i AS INTEGER)) AS day, user_id
                FROM du, unnest(range(0, 28)) AS u(i)
            ), mau AS (
                SELECT day, COUNT(DISTINCT user_id) AS mau FROM spread GROUP BY day
            )
            SELECT day, CAST(dau AS BIGINT) AS dau, CAST(mau AS BIGINT) AS mau,
                   round(CAST(dau AS DOUBLE) / mau, 6) + 0.0 AS stickiness
            FROM dau JOIN mau USING (day)
        """
