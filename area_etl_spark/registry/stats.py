"""Experiments and statistics: hypothesis tests, effect sizes, survival,
regression and causal estimators (``operators/experiments``,
``operators/bootstrap``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators.experiments import f_sf_paulson_sql as _f_sf_paulson_sql
from area_etl_spark.operators.experiments import normal_quantile_sql as _nq_sql
from area_etl_spark.operators.experiments import normal_sf_sql as _normal_sf_sql
from area_etl_spark.registry._common import _tables
from area_etl_spark.registry._sql import _langid_sql


def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 90% CI for the mean event value per type: 50
    deterministic md5-drawn Poisson(1) replicates, exact integer sums,
    interpolated percentile over the replicate means."""
    from area_etl_spark.operators.bootstrap import poisson_bootstrap_mean_ci

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return poisson_bootstrap_mean_ci(
        ev.repartition(spark.sparkContext.defaultParallelism, "event_id"),
        ["event_type"], "event_id", "cents", n_replicates=50,
    )
def o_bootstrap_ci() -> str:
    return """
            WITH ev AS (
                SELECT event_type, event_id,
                       CAST(round(value * 100) AS BIGINT) AS x
                FROM events
            ), reps AS (
                SELECT event_type, event_id, x, CAST(r.range AS INT) AS b
                FROM ev, range(0, 50) r
            ), hashed AS (
                SELECT event_type, x, b,
                       md5(CAST(event_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)) AS h
                FROM reps
            ), drawn AS (
                SELECT event_type, x, b,
                       ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) AS d
                FROM hashed
            ), cnt AS (
                SELECT event_type, b, x,
                       CASE WHEN d < 24109 THEN 0 WHEN d < 48218 THEN 1
                            WHEN d < 60273 THEN 2 WHEN d < 64291 THEN 3
                            WHEN d < 65296 THEN 4 WHEN d < 65497 THEN 5
                            WHEN d < 65530 THEN 6 ELSE 7 END AS c
                FROM drawn
            ), rm AS (
                SELECT event_type, b,
                       round(CAST(SUM(x * c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                           AS mean_b
                FROM cnt GROUP BY event_type, b
            ), ci AS (
                SELECT event_type,
                       round(quantile_cont(mean_b, 0.05), 6) AS ci_lo,
                       round(quantile_cont(mean_b, 0.95), 6) AS ci_hi
                FROM rm GROUP BY event_type
            ), pt AS (
                SELECT event_type,
                       round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS point_mean
                FROM ev GROUP BY event_type
            )
            SELECT pt.event_type, point_mean, ci_lo, ci_hi
            FROM pt JOIN ci USING (event_type)
        """


def q_cuped_adjustment(spark, sf_dir):
    """CUPED variance-reduced A/B means: pre-period event value as the
    covariate, experiment-period value as the metric, pooled θ from exact
    BIGINT sufficient statistics."""
    from area_etl_spark.operators.experiments import cuped_adjusted_means

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cutoff = F.lit("2024-01-15").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, F.col("cents")).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, F.col("cents")).otherwise(0)).alias("y"),
    )
    units = per_user.withColumn("variant", (F.col("user_id") % 2).cast("int"))
    return cuped_adjusted_means(units, "variant", "y", "x")
def o_cuped_adjustment() -> str:
    return """
            WITH ev AS (
                SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), pu AS (
                SELECT user_id,
                       CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                                     THEN cents ELSE 0 END) AS BIGINT) AS x,
                       CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                                     THEN cents ELSE 0 END) AS BIGINT) AS y
                FROM ev GROUP BY user_id
            ), u AS (
                SELECT x, y, CAST(user_id % 2 AS INT) AS variant FROM pu
            ), pooled AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS sx,
                       CAST(SUM(y) AS HUGEINT) AS sy,
                       CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                       CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
                FROM u
            ), sc AS (
                SELECT CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
                FROM pooled
            ), pv AS (
                SELECT variant, COUNT(*) AS n_units,
                       CAST(SUM(y) AS BIGINT) AS vy,
                       CAST(SUM(x) AS BIGINT) AS vx
                FROM u GROUP BY variant
            )
            SELECT variant, n_units,
                   round(CAST(vy AS DOUBLE) / CAST(n_units AS DOUBLE), 6)
                       AS mean_raw,
                   round((CAST(vy AS DOUBLE)
                          - theta * (CAST(vx AS DOUBLE)
                                     - CAST(n_units AS DOUBLE) * xbar))
                         / CAST(n_units AS DOUBLE), 6) AS mean_adjusted
            FROM pv, sc
        """


def q_ab_test_ztest(spark, sf_dir):
    """Two-proportion z-test (A/B evaluation): purchase-conversion rate of
    even vs odd user ids from exact counts — closed-form z from one
    aggregation, sqrt/division IEEE-exact so the statistic is
    bit-reproducible cross-engine."""
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        (F.col("user_id") % 2 == 0).alias("is_a"),
        (F.col("event_type") == "purchase").cast("long").alias("conv"),
    )
    agg = ev.groupBy().agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(~F.col("is_a"), F.col("conv")).otherwise(0)).alias("c_b"),
    )
    n_a, c_a = F.col("n_a").cast("double"), F.col("c_a").cast("double")
    n_b, c_b = F.col("n_b").cast("double"), F.col("c_b").cast("double")
    p_a, p_b = c_a / n_a, c_b / n_b
    pool = (c_a + c_b) / (n_a + n_b)
    z = (p_a - p_b) / F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n_a + F.lit(1.0) / n_b))
    return agg.select(
        "n_a", "c_a", "n_b", "c_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
    )
def o_ab_test_ztest() -> str:
    return """
            WITH agg AS (
                SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
                       CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                       CAST(SUM(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
                FROM events
            )
            SELECT n_a, c_a, n_b, c_b,
                   round(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
                   round(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
                   round((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                          - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                         / sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                                * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                                * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z_stat
            FROM agg
        """


def q_corr_exact(spark, sf_dir):
    """Pearson correlation + OLS slope of lineitem quantity vs extended
    price, from EXACT integer-cents sums — the five sufficient statistics
    aggregate commutatively as DECIMAL(38,0) (exact to 38 digits; Sxy grows
    as rows × x·y magnitude, and a BIGINT Syy already overflows at sf0.1 —
    600k rows × 10^14 — under ANSI), the closed form evaluates once in
    doubles, so the statistic is bit-identical under any partitioning and
    across engines (built-in corr() implementations use per-engine streaming
    algorithms and disagree in the last ulps).  DuckDB's SUM over BIGINT is
    HUGEINT (128-bit) — the oracle is exact the same way."""
    tables = _tables(spark, sf_dir)
    li = tables["lineitem"].select(
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    sums = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    return sums.select(
        F.col("n"),
        F.round(cov_n / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)), 6).alias("pearson_r"),
        F.round(cov_n / (n * sxx - sx * sx), 6).alias("ols_slope"),
    )
def o_corr_exact() -> str:
    return """
            WITH s AS (
                SELECT COUNT(*) AS n,
                       CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                       CAST(SUM(x * y) AS DOUBLE) AS sxy,
                       CAST(SUM(x * x) AS DOUBLE) AS sxx,
                       CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
                             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                      FROM lineitem)
            )
            SELECT n,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS pearson_r,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS ols_slope
            FROM s
        """


def q_ols_per_group(spark, sf_dir):
    """Per-group OLS (slope/intercept/R²) from exact DECIMAL(38,0)
    sufficient statistics — corr_exact generalized to grouped regression;
    one map-side-combining aggregation, closed form in doubles."""
    tables = _tables(spark, sf_dir)
    li = tables["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    slope = cov_n / var_x
    return sums.select(
        "l_returnflag",
        F.col("n"),
        F.round(slope, 6).alias("ols_slope"),
        F.round((sy - slope * sx) / n, 4).alias("ols_intercept"),
        F.round((cov_n * cov_n) / (var_x * (n * syy - sy * sy)), 6).alias("r2"),
    )
def o_ols_per_group() -> str:
    return """
            WITH s AS (
                SELECT l_returnflag, COUNT(*) AS n,
                       CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                       CAST(SUM(x * y) AS DOUBLE) AS sxy,
                       CAST(SUM(x * x) AS DOUBLE) AS sxx,
                       CAST(SUM(y * y) AS DOUBLE) AS syy
                FROM (SELECT l_returnflag,
                             CAST(round(l_quantity * 100) AS BIGINT) AS x,
                             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                      FROM lineitem)
                GROUP BY l_returnflag
            )
            SELECT l_returnflag, n,
                   round((CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS ols_slope,
                   round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                                / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                         / CAST(n AS DOUBLE), 4) AS ols_intercept,
                   round(((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
                         / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                            * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
            FROM s
        """


def q_entropy_per_user(spark, sf_dir):
    """Shannon entropy of each user's event-type mix — a float fold made
    engine-deterministic by summing terms in SORTED KEY ORDER (array_sort →
    left fold), never in shuffle order."""
    tables = _tables(spark, sf_dir)
    counts = tables["events"].groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    per_user = counts.groupBy("user_id").agg(
        F.sum("cnt").alias("total"),
        F.array_sort(F.collect_list(F.struct(F.col("event_type").alias("et"), F.col("cnt").alias("c")))).alias("_cs"),
    )
    p = lambda s: s.getField("c").cast("double") / F.col("total").cast("double")  # noqa: E731
    ent = F.aggregate(
        F.col("_cs"), F.lit(0.0), lambda acc, s: acc - p(s) * F.log2(p(s))
    )
    return per_user.select("user_id", F.col("total"), F.round(ent, 6).alias("entropy"))
def o_entropy_per_user() -> str:
    return """
            WITH counts AS (
                SELECT user_id, event_type, COUNT(*) AS cnt
                FROM events GROUP BY user_id, event_type
            ), per_user AS (
                SELECT user_id, SUM(cnt) AS total,
                       list(cnt ORDER BY event_type) AS cs
                FROM counts GROUP BY user_id
            )
            SELECT user_id, CAST(total AS BIGINT) AS total,
                   round(0.0 + list_reduce(list_transform(cs,
                             c -> -(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
                                  * log2(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))),
                         (x, y) -> x + y), 6) AS entropy
            FROM per_user
        """


def q_benford_digits(spark, sf_dir):
    """Benford's-law first-digit profile of order values — the classic
    fraud/data-entry screen: observed share per leading digit vs the
    log10(1+1/d) expectation.  Counts are exact; each digit's share and
    excess are per-row doubles (no float fold)."""
    import math as _math

    tables = _tables(spark, sf_dir)
    digit = F.substring(F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1).cast("int")
    counts = tables["orders"].select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("_total"))
    expected = F.element_at(
        F.array(*[F.lit(_math.log10(1 + 1 / d)) for d in range(1, 10)]), F.col("digit")
    )
    return (
        counts.join(F.broadcast(total))
        .select(
            "digit", "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.round(expected, 6).alias("benford_expected"),
            F.round(F.col("n") / F.col("_total") - expected, 6).alias("excess"),
        )
    )
def o_benford_digits() -> str:
    return """
            WITH counts AS (
                SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                       COUNT(*) AS n
                FROM orders GROUP BY 1
            ), t AS (SELECT SUM(n) AS total FROM counts)
            SELECT digit, CAST(n AS BIGINT) AS n,
                   round(n / CAST(t.total AS DOUBLE), 6) AS share,
                   round(log10(1 + 1.0 / digit), 6) AS benford_expected,
                   round(n / CAST(t.total AS DOUBLE) - log10(1 + 1.0 / digit), 6) AS excess
            FROM counts, t
        """


def q_chi_square(spark, sf_dir):
    """Chi-square test of independence (event_type × user cohort): the
    statistic Σ (obs−exp)²/exp folded over cells in SORTED cell order —
    exact integer counts in, one deterministic float fold out (the
    entropy_per_user discipline applied to contingency tables).  Only
    OBSERVED cells contribute (identically in both engines); with these
    margins every cell is occupied, so the statistic is the full one."""
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        F.col("event_type").alias("et"), F.pmod(F.col("user_id"), F.lit(3)).alias("cohort")
    )
    cells = ev.groupBy("et", "cohort").agg(F.count(F.lit(1)).alias("o"))
    row_t = ev.groupBy("et").agg(F.count(F.lit(1)).alias("rt"))
    col_t = ev.groupBy("cohort").agg(F.count(F.lit(1)).alias("ct"))
    n = ev.agg(F.count(F.lit(1)).alias("nn"))
    full = (
        cells.join(F.broadcast(row_t), "et")
        .join(F.broadcast(col_t), "cohort")
        .join(F.broadcast(n))
    )
    packed = full.agg(
        F.array_sort(
            F.collect_list(F.struct("et", "cohort", "o", "rt", "ct", "nn"))
        ).alias("_cells"),
        F.countDistinct("et").alias("_r"),
        F.countDistinct("cohort").alias("_c"),
    )
    def term(s):
        exp = s.getField("rt").cast("double") * s.getField("ct").cast("double") / s.getField("nn").cast("double")
        d = s.getField("o").cast("double") - exp
        return d * d / exp
    stat = F.aggregate(F.col("_cells"), F.lit(0.0), lambda acc, s: acc + term(s))
    return packed.select(
        F.round(stat, 6).alias("chi2"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("long").alias("dof"),
    )
def o_chi_square() -> str:
    return """
            WITH ev AS (
                SELECT event_type AS et, user_id % 3 AS cohort FROM events
            ), cells AS (
                SELECT et, cohort, COUNT(*) AS o FROM ev GROUP BY et, cohort
            ), rt AS (SELECT et, COUNT(*) AS rt FROM ev GROUP BY et),
            ct AS (SELECT cohort, COUNT(*) AS ct FROM ev GROUP BY cohort),
            nn AS (SELECT COUNT(*) AS nn FROM ev),
            fc AS (
                SELECT c.et, c.cohort, c.o, rt.rt, ct.ct, nn.nn
                FROM cells c JOIN rt USING (et) JOIN ct USING (cohort) CROSS JOIN nn
            ), packed AS (
                SELECT list(
                           (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
                           * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
                           / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
                           ORDER BY et, cohort) AS terms,
                       COUNT(DISTINCT et) AS r, COUNT(DISTINCT cohort) AS c
                FROM fc
            )
            SELECT round(0.0 + list_reduce(terms, (x, y) -> x + y), 6) AS chi2,
                   CAST((r - 1) * (c - 1) AS BIGINT) AS dof
            FROM packed
        """


def q_iqr_report(spark, sf_dir):
    """Per-type quartile report (p25/p50/p75 + IQR + Tukey fences) — the
    box-plot profile; exact percentile over integer cents, one aggregation."""
    tables = _tables(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    ev = tables["events"].select("event_type", cents.alias("cents"))
    q = lambda p: F.percentile(F.col("cents"), F.lit(p))  # noqa: E731
    iqr = q(0.75) - q(0.25)
    return ev.groupBy("event_type").agg(
        F.round(q(0.25), 6).alias("p25"),
        F.round(q(0.5), 6).alias("p50"),
        F.round(q(0.75), 6).alias("p75"),
        F.round(iqr, 6).alias("iqr"),
        F.round(q(0.25) - 1.5 * iqr, 6).alias("lo_fence"),
        F.round(q(0.75) + 1.5 * iqr, 6).alias("hi_fence"),
    )
def o_iqr_report() -> str:
    return """
            WITH ev AS (
                SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
            )
            SELECT event_type,
                   round(quantile_cont(cents, 0.25), 6) AS p25,
                   round(quantile_cont(cents, 0.5), 6) AS p50,
                   round(quantile_cont(cents, 0.75), 6) AS p75,
                   round(quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25), 6) AS iqr,
                   round(quantile_cont(cents, 0.25)
                         - 1.5 * (quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25)), 6) AS lo_fence,
                   round(quantile_cont(cents, 0.75)
                         + 1.5 * (quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25)), 6) AS hi_fence
            FROM ev GROUP BY event_type
        """


def q_km_survival(spark, sf_dir):
    """Kaplan-Meier time-to-conversion curve: per signup user, days to first
    purchase (right-censored at the corpus max ts); survival = ordered
    sequential product of (1 - d/n) factors — the collect-fold float recipe,
    counts exact."""
    from area_etl_spark.operators.experiments import km_survival

    ev = _tables(spark, sf_dir)["events"]
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    tmax = ev.agg(F.max("ts").alias("tmax"))
    subj = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.datediff(
                F.coalesce(F.col("t1"), F.col("tmax")).cast("date"),
                F.col("t0").cast("date"),
            ).alias("dur"),
            F.col("t1").isNotNull().alias("ev"),
        )
    )
    return km_survival(subj, "dur", "ev")
def o_km_survival() -> str:
    return """
            WITH s AS (
                SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'signup' GROUP BY user_id
            ), p AS (
                SELECT e.user_id, MIN(e.ts) AS t1
                FROM events e JOIN s USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s.t0
                GROUP BY e.user_id
            ), m AS (SELECT MAX(ts) AS tmax FROM events),
            subj AS (
                SELECT date_diff('day', CAST(s.t0 AS DATE),
                                 CAST(COALESCE(p.t1, m.tmax) AS DATE)) AS day,
                       p.t1 IS NOT NULL AS ev
                FROM s LEFT JOIN p USING (user_id), m
            ), c AS (
                SELECT day, COUNT(*) AS n_all,
                       CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events
                FROM subj GROUP BY day
            ), r AS (
                SELECT day, n_events,
                       SUM(n_all) OVER (ORDER BY day DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
                FROM c
            ), f AS (
                SELECT day, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                       1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
                FROM r WHERE n_events > 0
            )
            SELECT day, n_risk, n_events,
                   round(list_reduce(list(factor) OVER (ORDER BY day ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       (a, b) -> a * b), 6) + 0.0 AS survival
            FROM f
        """


def q_km_survival_ci(spark, sf_dir):
    """Kaplan–Meier time-to-conversion curve WITH the Greenwood variance
    and complementary log-log 95% band — same subjects as km_survival,
    both cumulative folds in ascending-day order."""
    from area_etl_spark.operators.experiments import km_survival_ci

    ev = _tables(spark, sf_dir)["events"]
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    tmax = ev.agg(F.max("ts").alias("tmax"))
    subj = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.datediff(
                F.coalesce(F.col("t1"), F.col("tmax")).cast("date"),
                F.col("t0").cast("date"),
            ).alias("dur"),
            F.col("t1").isNotNull().alias("ev"),
        )
    )
    return km_survival_ci(subj, "dur", "ev")
def o_km_survival_ci() -> str:
    return """
            WITH s AS (
                SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'signup' GROUP BY user_id
            ), p AS (
                SELECT e.user_id, MIN(e.ts) AS t1
                FROM events e JOIN s USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s.t0
                GROUP BY e.user_id
            ), m AS (SELECT MAX(ts) AS tmax FROM events),
            subj AS (
                SELECT date_diff('day', CAST(s.t0 AS DATE),
                                 CAST(COALESCE(p.t1, m.tmax) AS DATE)) AS day,
                       p.t1 IS NOT NULL AS ev
                FROM s LEFT JOIN p USING (user_id), m
            ), c AS (
                SELECT day, COUNT(*) AS n_all,
                       CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_events
                FROM subj GROUP BY day
            ), r AS (
                SELECT day, n_events,
                       SUM(n_all) OVER (ORDER BY day DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS n_risk
                FROM c
            ), f AS (
                SELECT day, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                       1.0 - CAST(n_events AS DOUBLE)
                             / CAST(n_risk AS DOUBLE) AS factor,
                       COALESCE(CASE WHEN n_risk > n_events THEN
                           CAST(n_events AS DOUBLE)
                           / (CAST(n_risk AS DOUBLE)
                              * (CAST(n_risk AS DOUBLE)
                                 - CAST(n_events AS DOUBLE))) END,
                           CAST('nan' AS DOUBLE)) AS gterm
                FROM r WHERE n_events > 0
            ), ff AS (
                SELECT day, n_risk, n_events,
                       list_reduce(list(factor) OVER win, (a, b) -> a * b)
                           AS sraw,
                       list_reduce(list(gterm) OVER win, (a, b) -> a + b)
                           AS vraw
                FROM f
                WINDOW win AS (ORDER BY day ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), gg AS (
                SELECT day, n_risk, n_events, sraw,
                       CASE WHEN NOT isnan(vraw) THEN vraw END AS v
                FROM ff
            ), hh AS (
                SELECT *,
                       CASE WHEN v IS NOT NULL AND sraw > 0 AND sraw < 1
                            THEN sqrt(v) / abs(ln(sraw)) END AS sig
                FROM gg
            )
            SELECT day, n_risk, n_events,
                   round(sraw, 6) + 0.0 AS survival,
                   round(CASE WHEN v IS NOT NULL
                        THEN sraw * sqrt(v) END, 9) AS se_greenwood,
                   round(CASE WHEN sig IS NOT NULL
                        THEN pow(sraw, exp(1.96 * sig)) END, 9) AS ci_lo,
                   round(CASE WHEN sig IS NOT NULL
                        THEN pow(sraw, exp(-1.96 * sig)) END, 9) AS ci_hi
            FROM hh
        """


def q_mann_whitney(spark, sf_dir):
    """Mann–Whitney U rank-sum test comparing purchase vs view value
    distributions — nonparametric A/B beside 74/104; midranks from
    per-distinct-value cumulative counts (bounded aggregate-level window),
    exact integer-or-half rank sums, float only in the final z.  Tie
    correction ON (VERDICT r8 item 6): integer cents tie heavily, and the
    uncorrected variance understates |z|; the Σ(t³−t) term comes from the
    same per-value aggregate as exact BIGINTs."""
    from area_etl_spark.operators.experiments import mann_whitney_u

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return mann_whitney_u(
        ev, "event_type", "cents", "purchase", "view", tie_correction=True
    )
def o_mann_whitney() -> str:
    return """
            WITH two AS (
                SELECT event_type AS g,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE event_type IN ('purchase', 'view')
            ), per_val AS (
                SELECT v, COUNT(*) AS cnt,
                       SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS cnt_a
                FROM two GROUP BY v
            ), ranked AS (
                SELECT *,
                       COALESCE(SUM(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS cum_before
                FROM per_val
            ), agg AS (
                SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                       CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
                       SUM((CAST(cum_before AS DOUBLE) + (cnt + 1) / 2.0)
                           * cnt_a) AS r_a,
                       CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
                FROM ranked
            )
            SELECT n_a, n_b,
                   r_a - (n_a * (n_a + 1)) / 2.0 AS u_a,
                   n_a * n_b - (r_a - (n_a * (n_a + 1)) / 2.0) AS u_b,
                   round((r_a - (n_a * (n_a + 1)) / 2.0 - n_a * n_b / 2.0)
                         / sqrt(n_a * n_b / 12.0
                                * ((n_a + n_b + 1)
                                   - tie3 / ((n_a + n_b) * (n_a + n_b - 1.0)))),
                         6) AS z
            FROM agg
        """


def q_standardized_rates(spark, sf_dir):
    """Direct standardization (Simpson's-paradox guard): per-mktsegment
    positive-balance rates re-weighted to the pooled nation mix — exact
    counts, one stratum-sorted float fold per group."""
    from area_etl_spark.operators.experiments import standardized_rates

    c = _tables(spark, sf_dir)["customer"].select(
        "c_mktsegment",
        "c_nationkey",
        (F.col("c_acctbal") > 0).cast("int").alias("positive"),
    )
    return standardized_rates(c, "c_mktsegment", "c_nationkey", "positive")
def o_standardized_rates() -> str:
    return """
            WITH cell AS (
                SELECT c_mktsegment, c_nationkey,
                       COUNT(*) AS n_gs,
                       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS c_gs
                FROM customer GROUP BY 1, 2
            ), w AS (
                SELECT c_nationkey, COUNT(*) AS n_s FROM customer GROUP BY 1
            ), j AS (
                SELECT cell.*, w.n_s,
                       CAST(c_gs AS DOUBLE) / n_gs * n_s AS term
                FROM cell JOIN w USING (c_nationkey)
            )
            SELECT c_mktsegment,
                   CAST(SUM(n_gs) AS BIGINT) AS n,
                   CAST(SUM(c_gs) AS BIGINT) AS n_success,
                   round(CAST(SUM(c_gs) AS DOUBLE) / SUM(n_gs), 6) + 0.0
                       AS crude_rate,
                   round(list_reduce(
                             list_prepend(0.0::DOUBLE,
                                 list(term ORDER BY c_nationkey)),
                             (a, b) -> a + b)
                         / SUM(n_s), 6) + 0.0 AS adjusted_rate
            FROM j GROUP BY c_mktsegment
        """


def q_diff_in_diff(spark, sf_dir):
    """DiD causal estimate on events: even user_ids "treated", the second
    half of the observed window "post" — four exact DECIMAL(38,0) cell
    sums in one pass, means and the interaction evaluated once in
    doubles."""
    from area_etl_spark.operators.experiments import diff_in_diff

    ev = _tables(spark, sf_dir)["events"].select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        (F.col("ts") >= F.lit("2024-02-01").cast("timestamp")).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return diff_in_diff(ev, "treat", "post", "cents")
def o_diff_in_diff() -> str:
    return """
            WITH c AS (
                SELECT (user_id % 2 = 0) AS treat,
                       (ts >= TIMESTAMP '2024-02-01') AS post,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), agg AS (
                SELECT
                    CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
                    CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
                    CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
                    CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
                    SUM(CASE WHEN treat AND post THEN cents ELSE 0 END) AS s_t_post,
                    SUM(CASE WHEN treat AND NOT post THEN cents ELSE 0 END) AS s_t_pre,
                    SUM(CASE WHEN NOT treat AND post THEN cents ELSE 0 END) AS s_c_post,
                    SUM(CASE WHEN NOT treat AND NOT post THEN cents ELSE 0 END) AS s_c_pre
                FROM c
            )
            SELECT n_t_post, n_t_pre, n_c_post, n_c_pre,
                   round(CAST(s_t_post AS DOUBLE) / n_t_post, 9) + 0.0 AS mean_t_post,
                   round(CAST(s_t_pre AS DOUBLE) / n_t_pre, 9) + 0.0 AS mean_t_pre,
                   round(CAST(s_c_post AS DOUBLE) / n_c_post, 9) + 0.0 AS mean_c_post,
                   round(CAST(s_c_pre AS DOUBLE) / n_c_pre, 9) + 0.0 AS mean_c_pre,
                   round((CAST(s_t_post AS DOUBLE) / n_t_post
                          - CAST(s_t_pre AS DOUBLE) / n_t_pre)
                         - (CAST(s_c_post AS DOUBLE) / n_c_post
                            - CAST(s_c_pre AS DOUBLE) / n_c_pre), 9) + 0.0 AS did
            FROM agg
        """


# DuckDB rendering of experiments.normal_sf_portable over abs(z) — same
# A&S 7.1.26 constants and operation order as the Spark side.
NORMAL_SF_SQL_ABS_Z = _normal_sf_sql("abs(z)")


def q_fdr_bh(spark, sf_dir):
    """Benjamini–Hochberg FDR over a 24-test family: per hour-of-day, is
    the purchase share different from the other 23 hours' pooled share?
    z from exact counts (divisions/sqrt IEEE-exact), p from the PORTABLE
    A&S 7.1.26 erfc polynomial (a defined statistic, not a libm erf), then
    the step-up adjustment via a reverse running-min window over the
    24-row family table (aggregate-level, bounded)."""
    from area_etl_spark.operators.experiments import bh_adjust, normal_sf_portable

    ev = _tables(spark, sf_dir)["events"]
    per = ev.groupBy(F.hour("ts").cast("long").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    tot = per.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    j = per.crossJoin(F.broadcast(tot))  # 1-row scalar join
    n1 = F.col("n").cast("double")
    k1 = F.col("k").cast("double")
    n2 = (F.col("nn") - F.col("n")).cast("double")
    k2 = (F.col("kk") - F.col("k")).cast("double")
    pp = F.col("kk").cast("double") / F.col("nn").cast("double")
    z = (k1 / n1 - k2 / n2) / F.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    pv = F.least(F.lit(1.0), F.lit(2.0) * normal_sf_portable(F.abs(z)))
    fam = j.select(F.col("hour"), pv.alias("p_value"))
    return bh_adjust(fam, "hour", "p_value", alpha=0.05)
def o_fdr_bh() -> str:
    return f"""
            WITH per AS (
                SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
                       COUNT(*) AS n,
                       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
                FROM events GROUP BY 1
            ), tot AS (
                SELECT SUM(n) AS nn, SUM(k) AS kk FROM per
            ), zs AS (
                SELECT hour,
                       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(kk - k AS DOUBLE) / CAST(nn - n AS DOUBLE))
                       / sqrt((CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                              * (1 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                              * (1 / CAST(n AS DOUBLE) + 1 / CAST(nn - n AS DOUBLE)))
                       AS z
                FROM per, tot
            ), ps AS (
                SELECT hour, LEAST(1.0, 2.0 * {NORMAL_SF_SQL_ABS_Z}) AS pv FROM zs
            ), ranked AS (
                SELECT hour, pv,
                       row_number() OVER (ORDER BY pv, hour) AS p_rank,
                       COUNT(*) OVER () AS m
                FROM ps
            )
            SELECT hour AS key, round(pv, 6) AS p, CAST(p_rank AS BIGINT) AS p_rank,
                   round(LEAST(1.0, MIN(pv * CAST(m AS DOUBLE) / CAST(p_rank AS DOUBLE))
                         OVER (ORDER BY pv DESC, hour DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                       AS p_adj,
                   round(LEAST(1.0, MIN(pv * CAST(m AS DOUBLE) / CAST(p_rank AS DOUBLE))
                         OVER (ORDER BY pv DESC, hour DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                       <= 0.05 AS significant
            FROM ranked
        """


def q_holm_bonferroni(spark, sf_dir):
    """Holm-Bonferroni step-down over the SAME 24-test hour-of-day family
    as q_fdr_bh - the FWER-controlling sibling (confirmatory decisions)
    beside BH's FDR control (exploratory readouts): adj = forward
    running-max of (m-rank+1)*p over the p-sorted family, uniformly more
    powerful than plain Bonferroni at the same guarantee."""
    from area_etl_spark.operators.experiments import holm_adjust, normal_sf_portable

    ev = _tables(spark, sf_dir)["events"]
    per = ev.groupBy(F.hour("ts").cast("long").alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    tot = per.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    j = per.crossJoin(F.broadcast(tot))  # 1-row scalar join
    n1 = F.col("n").cast("double")
    k1 = F.col("k").cast("double")
    n2 = (F.col("nn") - F.col("n")).cast("double")
    k2 = (F.col("kk") - F.col("k")).cast("double")
    pp = F.col("kk").cast("double") / F.col("nn").cast("double")
    z = (k1 / n1 - k2 / n2) / F.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    pv = F.least(F.lit(1.0), F.lit(2.0) * normal_sf_portable(F.abs(z)))
    fam = j.select(F.col("hour"), pv.alias("p_value"))
    return holm_adjust(fam, "hour", "p_value", alpha=0.05)
def o_holm_bonferroni() -> str:
    return f"""
            WITH per AS (
                SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
                       COUNT(*) AS n,
                       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
                FROM events GROUP BY 1
            ), tot AS (
                SELECT SUM(n) AS nn, SUM(k) AS kk FROM per
            ), zs AS (
                SELECT hour,
                       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(kk - k AS DOUBLE) / CAST(nn - n AS DOUBLE))
                       / sqrt((CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                              * (1 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
                              * (1 / CAST(n AS DOUBLE) + 1 / CAST(nn - n AS DOUBLE)))
                       AS z
                FROM per, tot
            ), ps AS (
                SELECT hour, LEAST(1.0, 2.0 * {NORMAL_SF_SQL_ABS_Z}) AS pv FROM zs
            ), ranked AS (
                SELECT hour, pv,
                       row_number() OVER (ORDER BY pv, hour) AS p_rank,
                       COUNT(*) OVER () AS m
                FROM ps
            )
            SELECT hour AS key, round(pv, 6) AS p, CAST(p_rank AS BIGINT) AS p_rank,
                   round(LEAST(1.0, MAX(pv * CAST(m + 1 - p_rank AS DOUBLE))
                         OVER (ORDER BY pv, hour
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                       AS p_adj,
                   round(LEAST(1.0, MAX(pv * CAST(m + 1 - p_rank AS DOUBLE))
                         OVER (ORDER BY pv, hour
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                       <= 0.05 AS significant
            FROM ranked
        """


def q_randomization_test(spark, sf_dir):
    """Approximate randomization test (Noreen 1989) - does URGENT-priority
    order value differ from HIGH?  199 deterministic md5 relabelings of
    order keys, one explode + one hash aggregate on perm id (never a
    per-permutation sort); p = add-one Monte-Carlo share of relabelings
    at least as extreme as the observed mean diff."""
    from area_etl_spark.operators.experiments import approx_randomization_test

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return approx_randomization_test(
        o.repartition(spark.sparkContext.defaultParallelism, "o_orderkey"),
        "o_orderkey", "o_orderpriority", "cents", "1-URGENT", "2-HIGH", n_perm=199,
    )
def o_randomization_test() -> str:
    return """
            WITH two AS (
                SELECT o_orderkey AS id,
                       (o_orderpriority = '1-URGENT') AS is_a,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            ), obs AS (
                SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
                       SUM(CASE WHEN is_a THEN v ELSE 0 END) AS sa,
                       SUM(CASE WHEN is_a THEN 0 ELSE v END) AS sb
                FROM two
            ), obs2 AS (
                SELECT n_a, n_b,
                       CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS observed_diff
                FROM obs
            ), lab AS (
                SELECT p._perm, t.v,
                       list_reduce(list_transform(range(1, 9), i ->
                           CAST(strpos('0123456789abcdef',
                                substr(md5(concat_ws(':', 'art', CAST(p._perm AS VARCHAR),
                                                     CAST(t.id AS VARCHAR))), i, 1)) - 1
                                AS BIGINT)),
                           (a, b) -> a * 16 + b)
                       * (o.n_a + o.n_b) < o.n_a * 4294967296 AS to_a
                FROM two t
                CROSS JOIN (SELECT unnest(range(1, 200)) AS _perm) p
                CROSS JOIN obs2 o
            ), per AS (
                SELECT _perm,
                       SUM(CASE WHEN to_a THEN 1 ELSE 0 END) AS pna,
                       SUM(CASE WHEN to_a THEN 0 ELSE 1 END) AS pnb,
                       SUM(CASE WHEN to_a THEN v ELSE 0 END) AS psa,
                       SUM(CASE WHEN to_a THEN 0 ELSE v END) AS psb
                FROM lab GROUP BY 1
            ), diffs AS (
                SELECT CAST(psa AS DOUBLE) / CAST(pna AS DOUBLE)
                       - CAST(psb AS DOUBLE) / CAST(pnb AS DOUBLE) AS pdiff
                FROM per WHERE pna > 0 AND pnb > 0
            ), tallied AS (
                SELECT MAX(o.n_a) AS n_a, MAX(o.n_b) AS n_b,
                       MAX(o.observed_diff) AS observed_diff,
                       CAST(COUNT(*) AS BIGINT) AS n_perms_used,
                       CAST(SUM(CASE WHEN abs(pdiff) >= abs(o.observed_diff)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
                FROM diffs CROSS JOIN obs2 o
            )
            SELECT n_a, n_b, round(observed_diff, 9) AS observed_diff,
                   n_perms_used, n_extreme,
                   round(CAST(n_extreme + 1 AS DOUBLE)
                         / CAST(n_perms_used + 1 AS DOUBLE), 9) AS p_value
            FROM tallied
        """


def q_cohen_kappa(spark, sf_dir):
    """Cohen's kappa between the language_id heuristic and the gold lang
    label — chance-corrected labeler agreement with an ALL-INTEGER core
    (kappa = (agree·n − Σ aₖbₖ) / (n² − Σ aₖbₖ), one exact division)."""
    from area_etl_spark.operators.experiments import cohen_kappa
    from area_etl_spark.operators.text_analysis import language_id

    docs = _tables(spark, sf_dir)["documents"]
    preds = docs.select(
        F.col("lang").alias("gold"), language_id(F.col("text")).alias("pred")
    )
    return cohen_kappa(preds, "gold", "pred")
def o_cohen_kappa() -> str:
    return f"""
            WITH pairs AS (
                SELECT lang AS gold, {_langid_sql("text")} AS pred FROM documents
                WHERE lang IS NOT NULL
            ), pa AS (
                SELECT gold AS g, CAST(COUNT(*) AS HUGEINT) AS na FROM pairs GROUP BY 1
            ), pb AS (
                SELECT pred AS g, CAST(COUNT(*) AS HUGEINT) AS nb FROM pairs GROUP BY 1
            ), pe AS (
                SELECT SUM(na * nb) AS pe_num FROM pa JOIN pb USING (g)
            ), c AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS HUGEINT)
                           AS agree
                FROM pairs
            )
            SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
                   round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 9) AS po,
                   round(CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE), 9) AS pe,
                   round(CAST(agree * n - pe_num AS DOUBLE)
                         / CAST(n * n - pe_num AS DOUBLE), 9) AS kappa
            FROM c, pe
        """


def q_matched_pairs(spark, sf_dir):
    """Stratified nearest-rank matching (deterministic propensity-matching
    substitute): BUILDING-segment customers paired with non-BUILDING
    controls of equal balance rank within $1000 balance buckets — the
    caliper is the bucket width, unmatched tail ranks drop."""
    from area_etl_spark.operators.experiments import rank_match

    cust = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return rank_match(cust, "treated", "bal_cents", "c_custkey", bucket_width=100000)
def o_matched_pairs() -> str:
    return """
            WITH base AS (
                SELECT c_custkey AS key,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS score,
                       (c_mktsegment = 'BUILDING') AS t
                FROM customer
            ), b2 AS (
                SELECT *, CAST(FLOOR(CAST(score AS DOUBLE) / 100000) AS BIGINT)
                           AS bucket
                FROM base
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY bucket, t
                                             ORDER BY score, key) AS pr
                FROM b2
            )
            SELECT tr.bucket, CAST(tr.pr AS BIGINT) AS pair_rank,
                   tr.key AS treated_key, tr.score AS treated_score,
                   c.key AS control_key, c.score AS control_score
            FROM r tr JOIN r c ON tr.bucket = c.bucket AND tr.pr = c.pr
                               AND tr.t AND NOT c.t
        """


def _ks_p_sql(lam: str) -> str:
    """Truncated Kolmogorov series, same 5 terms and addition order as the
    Spark fold in experiments.ks_test."""
    expr = "0.0"
    for k in range(1, 6):
        sign = "+" if k % 2 == 1 else "-"
        expr = f"({expr} {sign} exp(({-2.0 * k * k}) * {lam} * {lam}))"
    return f"LEAST(1.0, GREATEST(0.0, 2.0 * {expr}))"


def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov: purchase vs view event-value
    distributions — EXACT D from integer cumulative-count cross products,
    argmax location, and the truncated-Kolmogorov-series p (a defined
    portable statistic, 5 terms both engines)."""
    from area_etl_spark.operators.experiments import ks_test

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return ks_test(ev, "event_type", "cents", "purchase", "view")
def o_ks_test() -> str:
    return f"""
            WITH two AS (
                SELECT event_type AS g,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE event_type IN ('purchase', 'view')
            ), pv AS (
                SELECT v,
                       SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS ca,
                       SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS cb
                FROM two GROUP BY 1
            ), c AS (
                SELECT v,
                       SUM(ca) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
                       SUM(cb) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
                FROM pv
            ), t AS (
                SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
                FROM pv
            ), s AS (
                SELECT v, abs(cuma * nb - cumb * na) AS num, na, nb FROM c, t
            ), b AS (
                SELECT MAX(na) AS na, MAX(nb) AS nb, MAX(num) AS dnum,
                       (SELECT MIN(v) FROM s WHERE num = (SELECT MAX(num) FROM s))
                           AS d_at
                FROM s
            )
            SELECT na AS n_a, nb AS n_b,
                   round(CAST(dnum AS DOUBLE) / CAST(na * nb AS DOUBLE), 9) AS d,
                   d_at,
                   round({_ks_p_sql("((CAST(dnum AS DOUBLE) / CAST(na * nb AS DOUBLE)) * sqrt(CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE)))")}, 6)
                       AS p_value
            FROM b
        """


def q_stratified_ate(spark, sf_dir):
    """Post-stratification ATE of BUILDING-segment membership on customer
    order revenue, stratified by nation — bucket-level exact sums, arms
    required in every used bucket (positivity), final weighted sum folded
    in sorted bucket order."""
    from area_etl_spark.operators.experiments import stratified_ate

    tables = _tables(spark, sf_dir)
    rev = tables["orders"].groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_rev")
    )
    units = tables["customer"].join(rev, "c_custkey", "left").select(
        F.col("c_nationkey").alias("nation"),
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        F.coalesce("_rev", F.lit(0)).alias("rev_cents"),
    )
    return stratified_ate(units, "nation", "treated", "rev_cents")
def o_stratified_ate() -> str:
    return """
            WITH rev AS (
                SELECT o_custkey AS c_custkey,
                       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS r
                FROM orders GROUP BY 1
            ), units AS (
                SELECT c_nationkey AS b,
                       (c_mktsegment = 'BUILDING') AS t,
                       CAST(COALESCE(r, 0) AS HUGEINT) AS y
                FROM customer LEFT JOIN rev USING (c_custkey)
            ), per AS (
                SELECT b, COUNT(*) AS n,
                       SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
                       SUM(CASE WHEN t THEN y ELSE 0 END) AS syt,
                       SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS syc
                FROM units GROUP BY 1
            ), scored AS (
                SELECT b, n, (nt > 0 AND nt < n) AS ok,
                       CASE WHEN nt > 0 AND nt < n THEN
                           CAST(n AS DOUBLE)
                           * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                              - CAST(syc AS DOUBLE) / CAST(n - nt AS DOUBLE))
                       END AS term
                FROM per
            )
            SELECT CAST(SUM(n) AS BIGINT) AS n_units,
                   CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_buckets_used,
                   CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_excluded,
                   round(CASE WHEN SUM(CASE WHEN ok THEN n ELSE 0 END) > 0 THEN
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(term ORDER BY b) FILTER (WHERE ok)),
                           (x, y) -> x + y)
                       / CAST(SUM(CASE WHEN ok THEN n ELSE 0 END) AS DOUBLE)
                   END, 9) AS ate
            FROM scored
        """


def q_roc_auc(spark, sf_dir):
    """EXACT ROC AUC of the balance-derived propensity score against the
    placed-an-order outcome — the Mann–Whitney identity U⁺/(n⁺·n⁻) from
    midranks over distinct scores; every quantity an exact 0.5-multiple, so
    the single division is bit-reproducible."""
    from area_etl_spark.operators.experiments import roc_auc

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("score")
    )
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    units = cust.join(ordered.withColumn("_o", F.lit(1)), "c_custkey", "left").select(
        "score", F.col("_o").isNotNull().alias("placed")
    )
    return roc_auc(units, "score", "placed")
def o_roc_auc() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS score
                FROM customer
            ), units AS (
                SELECT cust.score, (o.c IS NOT NULL) AS placed
                FROM cust LEFT JOIN (SELECT DISTINCT o_custkey AS c FROM orders) o
                  ON o.c = cust.c_custkey
            ), per_val AS (
                SELECT score AS v, COUNT(*) AS cnt,
                       SUM(CASE WHEN placed THEN 1 ELSE 0 END) AS cnt_pos
                FROM units GROUP BY 1
            ), ranked AS (
                SELECT *,
                       COALESCE(SUM(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS cum_before
                FROM per_val
            ), agg AS (
                SELECT CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
                       CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
                       SUM((CAST(cum_before AS DOUBLE) + (cnt + 1) / 2.0)
                           * cnt_pos) AS r_pos
                FROM ranked
            )
            SELECT n_pos, n_neg,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                       (r_pos - (n_pos * (n_pos + 1)) / 2.0)
                       / CAST(n_pos * n_neg AS DOUBLE)
                   END, 9) AS auc
            FROM agg
        """


def q_roc_auc_quantized(spark, sf_dir):
    """roc_auc's cardinality contract exercised end-to-end (VERDICT r10
    item 3): the RAW continuous c_acctbal double is the score, and
    ``quantize=50.0`` bins it to floor(v/50)·50 BEFORE the per-value
    aggregate — the unpartitioned cumulative window then runs over
    range/50 bins instead of |distinct doubles|.  The binning is one
    divide + exact floor + one multiply, identical IEEE ops in DuckDB."""
    from area_etl_spark.operators.experiments import roc_auc

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select("c_custkey", F.col("c_acctbal").alias("score"))
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    units = cust.join(ordered.withColumn("_o", F.lit(1)), "c_custkey", "left").select(
        "score", F.col("_o").isNotNull().alias("placed")
    )
    return roc_auc(units, "score", "placed", quantize=50.0)
def o_roc_auc_quantized() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey,
                       floor(c_acctbal / 50.0e0) * 50.0e0 AS score
                FROM customer
            ), units AS (
                SELECT cust.score, (o.c IS NOT NULL) AS placed
                FROM cust LEFT JOIN (SELECT DISTINCT o_custkey AS c FROM orders) o
                  ON o.c = cust.c_custkey
            ), per_val AS (
                SELECT score AS v, COUNT(*) AS cnt,
                       SUM(CASE WHEN placed THEN 1 ELSE 0 END) AS cnt_pos
                FROM units GROUP BY 1
            ), ranked AS (
                SELECT *,
                       COALESCE(SUM(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS cum_before
                FROM per_val
            ), agg AS (
                SELECT CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
                       CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
                       SUM((CAST(cum_before AS DOUBLE) + (cnt + 1) / 2.0)
                           * cnt_pos) AS r_pos
                FROM ranked
            )
            SELECT n_pos, n_neg,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                       (r_pos - (n_pos * (n_pos + 1)) / 2.0)
                       / CAST(n_pos * n_neg AS DOUBLE)
                   END, 9) AS auc
            FROM agg
        """


def q_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel nation-adjusted odds ratio: does the BUILDING
    market segment place orders at different odds, pooling per-nation 2x2
    tables - the Simpson's-paradox-safe confounder adjustment; exact cell
    counts, one division per stratum, sorted-stratum float folds."""
    from area_etl_spark.operators.experiments import mantel_haenszel

    tables = _tables(spark, sf_dir)
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    units = tables["customer"].join(
        ordered.withColumn("_o", F.lit(1)), "c_custkey", "left"
    ).select(
        F.col("c_nationkey").alias("nation"),
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
        F.col("_o").isNotNull().alias("placed"),
    )
    return mantel_haenszel(units, "nation", "treated", "placed")
def o_mantel_haenszel() -> str:
    return """
            WITH units AS (
                SELECT c.c_nationkey AS s,
                       (c.c_mktsegment = 'BUILDING') AS t,
                       (o.ck IS NOT NULL) AS y
                FROM customer c
                LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders) o
                  ON o.ck = c.c_custkey
            ), per AS (
                SELECT s,
                       SUM(CASE WHEN t AND y THEN 1 ELSE 0 END) AS a,
                       SUM(CASE WHEN t AND NOT y THEN 1 ELSE 0 END) AS b,
                       SUM(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS c,
                       SUM(CASE WHEN NOT t AND NOT y THEN 1 ELSE 0 END) AS d,
                       COUNT(*) AS n
                FROM units GROUP BY 1
            ), terms AS (
                SELECT s, n,
                       CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE) AS num,
                       CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE) AS den
                FROM per
            ), agg AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                       CAST(SUM(n) AS BIGINT) AS n_units,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(num ORDER BY s)),
                                   (x, y) -> x + y) AS snum,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(den ORDER BY s)),
                                   (x, y) -> x + y) AS sden
                FROM terms
            )
            SELECT n_strata, n_units,
                   round(CASE WHEN sden > 0 THEN snum / sden END, 9) AS or_mh
            FROM agg
        """


# portable P(chi2_1 > x) = 2*P(Z > sqrt(x)), rendered over the UNROUNDED
# mcnemar statistic (mirrors the Spark expression order exactly)
NORMAL_SF_SQL_CHI = _normal_sf_sql(
    "sqrt(CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE))"
)


def q_mcnemar_langid(spark, sf_dir):
    """McNemar's paired test: is the TRAINED char-2-gram NB language ID
    actually different from the stopword HEURISTIC on the same held-out
    docs?  Correctness-vs-gold per doc for both raters, then the
    discordant-pair statistic - the Dietterich-recommended way to compare
    two classifiers on one sample (an unpaired z-test wastes the pairing).
    Closes VERDICT r10 item 6's eval loop driver-checkably."""
    from area_etl_spark.operators.classify import language_id_trained
    from area_etl_spark.operators.experiments import mcnemar_test
    from area_etl_spark.operators.text_analysis import language_id

    docs = _tables(spark, sf_dir)["documents"]
    seed = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    trained = language_id_trained(seed, test).select(
        "doc_id", F.col("pred").alias("_tp")
    )
    both = test.select(
        "doc_id", F.col("lang").alias("_gold"), language_id("text").alias("_hp")
    ).join(trained, "doc_id")
    pairs = both.select(
        (F.col("_hp") == F.col("_gold")).alias("h_ok"),
        (F.col("_tp") == F.col("_gold")).alias("t_ok"),
    )
    return mcnemar_test(pairs, "h_ok", "t_ok")
def o_mcnemar_langid() -> str:
    return f"""
            WITH gr AS (
                SELECT doc_id, lang,
                       regexp_replace(lower(COALESCE(text, '')), '\\s+', '_', 'g') AS c
                FROM documents
            ), train AS (
                SELECT lang, CASE WHEN len(c) >= 3
                            THEN list_transform(range(1, len(c) - 1),
                                                i -> substr(c, i, 3))
                            ELSE [c] END AS toks
                FROM gr WHERE doc_id % 2 = 0 AND lang IS NOT NULL
            ), test AS (
                SELECT doc_id, lang AS gold, CASE WHEN len(c) >= 3
                            THEN list_transform(range(1, len(c) - 1),
                                                i -> substr(c, i, 3))
                            ELSE [c] END AS toks
                FROM gr WHERE doc_id % 2 = 1
            ), tc AS (
                SELECT lang AS label, token, COUNT(*) AS cnt
                FROM (SELECT lang, unnest(toks) AS token FROM train)
                WHERE token <> '' GROUP BY 1, 2
            ), cs AS (
                SELECT lang AS label, COUNT(*) AS n_docs,
                       SUM(len(list_filter(toks, t -> t <> ''))) AS n_tokens
                FROM train GROUP BY 1
            ), tot AS (
                SELECT SUM(n_docs) AS total_docs FROM cs
            ), v AS (
                SELECT COUNT(DISTINCT token) AS vs FROM tc
            ), cls AS (
                SELECT label, n_tokens, vs,
                       ln(CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)) AS prior
                FROM cs, tot, v
            ), tf AS (
                SELECT doc_id, token, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS token FROM test)
                WHERE token <> '' GROUP BY 1, 2
            ), terms AS (
                SELECT tf.doc_id, c.label, tf.token,
                       CAST(tf.tf AS DOUBLE)
                       * ln(CAST(COALESCE(tc.cnt, 0) + 1 AS DOUBLE)
                            / CAST(c.n_tokens + c.vs AS DOUBLE)) AS term
                FROM tf CROSS JOIN cls c
                LEFT JOIN tc ON tc.label = c.label AND tc.token = tf.token
            ), folded AS (
                SELECT doc_id, label,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(term ORDER BY token)),
                                   (x, y) -> x + y) AS ll
                FROM terms GROUP BY 1, 2
            ), scored AS (
                SELECT i.doc_id, c.label, c.prior + COALESCE(f.ll, 0.0) AS score
                FROM (SELECT DISTINCT doc_id FROM test) i
                CROSS JOIN cls c
                LEFT JOIN folded f ON f.doc_id = i.doc_id AND f.label = c.label
            ), best AS (
                SELECT doc_id, label, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, label) AS rn
                FROM scored
            ), trained AS (
                SELECT b.doc_id, t.gold, b.label AS pred
                FROM best b JOIN (SELECT doc_id, gold FROM test) t USING (doc_id)
                WHERE rn = 1
            ), heur AS (
                SELECT doc_id, lang AS gold, {_langid_sql("text")} AS hpred
                FROM documents WHERE doc_id % 2 = 1
            ), pairs AS (
                SELECT (h.hpred = h.gold) AS ca, (tr.pred = tr.gold) AS cb
                FROM heur h JOIN trained tr USING (doc_id)
            ), cells AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS b,
                       CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS c
                FROM pairs
            )
            SELECT n, b, c,
                   round(CASE WHEN b + c > 0 THEN
                       CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE) END, 9)
                       AS chi2,
                   round(CASE WHEN b + c > 0 THEN 2.0 * {NORMAL_SF_SQL_CHI} END, 9)
                       AS p_value
            FROM cells
        """


def q_trend_test(spark, sf_dir):
    """Cochran-Armitage trend test: does the purchase share trend
    LINEARLY across session-hour-of-day dose levels 0..23?  Integer dose
    scores weight each level; T and the variance core are exact
    DECIMAL(38,0) integers, z divides once, p from the portable normal
    SF - the ordered-alternative power a plain chi-square (47ag) wastes."""
    from area_etl_spark.operators.experiments import cochran_armitage_trend

    ev = _tables(spark, sf_dir)["events"]
    units = ev.select(
        F.hour("ts").cast("long").alias("dose"),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return cochran_armitage_trend(units, "dose", "converted")
def o_trend_test() -> str:
    return f"""
            WITH per AS (
                SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS w,
                       CAST(COUNT(*) AS HUGEINT) AS ni,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) AS HUGEINT) AS ki
                FROM events GROUP BY 1
            ), agg AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_levels,
                       SUM(ni) AS n, SUM(ki) AS k,
                       SUM(CAST(w AS HUGEINT) * ni) AS swn,
                       SUM(CAST(w AS HUGEINT) * w * ni) AS swwn,
                       SUM(CAST(w AS HUGEINT) * ki) AS swk
                FROM per
            ), stat AS (
                SELECT n_levels, n,
                       CAST(n * swk - k * swn AS DOUBLE) AS t,
                       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       * CAST(n AS DOUBLE)
                       * CAST(n * swwn - swn * swn AS DOUBLE) AS var_t
                FROM agg
            ), zed AS (
                SELECT CAST(n AS BIGINT) AS n, n_levels,
                       CASE WHEN var_t > 0 THEN t / sqrt(var_t) END AS z
                FROM stat
            )
            SELECT n, n_levels, round(z, 9) AS z,
                   round(CASE WHEN z IS NOT NULL THEN
                       LEAST(1.0, 2.0 * {NORMAL_SF_SQL_ABS_Z}) END, 9) AS p_value
            FROM zed
        """


def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between line-item quantity and extended
    price - midranks from cumulative tie counts per DISTINCT value (never
    a row-level sort), doubled-rank sums exact in DECIMAL(38,0), one
    closed-form division."""
    from area_etl_spark.operators.experiments import spearman_corr

    li = _tables(spark, sf_dir)["lineitem"].select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return spearman_corr(li, "qty", "cents")
def o_spearman_corr() -> str:
    return """
            WITH pairs AS (
                SELECT CAST(l_quantity AS BIGINT) AS x,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
            ), px AS (
                SELECT x AS v, COUNT(*) AS cnt FROM pairs GROUP BY 1
            ), rx AS (
                SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2
                FROM px
            ), py AS (
                SELECT y AS v, COUNT(*) AS cnt FROM pairs GROUP BY 1
            ), ry AS (
                SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2
                FROM py
            ), ranked AS (
                SELECT CAST(rx.r2 AS HUGEINT) AS rx2, CAST(ry.r2 AS HUGEINT) AS ry2
                FROM pairs JOIN rx ON rx.v = pairs.x JOIN ry ON ry.v = pairs.y
            ), agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(rx2) AS sx, SUM(ry2) AS sy,
                       SUM(rx2 * ry2) AS sxy,
                       SUM(rx2 * rx2) AS sxx, SUM(ry2 * ry2) AS syy
                FROM ranked
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                       THEN CAST(n * sxy - sx * sy AS DOUBLE)
                            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                   * CAST(n * syy - sy * sy AS DOUBLE))
                   END, 9) AS rho
            FROM agg
        """


def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across the five order priorities: one-way ANOVA
    on ranks with tie correction - the k-group generalization of
    mann_whitney over the same distinct-value midrank machinery;
    Wilson-Hilferty chi-square approximation on the portable normal SF."""
    from area_etl_spark.operators.experiments import kruskal_wallis

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return kruskal_wallis(o, "o_orderpriority", "cents")
def o_kruskal_wallis() -> str:
    return f"""
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
            ), per_val AS (
                SELECT v, COUNT(*) AS cnt FROM base GROUP BY 1
            ), rv AS (
                SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2
                FROM per_val
            ), per_gv AS (
                SELECT g, v, COUNT(*) AS gvn FROM base GROUP BY 1, 2
            ), per_g AS (
                SELECT g, SUM(gvn) AS ng,
                       SUM(CAST(gvn AS HUGEINT) * rv.r2) AS rg2
                FROM per_gv JOIN rv USING (v) GROUP BY 1
            ), gagg AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(ng) AS DOUBLE) AS n,
                       CAST(SUM(ng) AS BIGINT) AS n_int,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST(rg2 * rg2 AS DOUBLE)
                                / (4.0 * CAST(ng AS DOUBLE)) ORDER BY g)),
                           (a, b) -> a + b) AS sumg
                FROM per_g
            ), ties AS (
                SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS t3
                FROM per_val
            ), hh AS (
                SELECT n_int, k,
                       CASE WHEN 1.0 - CAST(t3 AS DOUBLE) / (n * n * n - n) > 0
                            THEN (12.0 / (n * (n + 1)) * sumg - 3.0 * (n + 1))
                                 / (1.0 - CAST(t3 AS DOUBLE) / (n * n * n - n))
                       END AS h,
                       CAST(k - 1 AS DOUBLE) AS dfree
                FROM gagg CROSS JOIN ties
            ), zed AS (
                SELECT n_int, k, h,
                       (pow(h / dfree, 0.3333333333333333e0)
                        - (1.0 - 2.0 / (9.0 * dfree)))
                       / sqrt(2.0 / (9.0 * dfree)) AS z
                FROM hh
            )
            SELECT n_int AS n, k, round(h, 9) AS h,
                   round(CASE WHEN h IS NOT NULL AND k > 1 AND h > 0 THEN
                       LEAST(1.0, GREATEST(0.0,
                           CASE WHEN z >= 0 THEN {_normal_sf_sql("z")}
                                ELSE 1.0 - {_normal_sf_sql("(-z)")} END))
                       WHEN h IS NOT NULL THEN 1.0 END, 6) AS p_value
            FROM zed
        """


def q_theil_sen(spark, sf_dir):
    """Theil–Sen robust balance trend per nation (t = custkey, y = balance
    cents): median of pairwise slopes via the collect→sort→middle idiom;
    bounded groups (≤ n/25 customers per nation)."""
    from area_etl_spark.operators.experiments import theil_sen_slope

    c = _tables(spark, sf_dir)["customer"].select(
        "c_nationkey",
        F.col("c_custkey").alias("t"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("y"),
    )
    return theil_sen_slope(c, ["c_nationkey"], "t", "y")
def o_theil_sen() -> str:
    return """
            WITH c AS (
                SELECT c_nationkey, c_custkey AS t,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS y
                FROM customer
            ), pairs AS (
                SELECT a.c_nationkey,
                       CAST(b.y - a.y AS DOUBLE) / (b.t - a.t) AS s
                FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey AND a.t < b.t
            ), m AS (
                SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       round(median(s), 6) + 0.0 AS slope
                FROM pairs GROUP BY 1
            ), n AS (
                SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_points
                FROM c GROUP BY 1
            )
            SELECT n.c_nationkey, n.n_points,
                   COALESCE(m.n_pairs, 0) AS n_pairs, m.slope
            FROM n LEFT JOIN m USING (c_nationkey)
        """


def q_theil_sen_bounded(spark, sf_dir):
    """The SCALE-SAFE Theil–Sen composition docs/SCALE.md prescribes
    (VERDICT r9 item 6): pre-aggregate events to one row per
    (event_type, day) — group size is then bounded by the CALENDAR, not
    the corpus, so the O(n²/2) pairwise-slope stage is invariant as rows
    grow 100× — then take the robust daily-revenue trend per event type.
    Exact integer daily sums; slope median via the collect→sort→middle
    idiom."""
    from area_etl_spark.operators.experiments import theil_sen_slope

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("cents").alias("y"))
    return theil_sen_slope(daily, ["event_type"], "day", "y")
def o_theil_sen_bounded() -> str:
    return """
            WITH daily AS (
                SELECT event_type,
                       CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT) AS day,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
                FROM events GROUP BY 1, 2
            ), pairs AS (
                SELECT a.event_type,
                       CAST(b.y - a.y AS DOUBLE) / (b.day - a.day) AS s
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.day < b.day
            ), m AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       round(median(s), 6) + 0.0 AS slope
                FROM pairs GROUP BY 1
            ), n AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
                FROM daily GROUP BY 1
            )
            SELECT n.event_type, n.n_points,
                   COALESCE(m.n_pairs, 0) AS n_pairs, m.slope
            FROM n LEFT JOIN m USING (event_type)
        """


def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard over the same signup→purchase
    time-to-event construction as km_survival — additive hazard, ordered
    sorted-fold float sum, exact risk-set counts."""
    from area_etl_spark.operators.experiments import nelson_aalen

    ev = _tables(spark, sf_dir)["events"]
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    tmax = ev.agg(F.max("ts").alias("tmax"))
    subj = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.datediff(
                F.coalesce(F.col("t1"), F.col("tmax")).cast("date"),
                F.col("t0").cast("date"),
            ).alias("dur"),
            F.col("t1").isNotNull().alias("ev"),
        )
    )
    return nelson_aalen(subj, "dur", "ev")
def o_nelson_aalen() -> str:
    return """
            WITH s AS (
                SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'signup' GROUP BY user_id
            ), p AS (
                SELECT e.user_id, MIN(e.ts) AS t1
                FROM events e JOIN s USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s.t0
                GROUP BY e.user_id
            ), m AS (SELECT MAX(ts) AS tmax FROM events),
            subj AS (
                SELECT date_diff('day', CAST(s.t0 AS DATE),
                                 CAST(COALESCE(p.t1, m.tmax) AS DATE)) AS day,
                       p.t1 IS NOT NULL AS ev
                FROM s LEFT JOIN p USING (user_id), m
            ), c AS (
                SELECT day, COUNT(*) AS n_all,
                       CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events
                FROM subj GROUP BY day
            ), r AS (
                SELECT day, n_events,
                       SUM(n_all) OVER (ORDER BY day DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
                FROM c
            ), f AS (
                SELECT day, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                       CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS inc
                FROM r WHERE n_events > 0
            )
            SELECT day, n_risk, n_events,
                   round(list_reduce(list(inc) OVER (ORDER BY day ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       (a, b) -> a + b), 6) + 0.0 AS cum_hazard
            FROM f
        """


def _sprt_sql(p0: float = 0.45, p1: float = 0.55, alpha: float = 0.05, beta: float = 0.2) -> str:
    """Replay of sprt_decisions over events: the SAME Python-literal
    log-likelihood slopes and boundaries (repr round-trips doubles, so
    both engines walk bit-identical llr)."""
    import math

    l1, l0 = math.log(p1 / p0), math.log((1 - p1) / (1 - p0))
    up, lo = math.log((1 - beta) / alpha), math.log(beta / (1 - alpha))
    return f"""
        WITH ev AS (
            SELECT event_type, event_id AS t,
                   CAST(round(value * 100) AS BIGINT) % 2 AS y
            FROM events
        ), w AS (
            SELECT event_type,
                   CAST(COUNT(*) OVER win AS BIGINT) AS n,
                   CAST(SUM(y) OVER win AS BIGINT) AS s
            FROM ev
            WINDOW win AS (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), marked AS (
            SELECT event_type, n,
                   CASE WHEN s * {l1!r} + (n - s) * {l0!r} >= {up!r} THEN 'accept_h1'
                        WHEN s * {l1!r} + (n - s) * {l0!r} <= {lo!r} THEN 'accept_h0'
                   END AS dec
            FROM w
        ), first_cross AS (
            SELECT event_type, arg_min(dec, n) AS decision, MIN(n) AS decided_at_n
            FROM marked WHERE dec IS NOT NULL GROUP BY event_type
        ), totals AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total FROM ev GROUP BY event_type
        )
        SELECT t.event_type,
               COALESCE(f.decision, 'continue') AS decision,
               CAST(COALESCE(f.decided_at_n, 0) AS BIGINT) AS decided_at_n,
               t.n_total
        FROM totals t LEFT JOIN first_cross f USING (event_type)
    """


def q_sprt_ab(spark, sf_dir):
    """Wald SPRT per event type: is the odd-cents rate 0.55 rather than
    0.45?  Cumulative integer (n, s) walk ordered by event id; the two
    log-likelihood slopes are Python literals injected identically into
    the oracle, so llr is bit-identical per step; earliest crossing via
    struct-min argmin."""
    from area_etl_spark.operators.experiments import sprt_decisions

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type",
        F.col("event_id").alias("t"),
        (F.round(F.col("value") * 100).cast("long") % 2).alias("y"),
    )
    return sprt_decisions(ev, ["event_type"], "t", "y", p0=0.45, p1=0.55)
def o_sprt_ab() -> str:
    return _sprt_sql()


def _power_sql(z_alpha: float = 1.959963984540054, z_beta: float = 0.8416212335729143) -> str:
    p0 = "(CAST(p0_bp AS DOUBLE) / 10000.0)"
    p1 = "(CAST(p1_bp AS DOUBLE) / 10000.0)"
    pbar = f"(({p0} + {p1}) / 2.0)"
    num = (
        f"({z_alpha!r} * sqrt(2.0 * {pbar} * (1.0 - {pbar}))"
        f" + {z_beta!r} * sqrt({p0} * (1.0 - {p0}) + {p1} * (1.0 - {p1})))"
    )
    return f"""
        WITH s AS (
            SELECT n_nationkey,
                   2000 + n_nationkey * 50 AS p0_bp,
                   2300 + n_nationkey * 50 + (n_nationkey % 5) * 100 AS p1_bp
            FROM nation
        )
        SELECT n_nationkey, p0_bp, p1_bp,
               CASE WHEN {p1} <> {p0} THEN
                   CAST(ceil({num} * {num} / (({p1} - {p0}) * ({p1} - {p0}))) AS BIGINT)
               END AS n_per_arm
        FROM s
    """


def q_power_two_proportions(spark, sf_dir):
    """Sample-size table: per nation a (baseline, uplift) scenario in
    basis points → required n per arm at α=5%/80% power; closed-form
    projection with literal z constants."""
    from area_etl_spark.operators.experiments import power_two_proportions

    n = _tables(spark, sf_dir)["nation"].select(
        "n_nationkey",
        (2000 + F.col("n_nationkey") * 50).alias("p0_bp"),
        (2300 + F.col("n_nationkey") * 50 + (F.col("n_nationkey") % 5) * 100).alias(
            "p1_bp"
        ),
    )
    return power_two_proportions(n, "p0_bp", "p1_bp")
def o_power_two_proportions() -> str:
    return _power_sql()


def q_quantile_treatment_effect(spark, sf_dir):
    """Distributional A/B: purchase-vs-view value-cents quantile gaps at
    p25/p50/p75/p90 — exact type-7 quantiles via integer rank arithmetic
    and aggregate-level cum lookups, never a per-arm collect."""
    from area_etl_spark.operators.experiments import quantile_treatment_effect

    ev = _tables(spark, sf_dir)["events"].select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return quantile_treatment_effect(
        ev, "event_type", "cents", "purchase", "view", q_pcts=[25, 50, 75, 90]
    )
def o_quantile_treatment_effect() -> str:
    return """
            WITH two AS (
                SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
                FROM events WHERE event_type IN ('purchase', 'view')
            ), per_val AS (
                SELECT g, v, COUNT(*) AS cnt FROM two GROUP BY 1, 2
            ), cums AS (
                SELECT *, SUM(cnt) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM per_val
            ), ns AS (
                SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM two GROUP BY g
            ), pos AS (
                SELECT g, n, q_pct,
                       (n - 1) * q_pct // 100 + 1 AS k1,
                       LEAST((n - 1) * q_pct // 100 + 2, n) AS k2,
                       (n - 1) * q_pct % 100 AS frac
                FROM ns, (SELECT unnest([25, 50, 75, 90]) AS q_pct)
            ), ranks AS (
                SELECT g, q_pct, n, frac, k1 AS k, 1 AS which FROM pos
                UNION ALL
                SELECT g, q_pct, n, frac, k2, 2 FROM pos
            ), looked AS (
                SELECT r.g, r.q_pct, r.n, r.frac, r.which, c.v
                FROM ranks r JOIN cums c
                  ON r.g = c.g AND c.cum - c.cnt < r.k AND r.k <= c.cum
            ), per_arm AS (
                SELECT g, q_pct, MAX(n) AS n, MAX(frac) AS frac,
                       MAX(CASE WHEN which = 1 THEN v END) AS v1,
                       MAX(CASE WHEN which = 2 THEN v END) AS v2
                FROM looked GROUP BY 1, 2
            ), qv AS (
                SELECT g, q_pct, n,
                       CAST(v1 AS DOUBLE) + frac * (v2 - v1) / 100.0 AS q
                FROM per_arm
            ), piv AS (
                SELECT CAST(q_pct AS INT) AS q_pct,
                       MAX(CASE WHEN g = 'purchase' THEN n END) AS n_treat,
                       MAX(CASE WHEN g = 'view' THEN n END) AS n_control,
                       round(MAX(CASE WHEN g = 'purchase' THEN q END), 6) AS q_treat,
                       round(MAX(CASE WHEN g = 'view' THEN q END), 6) AS q_control
                FROM qv GROUP BY 1
            )
            SELECT q_pct, n_treat, n_control, q_treat, q_control,
                   round(q_treat - q_control, 6) + 0.0 AS qte
            FROM piv
        """


def q_cliff_delta(spark, sf_dir):
    """Cliff's δ / Vargha–Delaney Â between URGENT and LOW order values —
    the ordinal effect size next to mann_whitney's p: gt/lt/ties as
    exact DECIMAL dot products over one distinct-value cumulative
    window, never a pair scan."""
    from area_etl_spark.operators.experiments import cliff_delta

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return cliff_delta(o, "o_orderpriority", "cents", "1-URGENT", "5-LOW")
def o_cliff_delta() -> str:
    return """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            ), per_v AS (
                SELECT v,
                       SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS na,
                       SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS nb
                FROM base GROUP BY 1
            ), cum AS (
                SELECT v, na, nb,
                       COALESCE(SUM(nb) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS nb_lt
                FROM per_v
            ), tot AS (
                SELECT SUM(na) AS tot_a, SUM(nb) AS tot_b FROM per_v
            ), agg AS (
                SELECT MAX(tot_a) AS tot_a, MAX(tot_b) AS tot_b,
                       SUM(CAST(na AS HUGEINT) * nb_lt) AS gt,
                       SUM(CAST(na AS HUGEINT) * (tot_b - nb_lt - nb)) AS lt,
                       SUM(CAST(na AS HUGEINT) * nb) AS ties
                FROM cum CROSS JOIN tot
            )
            SELECT CAST(tot_a AS BIGINT) AS n_a,
                   CAST(tot_b AS BIGINT) AS n_b,
                   CAST(gt AS BIGINT) AS gt,
                   CAST(lt AS BIGINT) AS lt,
                   CAST(ties AS BIGINT) AS ties,
                   round(CASE WHEN CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE) > 0
                         THEN CAST(gt - lt AS DOUBLE)
                              / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE))
                         END, 9) AS cliff_d,
                   round(CASE WHEN CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE) > 0
                         THEN (CAST(gt AS DOUBLE) + CAST(ties AS DOUBLE) / 2.0)
                              / (CAST(tot_a AS DOUBLE) * CAST(tot_b AS DOUBLE))
                         END, 9) AS vd_a
            FROM agg
        """


def q_newey_west(spark, sf_dir):
    """Newey–West (HAC) standard error of the mean daily order count —
    the autocorrelation-robust CI the i.i.d. formula understates:
    exact-cleared autocovariances (the acf discipline), Bartlett weights,
    one sqrt per se."""
    from area_etl_spark.operators.experiments import newey_west_se

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "day"
        )
    ).agg(F.count(F.lit(1)).alias("v"))
    return newey_west_se(daily, "day", "v", max_lag=5)
def o_newey_west() -> str:
    return """
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS t,
                       COUNT(*) AS x
                FROM orders GROUP BY 1
            ), led AS (
                SELECT x,
                       LEAD(x, 1) OVER (ORDER BY t) AS l1,
                       LEAD(x, 2) OVER (ORDER BY t) AS l2,
                       LEAD(x, 3) OVER (ORDER BY t) AS l3,
                       LEAD(x, 4) OVER (ORDER BY t) AS l4,
                       LEAD(x, 5) OVER (ORDER BY t) AS l5
                FROM daily
            ), agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x) AS HUGEINT) AS s,
                       CAST(SUM(x * x) AS HUGEINT) AS ss,
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
                FROM led
            ), g AS (
                SELECT n,
                       CAST(n AS DOUBLE) AS nd,
                       CAST(s AS DOUBLE) AS sd,
                       CAST(n * (n * ss) - n * (s * s) AS DOUBLE) AS g0,
                       CAST(n * (n * COALESCE(cr1, 0) - s * (COALESCE(hd1, 0) + COALESCE(tl1, 0))) + (n - 1) * (s * s) AS DOUBLE) AS g1,
                       CAST(n * (n * COALESCE(cr2, 0) - s * (COALESCE(hd2, 0) + COALESCE(tl2, 0))) + (n - 2) * (s * s) AS DOUBLE) AS g2,
                       CAST(n * (n * COALESCE(cr3, 0) - s * (COALESCE(hd3, 0) + COALESCE(tl3, 0))) + (n - 3) * (s * s) AS DOUBLE) AS g3,
                       CAST(n * (n * COALESCE(cr4, 0) - s * (COALESCE(hd4, 0) + COALESCE(tl4, 0))) + (n - 4) * (s * s) AS DOUBLE) AS g4,
                       CAST(n * (n * COALESCE(cr5, 0) - s * (COALESCE(hd5, 0) + COALESCE(tl5, 0))) + (n - 5) * (s * s) AS DOUBLE) AS g5
                FROM agg
            ), v AS (
                SELECT n, nd, sd, g0,
                       g0 + 1.6666666666666667 * g1 + 1.3333333333333335 * g2
                          + 1.0 * g3 + 0.6666666666666667 * g4
                          + 0.33333333333333326 * g5 AS lrv,
                       nd * nd * nd AS n3
                FROM g
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(sd / nd, 6) AS mean,
                   round(CASE WHEN n > 5
                         THEN sqrt(GREATEST(g0 / n3, 0.0) / nd) END, 6) AS se_iid,
                   round(CASE WHEN n > 5
                         THEN sqrt(GREATEST(lrv / n3, 0.0) / nd) END, 6) AS se_nw,
                   round(CASE WHEN n > 5 AND sqrt(GREATEST(g0 / n3, 0.0) / nd) > 0
                         THEN sqrt(GREATEST(lrv / n3, 0.0) / nd)
                              / sqrt(GREATEST(g0 / n3, 0.0) / nd) END, 6) AS inflation
            FROM v
        """


def q_qini_curve(spark, sf_dir):
    """Qini uplift curve of a nation-derived targeting score on the
    positive-balance outcome under the even/odd pseudo-experiment —
    cumulative incremental responders vs proportional-control expectation
    per descending score bin, all from exact counts."""
    from area_etl_spark.operators.experiments import qini_curve

    c = _tables(spark, sf_dir)["customer"].select(
        (F.col("c_nationkey").cast("long") * 40000).alias("score"),
        (F.pmod(F.col("c_custkey"), F.lit(2)) == 1).alias("t"),
        (F.col("c_acctbal") > 0).alias("y"),
    )
    return qini_curve(c, "t", "y", "score", n_bins=10)
def o_qini_curve() -> str:
    return """
            WITH units AS (
                SELECT c_nationkey * 40000 AS score,
                       CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END AS t,
                       CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS y
                FROM customer
            ), base AS (
                SELECT 9 - LEAST(9, GREATEST(0, CAST(FLOOR(score * 10 / 1000000) AS BIGINT))) AS b,
                       t, y
                FROM units
            ), per AS (
                SELECT b, SUM(t) AS nt, SUM(1 - t) AS nc,
                       SUM(t * y) AS yt, SUM((1 - t) * y) AS yc
                FROM base GROUP BY 1
            ), cum AS (
                SELECT b,
                       SUM(nt) OVER wnd AS cnt_t, SUM(nc) OVER wnd AS cnt_c,
                       SUM(yt) OVER wnd AS res_t, SUM(yc) OVER wnd AS res_c
                FROM per
                WINDOW wnd AS (ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT CAST(b AS BIGINT) AS bin_rank,
                   CAST(cnt_t AS BIGINT) AS n_treat_cum,
                   CAST(cnt_c AS BIGINT) AS n_ctrl_cum,
                   round(CASE WHEN cnt_c > 0 THEN CAST(res_t AS DOUBLE)
                              - CAST(res_c AS DOUBLE)
                                * (CAST(cnt_t AS DOUBLE) / CAST(cnt_c AS DOUBLE))
                         END, 6) AS qini,
                   round(CASE WHEN cnt_t > 0 AND cnt_c > 0
                         THEN CAST(res_t AS DOUBLE) / CAST(cnt_t AS DOUBLE)
                              - CAST(res_c AS DOUBLE) / CAST(cnt_c AS DOUBLE)
                         END, 6) AS uplift_cum
            FROM cum
        """


def q_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal) over each user's event types — the
    many-rater reliability cohen_kappa can't express: exact per-unit
    disagreement integers, singleton units drop per the definition."""
    from area_etl_spark.operators.experiments import krippendorff_alpha

    ev = _tables(spark, sf_dir)["events"]
    return krippendorff_alpha(ev, "user_id", "event_type")
def o_krippendorff_alpha() -> str:
    return """
            WITH base AS (
                SELECT user_id AS u, CAST(event_type AS VARCHAR) AS c
                FROM events WHERE event_type IS NOT NULL
            ), cells AS (
                SELECT u, c, COUNT(*) AS o FROM base GROUP BY 1, 2
            ), units AS (
                SELECT u, SUM(o) AS m, SUM(CAST(o AS HUGEINT) * o) AS o2
                FROM cells GROUP BY 1 HAVING SUM(o) >= 2
            ), su AS (
                SELECT u, m,
                       CAST(CAST(m AS HUGEINT) * m - o2 AS DOUBLE)
                           / CAST(m - 1 AS DOUBLE) AS innr
                FROM units
            ), cums AS (
                SELECT u,
                       SUM(innr) OVER wnd AS do_num,
                       SUM(m) OVER wnd AS np,
                       COUNT(*) OVER wnd AS nu,
                       MAX(u) OVER () AS umax
                FROM su
                WINDOW wnd AS (ORDER BY u
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), lastrow AS (
                SELECT * FROM cums WHERE u = umax
            ), ncat AS (
                SELECT c, SUM(o) AS nc FROM cells JOIN units USING (u) GROUP BY 1
            ), de AS (
                SELECT SUM(CAST(nc AS HUGEINT)
                           * ((SELECT np FROM lastrow) - nc)) AS de_num
                FROM ncat
            )
            SELECT CAST(np AS BIGINT) AS n_pairable,
                   CAST(nu AS BIGINT) AS n_units,
                   round(do_num / CAST(np AS DOUBLE), 9) AS d_o,
                   round(CAST(de_num AS DOUBLE)
                         / (CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) - 1.0)), 9)
                       AS d_e,
                   round(CASE WHEN CAST(de_num AS DOUBLE)
                                   / (CAST(np AS DOUBLE)
                                      * (CAST(np AS DOUBLE) - 1.0)) > 0
                         THEN 1.0 - (do_num / CAST(np AS DOUBLE))
                              / (CAST(de_num AS DOUBLE)
                                 / (CAST(np AS DOUBLE)
                                    * (CAST(np AS DOUBLE) - 1.0))) END, 9) AS alpha
            FROM lastrow CROSS JOIN de
        """


def q_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail on the even/odd customer split
    against a 1:1 design — exact-count chi-square GOF with the p < 0.001
    industry alarm; the 2-arm case uses the exact df=1 identity, never
    the Wilson–Hilferty tail."""
    from area_etl_spark.operators.experiments import srm_check

    c = _tables(spark, sf_dir)["customer"].select(
        F.when(F.pmod(F.col("c_custkey"), F.lit(2)) == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("arm")
    )
    return srm_check(c, "arm", {"even": 1, "odd": 1})
def o_srm_check() -> str:
    return f"""
            WITH counts AS (
                SELECT CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS a,
                       COUNT(*) AS o
                FROM customer GROUP BY 1
            ), design AS (
                SELECT 'even' AS a, 1 AS w UNION ALL SELECT 'odd', 1
            ), st AS (
                SELECT COALESCE(d.a, c.a) AS a,
                       COALESCE(c.o, 0) AS o,
                       COALESCE(d.w, 0) AS w
                FROM design d FULL OUTER JOIN counts c ON d.a = c.a
                WHERE COALESCE(d.w, 0) > 0 OR COALESCE(c.o, 0) > 0
            ), tot AS (
                SELECT SUM(o) AS n FROM st
            ), terms AS (
                SELECT a, o, w, n,
                       CASE WHEN w > 0 THEN
                           (CAST(o AS DOUBLE)
                            - CAST(n AS DOUBLE) * CAST(w AS DOUBLE) / 2.0)
                           * (CAST(o AS DOUBLE)
                              - CAST(n AS DOUBLE) * CAST(w AS DOUBLE) / 2.0)
                           / (CAST(n AS DOUBLE) * CAST(w AS DOUBLE) / 2.0)
                       ELSE 0.0 END AS t
                FROM st CROSS JOIN tot
            ), packed AS (
                SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
                       SUM(CASE WHEN w = 0 AND o > 0 THEN 1 ELSE 0 END) AS bad,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(t ORDER BY a)), (x, y) -> x + y) AS chi2r
                FROM terms
            ), ch AS (
                SELECT n, k, bad,
                       CASE WHEN bad = 0 THEN chi2r END AS chi2,
                       CAST(k - 1 AS DOUBLE) AS dfree
                FROM packed
            ), zed AS (
                SELECT *,
                       (pow(chi2 / dfree, 0.3333333333333333e0)
                        - (1.0 - 2.0 / (9.0 * dfree)))
                       / sqrt(2.0 / (9.0 * dfree)) AS z
                FROM ch
            ), ps AS (
                SELECT n, k, chi2, bad,
                       CASE WHEN chi2 IS NOT NULL AND k > 1 AND chi2 > 0
                            THEN LEAST(1.0, GREATEST(0.0,
                                CASE WHEN k = 2
                                     THEN 2.0 * {_normal_sf_sql("sqrt(chi2)")}
                                     WHEN z >= 0 THEN {_normal_sf_sql("z")}
                                     ELSE 1.0 - {_normal_sf_sql("(-z)")} END))
                            WHEN chi2 IS NOT NULL THEN 1.0 END AS p
                FROM zed
            )
            SELECT n, k, round(chi2, 9) AS chi2, round(p, 6) AS p_value,
                   CASE WHEN bad > 0 THEN true ELSE p < 0.001 END AS srm_detected
            FROM ps
        """


def q_power_two_means(spark, sf_dir):
    """Sample-size planning for a two-arm balance experiment: σ̂ from the
    exact DECIMAL pilot sums, both z's from the PORTABLE Acklam inverse
    normal — n/arm to detect a $1000 shift at α=.05, power .8."""
    from area_etl_spark.operators.experiments import power_two_means

    c = _tables(spark, sf_dir)["customer"].select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal")
    )
    return power_two_means(c, "bal", delta=100_000)
def o_power_two_means() -> str:
    return f"""
            WITH base AS (
                SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v FROM customer
            ), s AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(CAST(v AS HUGEINT)) AS sv,
                       SUM(CAST(v AS HUGEINT) * v) AS qv
                FROM base
            ), c AS (
                SELECT CAST(n AS BIGINT) AS n_int, CAST(n AS DOUBLE) AS nd,
                       sqrt(GREATEST(CAST(n * qv - sv * sv AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)),
                           0.0)) AS sigma
                FROM s
            ), z AS (
                SELECT *, {_nq_sql("0.975")} AS za, {_nq_sql("0.8")} AS zp FROM c
            )
            SELECT n_int AS n_pilot,
                   round(sigma, 6) AS sigma_est,
                   round(za, 6) AS z_alpha,
                   round(zp, 6) AS z_power,
                   CASE WHEN nd > 1 THEN CAST(ceil(
                       2.0 * ((za + zp) * sigma / 100000.0)
                           * ((za + zp) * sigma / 100000.0)) AS BIGINT) END
                       AS n_per_arm
            FROM z
        """


def q_kendall_tau(spark, sf_dir):
    """Kendall's τ-b between line-item quantity and discount — C/D/ties
    from the joint frequency grid (G×G combo pairs, never an O(n²) row
    scan), exact integer products, Gamma and Somers' D from the same
    sums; the third member of the correlation family."""
    from area_etl_spark.operators.experiments import kendall_tau_b

    li = _tables(spark, sf_dir)["lineitem"].select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
    )
    return kendall_tau_b(li, "qty", "disc")
def o_kendall_tau() -> str:
    return """
            WITH base AS (
                SELECT CAST(l_quantity AS BIGINT) AS x,
                       CAST(round(l_discount * 100) AS BIGINT) AS y
                FROM lineitem
            ), grid AS (
                SELECT x, y, COUNT(*) AS c FROM base GROUP BY 1, 2
            ), ps AS (
                SELECT
                    SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                               OR (a.x > b.x AND a.y > b.y)
                        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS cc,
                    SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                               OR (a.x > b.x AND a.y < b.y)
                        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS dd
                FROM grid a JOIN grid b
                  ON (a.x < b.x) OR (a.x = b.x AND a.y < b.y)
            ), t1 AS (
                SELECT SUM((CAST(t AS HUGEINT) * (t - 1)) // 2) AS n1
                FROM (SELECT COUNT(*) AS t FROM base GROUP BY x)
            ), t2 AS (
                SELECT SUM((CAST(t AS HUGEINT) * (t - 1)) // 2) AS n2
                FROM (SELECT COUNT(*) AS t FROM base GROUP BY y)
            ), tot AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM base
            ), f AS (
                SELECT cc, dd, n1, n2, n, (n * (n - 1)) // 2 AS n0
                FROM ps, t1, t2, tot
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(cc AS BIGINT) AS concordant,
                   CAST(dd AS BIGINT) AS discordant,
                   round(CASE WHEN CAST(n0 - n1 AS DOUBLE)
                                   * CAST(n0 - n2 AS DOUBLE) > 0
                         THEN CAST(cc - dd AS DOUBLE)
                              / sqrt(CAST(n0 - n1 AS DOUBLE)
                                     * CAST(n0 - n2 AS DOUBLE)) END, 9) AS tau_b,
                   round(CASE WHEN CAST(cc + dd AS DOUBLE) > 0
                         THEN CAST(cc - dd AS DOUBLE)
                              / CAST(cc + dd AS DOUBLE) END, 9) AS gamma,
                   round(CASE WHEN CAST(n0 - n1 AS DOUBLE) > 0
                         THEN CAST(cc - dd AS DOUBLE)
                              / CAST(n0 - n1 AS DOUBLE) END, 9) AS somers_d_yx
            FROM f
        """


def q_theil_u(spark, sf_dir):
    """Theil's U(priority | status) on orders — the asymmetric nominal
    association cramers_v can't express: exact-count entropies folded in
    sorted category order."""
    from area_etl_spark.operators.experiments import theil_u

    o = _tables(spark, sf_dir)["orders"]
    return theil_u(o, "o_orderpriority", "o_orderstatus")
def o_theil_u() -> str:
    return """
            WITH base AS (
                SELECT CAST(o_orderpriority AS VARCHAR) AS a,
                       CAST(o_orderstatus AS VARCHAR) AS b
                FROM orders
                WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
            ), tot AS (
                SELECT COUNT(*) AS n FROM base
            ), ma AS (
                SELECT a, COUNT(*) AS c FROM base GROUP BY 1
            ), ha AS (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                         ORDER BY a)), (x, y) -> x + y) AS ha_neg
                FROM ma CROSS JOIN tot
            ), cells AS (
                SELECT a, b, COUNT(*) AS c FROM base GROUP BY 1, 2
            ), nb AS (
                SELECT b, COUNT(*) AS nb FROM base GROUP BY 1
            ), hab AS (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                         * ln(CAST(c AS DOUBLE) / CAST(nb AS DOUBLE))
                         ORDER BY a, b)), (x, y) -> x + y) AS hab_neg
                FROM cells JOIN nb USING (b) CROSS JOIN tot
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(-ha_neg, 9) AS h_a,
                   round(-hab_neg, 9) AS h_a_given_b,
                   round(CASE WHEN -ha_neg > 0
                         THEN (-ha_neg - (-hab_neg)) / (-ha_neg) END, 9) AS u
            FROM ha CROSS JOIN hab CROSS JOIN tot
        """


def q_ipw_ate(spark, sf_dir):
    """IPW treatment effect of BUILDING-segment membership on account
    balance, propensities from the closed-form Naive-Bayes factorization
    over two discrete covariates — exact counts in, fixed-order ln fold,
    sorted-profile contribution fold; no iterative fit anywhere."""
    from area_etl_spark.operators.experiments import ipw_ate

    c = _tables(spark, sf_dir)["customer"].select(
        (F.col("c_mktsegment") == "BUILDING").alias("t"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("y"),
        F.pmod(F.col("c_nationkey"), F.lit(5)).alias("g1"),
        F.pmod(F.col("c_custkey"), F.lit(2)).alias("g2"),
    )
    return ipw_ate(c, "t", "y", ["g1", "g2"])
def o_ipw_ate() -> str:
    return """
            WITH b AS (
                SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS y,
                       CAST(((c_nationkey % 5) + 5) % 5 AS VARCHAR) AS g1,
                       CAST(((c_custkey % 2) + 2) % 2 AS VARCHAR) AS g2
                FROM customer
            ), tot AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                       CAST(SUM(t) AS BIGINT) AS n_tr,
                       CAST((SELECT COUNT(DISTINCT g1) FROM b) AS DOUBLE) AS k1,
                       CAST((SELECT COUNT(DISTINCT g2) FROM b) AS DOUBLE) AS k2
                FROM b
            ), prof AS (
                SELECT g1, g2,
                       SUM(CAST(t * y AS HUGEINT)) AS syt,
                       SUM(CAST((1 - t) * y AS HUGEINT)) AS syc
                FROM b GROUP BY 1, 2
            ), c1 AS (
                SELECT g1, SUM(t) AS vt1, SUM(1 - t) AS vc1 FROM b GROUP BY 1
            ), c2 AS (
                SELECT g2, SUM(t) AS vt2, SUM(1 - t) AS vc2 FROM b GROUP BY 1
            ), scored AS (
                SELECT g1, g2, syt, syc,
                       GREATEST(-30.0, LEAST(30.0,
                           ln(CAST(n_tr AS DOUBLE)
                              / CAST(n_all - n_tr AS DOUBLE))
                           + (ln((CAST(vt1 AS DOUBLE) + 1.0)
                                 / (CAST(n_tr AS DOUBLE) + 1.0 * k1))
                              - ln((CAST(vc1 AS DOUBLE) + 1.0)
                                   / (CAST(n_all - n_tr AS DOUBLE) + 1.0 * k1)))
                           + (ln((CAST(vt2 AS DOUBLE) + 1.0)
                                 / (CAST(n_tr AS DOUBLE) + 1.0 * k2))
                              - ln((CAST(vc2 AS DOUBLE) + 1.0)
                                   / (CAST(n_all - n_tr AS DOUBLE) + 1.0 * k2)))
                       )) AS lo,
                       n_all, n_tr
                FROM prof JOIN c1 USING (g1) JOIN c2 USING (g2) CROSS JOIN tot
            ), contrib AS (
                SELECT g1, g2, n_all, n_tr,
                       CAST(syt AS DOUBLE) / (1.0 / (1.0 + exp(-lo)))
                       - CAST(syc AS DOUBLE)
                         / (1.0 - 1.0 / (1.0 + exp(-lo))) AS w
                FROM scored
            ), packed AS (
                SELECT MAX(n_all) AS n_all, MAX(n_tr) AS n_tr,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(w ORDER BY g1, g2)), (a, b) -> a + b) AS sumw
                FROM contrib
            ), sums AS (
                SELECT CAST(SUM(t * y) AS DOUBLE) AS st,
                       CAST(SUM((1 - t) * y) AS DOUBLE) AS sc
                FROM b
            )
            SELECT n_all AS n, n_tr AS n_treat,
                   round(st / CAST(n_tr AS DOUBLE)
                         - sc / (CAST(n_all AS DOUBLE) - CAST(n_tr AS DOUBLE)), 6)
                       AS ate_naive,
                   round(sumw / CAST(n_all AS DOUBLE), 6) AS ate_ipw
            FROM packed CROSS JOIN sums
        """


def q_fe_within(spark, sf_dir):
    """Panel fixed-effects within estimator: price-per-quantity slope
    WITHIN each supplier (supplier-level confounders cancel by
    construction) — per-entity exact DECIMAL numerators, one entity-
    ordered cumulative window carries both sums."""
    from area_etl_spark.operators.experiments import fe_within_estimator

    li = _tables(spark, sf_dir)["lineitem"].select(
        F.col("l_suppkey").alias("e"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return fe_within_estimator(li, "e", "x", "y")
def o_fe_within() -> str:
    return """
            WITH base AS (
                SELECT l_suppkey AS e, CAST(l_quantity AS BIGINT) AS x,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                FROM lineitem
            ), per_e AS (
                SELECT e, COUNT(*) AS ni,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy
                FROM base GROUP BY 1
            ), terms AS (
                SELECT e, ni,
                       CAST(ni * sxy - sx * sy AS DOUBLE)
                           / CAST(ni AS DOUBLE) AS numi,
                       CAST(ni * sxx - sx * sx AS DOUBLE)
                           / CAST(ni AS DOUBLE) AS deni
                FROM per_e
            ), summed AS (
                SELECT e,
                       SUM(numi) OVER (ORDER BY e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
                       SUM(deni) OVER (ORDER BY e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den,
                       SUM(ni) OVER (ORDER BY e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ncum,
                       COUNT(*) OVER (ORDER BY e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ecum,
                       MAX(e) OVER () AS emax
                FROM terms
            )
            SELECT CAST(ncum AS BIGINT) AS n, CAST(ecum AS BIGINT) AS n_entities,
                   round(CASE WHEN den > 0 THEN num / den END, 6) AS beta
            FROM summed WHERE e = emax
        """


def q_reg_discontinuity(spark, sf_dir):
    """Sharp regression discontinuity on the daily order-count series at
    the 1996-01-01 boundary (day 1461): local lines on each side from one
    conditional exact-DECIMAL aggregate, effect = intercept gap at the
    cutoff."""
    from area_etl_spark.operators.experiments import reg_discontinuity

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "day"
        )
    ).agg(F.count(F.lit(1)).alias("y"))
    return reg_discontinuity(daily, "day", "y", cutoff=1461, bandwidth=365)
def o_reg_discontinuity() -> str:
    return """
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS day,
                       COUNT(*) AS y
                FROM orders GROUP BY 1
            ), base AS (
                SELECT day - 1461 AS u, y FROM daily
                WHERE day >= 1461 - 365 AND day <= 1461 + 365
            ), agg AS (
                SELECT
                    SUM(CASE WHEN u < 0 THEN 1 ELSE 0 END) AS nl,
                    SUM(CASE WHEN u < 0 THEN CAST(u AS HUGEINT) END) AS sul,
                    SUM(CASE WHEN u < 0 THEN CAST(y AS HUGEINT) END) AS syl,
                    SUM(CASE WHEN u < 0 THEN CAST(u AS HUGEINT) * u END) AS suul,
                    SUM(CASE WHEN u < 0 THEN CAST(u AS HUGEINT) * y END) AS suyl,
                    SUM(CASE WHEN u >= 0 THEN 1 ELSE 0 END) AS nr,
                    SUM(CASE WHEN u >= 0 THEN CAST(u AS HUGEINT) END) AS sur,
                    SUM(CASE WHEN u >= 0 THEN CAST(y AS HUGEINT) END) AS syr,
                    SUM(CASE WHEN u >= 0 THEN CAST(u AS HUGEINT) * u END) AS suur,
                    SUM(CASE WHEN u >= 0 THEN CAST(u AS HUGEINT) * y END) AS suyr
                FROM base
            ), fits AS (
                SELECT CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
                       CASE WHEN CAST(nl * suul - sul * sul AS DOUBLE) <> 0
                            THEN CAST(syl * suul - sul * suyl AS DOUBLE)
                                 / CAST(nl * suul - sul * sul AS DOUBLE) END AS al,
                       CASE WHEN CAST(nl * suul - sul * sul AS DOUBLE) <> 0
                            THEN CAST(nl * suyl - sul * syl AS DOUBLE)
                                 / CAST(nl * suul - sul * sul AS DOUBLE) END AS bl,
                       CASE WHEN CAST(nr * suur - sur * sur AS DOUBLE) <> 0
                            THEN CAST(syr * suur - sur * suyr AS DOUBLE)
                                 / CAST(nr * suur - sur * sur AS DOUBLE) END AS ar,
                       CASE WHEN CAST(nr * suur - sur * sur AS DOUBLE) <> 0
                            THEN CAST(nr * suyr - sur * syr AS DOUBLE)
                                 / CAST(nr * suur - sur * sur AS DOUBLE) END AS br
                FROM agg
            )
            SELECT n_left, n_right,
                   round(al, 6) AS intercept_left,
                   round(ar, 6) AS intercept_right,
                   round(bl, 6) AS slope_left,
                   round(br, 6) AS slope_right,
                   round(ar - al, 6) AS effect
            FROM fits
        """


def q_granger_causality(spark, sf_dir):
    """Does yesterday's URGENT order count predict today's total order
    count beyond yesterday's total?  One-lag Granger F test with the 2×2
    normal equations solved in closed form over exact DECIMAL n-scaled
    sums — no iterative fit anywhere."""
    from area_etl_spark.operators.experiments import granger_causality_1lag

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "day"
        )
    ).agg(
        F.count(F.lit(1)).alias("y"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("x"),
    )
    return granger_causality_1lag(daily, "day", "y", "x")
def o_granger_causality() -> str:
    return f"""
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS day,
                       COUNT(*) AS y,
                       SUM(CASE WHEN o_orderpriority = '1-URGENT'
                                THEN 1 ELSE 0 END) AS x
                FROM orders GROUP BY 1
            ), lagged AS (
                SELECT y, lag(y, 1) OVER (ORDER BY day) AS y1,
                       lag(x, 1) OVER (ORDER BY day) AS x1
                FROM daily
            ), kept AS (
                SELECT y, y1, x1 FROM lagged
                WHERE y1 IS NOT NULL AND x1 IS NOT NULL
            ), sums AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(y1 AS HUGEINT)) AS s1,
                       SUM(CAST(x1 AS HUGEINT)) AS s2,
                       SUM(CAST(y AS HUGEINT) * y) AS syy0,
                       SUM(CAST(y1 AS HUGEINT) * y1) AS s11x,
                       SUM(CAST(x1 AS HUGEINT) * x1) AS s22x,
                       SUM(CAST(y1 AS HUGEINT) * y) AS s1yx,
                       SUM(CAST(x1 AS HUGEINT) * y) AS s2yx,
                       SUM(CAST(y1 AS HUGEINT) * x1) AS s12x
                FROM kept
            ), cs AS (
                SELECT CAST(n AS BIGINT) AS n_int, CAST(n AS DOUBLE) AS nd,
                       CAST(n * syy0 - sy * sy AS DOUBLE) AS syyc,
                       CAST(n * s11x - s1 * s1 AS DOUBLE) AS s11,
                       CAST(n * s22x - s2 * s2 AS DOUBLE) AS s22,
                       CAST(n * s1yx - s1 * sy AS DOUBLE) AS s1y,
                       CAST(n * s2yx - s2 * sy AS DOUBLE) AS s2y,
                       CAST(n * s12x - s1 * s2 AS DOUBLE) AS s12
                FROM sums
            ), coefs AS (
                SELECT *, s11 * s22 - s12 * s12 AS det FROM cs
            ), bc AS (
                SELECT *,
                       CASE WHEN det <> 0
                            THEN (s1y * s22 - s2y * s12) / det END AS b,
                       CASE WHEN det <> 0
                            THEN (s2y * s11 - s1y * s12) / det END AS c
                FROM coefs
            ), rs AS (
                SELECT *,
                       CASE WHEN s11 > 0 THEN syyc - s1y * s1y / s11 END AS rssr,
                       syyc - (b * s1y + c * s2y) AS rssu
                FROM bc
            ), ff AS (
                SELECT n_int, det, b, c, rssr, rssu, nd,
                       CASE WHEN det <> 0 AND rssr IS NOT NULL
                                 AND rssu > 0 AND nd > 3
                            THEN (rssr - rssu) * (nd - 3.0) / rssu END AS f
                FROM rs
            )
            SELECT n_int AS n,
                   round(CASE WHEN det <> 0 THEN b END, 6) AS coef_ylag,
                   round(CASE WHEN det <> 0 THEN c END, 6) AS coef_xlag,
                   round(f, 9) AS f_stat,
                   round(CASE WHEN f IS NOT NULL THEN LEAST(1.0,
                           2.0 * {_normal_sf_sql("sqrt(GREATEST(f, 0.0))")})
                         WHEN det <> 0 AND rssr IS NOT NULL AND rssu <= 0
                              AND nd > 3 AND rssr > 0 THEN 0.0
                         WHEN det <> 0 AND rssr IS NOT NULL AND rssu <= 0
                              AND nd > 3 THEN 1.0 END, 6) AS p_value
            FROM ff
        """


def q_logrank_test(spark, sf_dir):
    """Log-rank comparison of the time-to-first-purchase curves of odd- vs
    even-id signup users (the km_survival cohort split in two) — at-risk
    counts from one distinct-time cumulative window, E/V as ordered
    cumsums, χ²₁'s p is EXACTLY 2·Φ̄(√χ²) on the portable SF."""
    from area_etl_spark.operators.experiments import logrank_test

    ev = _tables(spark, sf_dir)["events"]
    s = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t0")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    tmax = ev.agg(F.max("ts").alias("tmax"))
    subj = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.datediff(
                F.coalesce(F.col("t1"), F.col("tmax")).cast("date"),
                F.col("t0").cast("date"),
            ).alias("dur"),
            F.col("t1").isNotNull().alias("ev"),
            F.pmod(F.col("user_id"), F.lit(2)).alias("arm"),
        )
    )
    return logrank_test(subj, F.col("arm") == 1, "dur", "ev")
def o_logrank_test() -> str:
    return f"""
            WITH s AS (
                SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'signup' GROUP BY user_id
            ), p AS (
                SELECT e.user_id, MIN(e.ts) AS t1
                FROM events e JOIN s USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s.t0
                GROUP BY e.user_id
            ), m AS (SELECT MAX(ts) AS tmax FROM events),
            subj AS (
                SELECT date_diff('day', CAST(s.t0 AS DATE),
                                 CAST(COALESCE(p.t1, m.tmax) AS DATE)) AS t,
                       CASE WHEN p.t1 IS NOT NULL THEN 1 ELSE 0 END AS e,
                       CASE WHEN s.user_id % 2 = 1 THEN 1 ELSE 0 END AS g
                FROM s LEFT JOIN p USING (user_id), m
            ), per_t AS (
                SELECT t, COUNT(*) AS cnt, SUM(g) AS cnt1,
                       SUM(e) AS d, SUM(e * g) AS d1
                FROM subj GROUP BY 1
            ), tot AS (
                SELECT SUM(cnt) AS n, SUM(cnt1) AS n1,
                       SUM(d1) AS o1, MAX(t) AS tmx
                FROM per_t
            ), st AS (
                SELECT t, d, tmx, n, n1, o1,
                       n - COALESCE(SUM(cnt) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr,
                       n1 - COALESCE(SUM(cnt1) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr1
                FROM per_t CROSS JOIN tot
            ), tm AS (
                SELECT t, tmx, n, n1, o1,
                       SUM(CASE WHEN d > 0 THEN CAST(d AS DOUBLE)
                               * (CAST(nr1 AS DOUBLE) / CAST(nr AS DOUBLE))
                           ELSE 0.0 END) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e1,
                       SUM(CASE WHEN d > 0 AND nr > 1 THEN CAST(d AS DOUBLE)
                               * (CAST(nr1 AS DOUBLE) / CAST(nr AS DOUBLE))
                               * (1.0 - CAST(nr1 AS DOUBLE) / CAST(nr AS DOUBLE))
                               * CAST(nr - d AS DOUBLE) / CAST(nr - 1 AS DOUBLE)
                           ELSE 0.0 END) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
                FROM st
            ), fin AS (
                SELECT CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n1,
                       CAST(o1 AS BIGINT) AS o1, e1,
                       CASE WHEN v > 0 THEN (CAST(o1 AS DOUBLE) - e1)
                           * (CAST(o1 AS DOUBLE) - e1) / v END AS chi2
                FROM tm WHERE t = tmx
            )
            SELECT n, n1, o1, round(e1, 6) AS e1, round(chi2, 9) AS chi2,
                   round(CASE WHEN chi2 IS NOT NULL THEN
                       LEAST(1.0, 2.0 * {_normal_sf_sql("sqrt(chi2)")}) END, 6)
                       AS p_value
            FROM fin
        """


def q_partial_corr(spark, sf_dir):
    """Partial correlation of line-item quantity and extended price with
    the discount held fixed — three pairwise Pearsons off ONE exact
    DECIMAL aggregate, the first-order recursion in one division."""
    from area_etl_spark.operators.experiments import partial_corr

    li = _tables(spark, sf_dir)["lineitem"].select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
    )
    return partial_corr(li, "qty", "cents", "disc")
def o_partial_corr() -> str:
    return """
            WITH base AS (
                SELECT CAST(l_quantity AS BIGINT) AS x,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
                       CAST(round(l_discount * 100) AS BIGINT) AS z
                FROM lineitem
            ), sums AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(z AS HUGEINT)) AS sz,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(y AS HUGEINT) * y) AS syy,
                       SUM(CAST(z AS HUGEINT) * z) AS szz,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy,
                       SUM(CAST(x AS HUGEINT) * z) AS sxz,
                       SUM(CAST(y AS HUGEINT) * z) AS syz
                FROM base
            ), rr AS (
                SELECT CAST(n AS BIGINT) AS n_int,
                       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                             AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                        * CAST(n * syy - sy * sy AS DOUBLE)) END AS rxy,
                       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                             AND CAST(n * szz - sz * sz AS DOUBLE) > 0
                            THEN CAST(n * sxz - sx * sz AS DOUBLE)
                                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                        * CAST(n * szz - sz * sz AS DOUBLE)) END AS rxz,
                       CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > 0
                             AND CAST(n * szz - sz * sz AS DOUBLE) > 0
                            THEN CAST(n * syz - sy * sz AS DOUBLE)
                                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                                        * CAST(n * szz - sz * sz AS DOUBLE)) END AS ryz
                FROM sums
            )
            SELECT n_int AS n,
                   round(rxy, 9) AS r_xy,
                   round(rxz, 9) AS r_xz,
                   round(ryz, 9) AS r_yz,
                   round(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                         THEN (rxy - rxz * ryz)
                              / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END, 9)
                       AS partial_r
            FROM rr
        """


def q_durbin_watson(spark, sf_dir):
    """Durbin–Watson autocorrelation diagnostic of the daily order-count
    trend residuals — the residuals never exist as floats (the OLS
    denominators clear to exact DECIMAL integers, and DW's ratio is
    scale-invariant, so the clearing factor cancels)."""
    from area_etl_spark.operators.experiments import durbin_watson

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "x"
        )
    ).agg(F.count(F.lit(1)).alias("y"))
    return durbin_watson(daily, "x", "y")
def o_durbin_watson() -> str:
    return """
            WITH daily AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS x,
                       COUNT(*) AS y
                FROM orders GROUP BY 1
            ), sums AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy
                FROM daily
            ), cons AS (
                SELECT n, sx, sy,
                       n * sxx - sx * sx AS dd,
                       n * sxy - sx * sy AS nb
                FROM sums
            ), staged AS (
                SELECT x, n,
                       CAST(n * dd * y - (sy * dd - nb * sx) - n * nb * x
                            AS DOUBLE) AS e,
                       CAST(dd AS DOUBLE) AS ddd,
                       CAST(nb AS DOUBLE) / CAST(dd AS DOUBLE) AS slope
                FROM daily CROSS JOIN cons
            ), lagged AS (
                SELECT x, n, ddd, slope, e,
                       lag(e, 1) OVER (ORDER BY x, e) AS ep,
                       row_number() OVER (ORDER BY x, e) AS rn
                FROM staged
            ), summed AS (
                SELECT n, rn, ddd, slope,
                       SUM(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
                           ELSE 0.0 END) OVER (ORDER BY x, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
                       SUM(e * e) OVER (ORDER BY x, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den
                FROM lagged
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(CASE WHEN ddd <> 0 THEN slope END, 9) AS slope,
                   round(CASE WHEN den > 0 AND ddd <> 0 THEN num / den END, 9) AS dw
            FROM summed WHERE rn = CAST(n AS BIGINT)
        """


def q_cochran_q(spark, sf_dir):
    """Cochran's Q across three binary checks evaluated on the SAME
    customers (positive balance / BUILDING segment / key divisible by 3)
    — mcnemar generalized to k treatments, the textbook statistic cleared
    to an all-integer ratio; Wilson–Hilferty p."""
    from area_etl_spark.operators.experiments import cochran_q

    c = _tables(spark, sf_dir)["customer"]
    long = c.select(
        F.col("c_custkey").alias("blk"),
        F.expr(
            "stack(3, 't1', c_acctbal > 0, 't2', c_mktsegment = 'BUILDING', "
            "'t3', c_custkey % 3 = 0) AS (t, s)"
        ),
    ).select("blk", "t", "s")
    return cochran_q(long, "blk", "t", "s")
def o_cochran_q() -> str:
    return f"""
            WITH long AS (
                SELECT c_custkey AS b, 't1' AS t,
                       CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS s
                FROM customer
                UNION ALL
                SELECT c_custkey, 't2',
                       CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                FROM customer
                UNION ALL
                SELECT c_custkey, 't3',
                       CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END
                FROM customer
            ), ct AS (
                SELECT t, SUM(s) AS cj FROM long GROUP BY 1
            ), cb AS (
                SELECT b, SUM(s) AS ri FROM long GROUP BY 1
            ), at2 AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS k,
                       SUM(CAST(cj AS HUGEINT)) AS n,
                       SUM(CAST(cj AS HUGEINT) * cj) AS c2
                FROM ct
            ), ab2 AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS nb,
                       SUM(CAST(ri AS HUGEINT) * ri) AS r2
                FROM cb
            ), qq AS (
                SELECT nb, CAST(k AS BIGINT) AS k,
                       CASE WHEN CAST(k * n - r2 AS DOUBLE) > 0 THEN
                           CAST((k - 1) * (k * c2 - n * n) AS DOUBLE)
                           / CAST(k * n - r2 AS DOUBLE) END AS q,
                       CAST(k - 1 AS DOUBLE) AS dfree
                FROM at2 CROSS JOIN ab2
            ), zed AS (
                SELECT nb, k, q,
                       (pow(q / dfree, 0.3333333333333333e0)
                        - (1.0 - 2.0 / (9.0 * dfree)))
                       / sqrt(2.0 / (9.0 * dfree)) AS z
                FROM qq
            )
            SELECT nb AS n_blocks, k, round(q, 9) AS q,
                   round(CASE WHEN q IS NOT NULL AND k > 1 AND q > 0 THEN
                       LEAST(1.0, GREATEST(0.0,
                           CASE WHEN z >= 0 THEN {_normal_sf_sql("z")}
                                ELSE 1.0 - {_normal_sf_sql("(-z)")} END))
                       WHEN q IS NOT NULL THEN 1.0 END, 6) AS p_value
            FROM zed
        """


def q_friedman_test(spark, sf_dir):
    """Friedman test over per-customer repeated measures — each customer's
    FIRST, LAST, and MAX order values ranked WITHIN the customer (block-
    partitioned midrank windows, never a global sort), doubled-rank sums
    exact, the tie-robust statistic in one division."""
    from area_etl_spark.operators.experiments import friedman_test

    o = _tables(spark, sf_dir)["orders"].select(
        "o_custkey", "o_orderdate", "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = o.groupBy("o_custkey").agg(
        F.min(F.struct("o_orderdate", "o_orderkey", "cents"))
        .getField("cents")
        .alias("first_c"),
        F.max(F.struct("o_orderdate", "o_orderkey", "cents"))
        .getField("cents")
        .alias("last_c"),
        F.max("cents").alias("max_c"),
    )
    long = per.select(
        F.col("o_custkey").alias("blk"),
        F.expr(
            "stack(3, 'first', first_c, 'last', last_c, 'max', max_c) AS (t, v)"
        ),
    ).select("blk", "t", "v")
    return friedman_test(long, "blk", "t", "v")
def o_friedman_test() -> str:
    return f"""
            WITH o AS (
                SELECT o_custkey AS ck, o_orderdate AS dt, o_orderkey AS okey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), per AS (
                SELECT ck,
                       first(cents ORDER BY dt, okey) AS first_c,
                       last(cents ORDER BY dt, okey) AS last_c,
                       MAX(cents) AS max_c
                FROM o GROUP BY 1
            ), long AS (
                SELECT ck AS b, 'first' AS t, first_c AS v FROM per
                UNION ALL SELECT ck, 'last', last_c FROM per
                UNION ALL SELECT ck, 'max', max_c FROM per
            ), per_bv AS (
                SELECT b, v, COUNT(*) AS cnt FROM long GROUP BY 1, 2
            ), ranked_v AS (
                SELECT b, v,
                       2 * COALESCE(SUM(cnt) OVER (PARTITION BY b ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2
                FROM per_bv
            ), ranked AS (
                SELECT long.t, r2 FROM long JOIN ranked_v USING (b, v)
            ), per_t AS (
                SELECT t, SUM(CAST(r2 AS HUGEINT)) AS rj2, COUNT(*) AS nb
                FROM ranked GROUP BY 1
            ), a2t AS (
                SELECT SUM(CAST(r2 AS HUGEINT) * r2) AS a2 FROM ranked
            ), agg AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS k,
                       CAST(MAX(nb) AS HUGEINT) AS n,
                       SUM(rj2) AS sr,
                       SUM(rj2 * rj2) AS sr2
                FROM per_t
            ), st AS (
                SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
                       CASE WHEN CAST(n * k * a2 - sr * sr AS DOUBLE) > 0 THEN
                           CAST((k - 1) * n * (k * sr2 - sr * sr) AS DOUBLE)
                           / CAST(n * k * a2 - sr * sr AS DOUBLE) END AS chi2,
                       CAST(k - 1 AS DOUBLE) AS dfree
                FROM agg CROSS JOIN a2t
            ), zed AS (
                SELECT n_blocks, k, chi2,
                       (pow(chi2 / dfree, 0.3333333333333333e0)
                        - (1.0 - 2.0 / (9.0 * dfree)))
                       / sqrt(2.0 / (9.0 * dfree)) AS z
                FROM st
            )
            SELECT n_blocks, k, round(chi2, 9) AS chi2,
                   round(CASE WHEN chi2 IS NOT NULL AND k > 1 AND chi2 > 0 THEN
                       LEAST(1.0, GREATEST(0.0,
                           CASE WHEN z >= 0 THEN {_normal_sf_sql("z")}
                                ELSE 1.0 - {_normal_sf_sql("(-z)")} END))
                       WHEN chi2 IS NOT NULL THEN 1.0 END, 6) AS p_value
            FROM zed
        """


def q_bayes_ab_beta(spark, sf_dir):
    """Exact Bayesian A/B: P(positive-balance rate of odd-key customers
    beats even-key) under Beta(1,1) priors — the Beta-Binomial identity
    evaluated with NO special functions, two ln-ratio window cumsums (the
    fisher_exact discipline twice), max-normalized exp."""
    from area_etl_spark.operators.experiments import bayes_ab_beta

    c = _tables(spark, sf_dir)["customer"].select(
        F.when(F.pmod(F.col("c_custkey"), F.lit(2)) == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        (F.col("c_acctbal") > 0).alias("positive"),
    )
    return bayes_ab_beta(c, "variant", "positive", "control", "treatment")
def o_bayes_ab_beta() -> str:
    return """
            WITH flags AS (
                SELECT CASE WHEN c_custkey % 2 = 0 THEN 'control'
                            ELSE 'treatment' END AS v,
                       CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS s
                FROM customer
            ), c AS (
                SELECT SUM(CASE WHEN v = 'control' THEN s ELSE 0 END) AS sa,
                       SUM(CASE WHEN v = 'control' THEN 1 ELSE 0 END) AS na,
                       SUM(CASE WHEN v = 'treatment' THEN s ELSE 0 END) AS sb,
                       SUM(CASE WHEN v = 'treatment' THEN 1 ELSE 0 END) AS nb
                FROM flags
            ), p AS (
                SELECT sa, na, sb, nb,
                       sa + 1 AS aa, na - sa + 1 AS ba,
                       sb + 1 AS abb, nb - sb + 1 AS bb
                FROM c
            ), gj AS (
                SELECT p.*, unnest(generate_series(0, CAST(bb - 1 AS BIGINT))) AS j FROM p
            ), l0c AS (
                SELECT j, bb,
                       SUM(ln(CAST(ba + j AS DOUBLE))
                           - ln(CAST(aa + ba + j AS DOUBLE)))
                           OVER (ORDER BY j
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
                FROM gj
            ), l0 AS (
                SELECT c AS l0 FROM l0c WHERE j = bb - 1
            ), gi AS (
                SELECT p.*, unnest(generate_series(0, CAST(abb - 1 AS BIGINT))) AS i FROM p
            ), ltc AS (
                SELECT i, abb,
                       SUM(CASE WHEN i > 0 THEN
                               ln(CAST(aa + i - 1 AS DOUBLE)
                                  * CAST(bb + i - 1 AS DOUBLE))
                               - ln(CAST(aa + ba + bb + i - 1 AS DOUBLE)
                                    * CAST(i AS DOUBLE))
                           ELSE 0.0 END)
                           OVER (ORDER BY i
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
                FROM gi
            ), mx AS (
                SELECT MAX(lt) AS m FROM ltc
            ), sm AS (
                SELECT i, abb,
                       SUM(exp(lt - m)) OVER (ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
                       m
                FROM ltc CROSS JOIN mx
            )
            SELECT CAST((SELECT sa FROM c) AS BIGINT) AS successes_a,
                   CAST((SELECT na FROM c) AS BIGINT) AS trials_a,
                   CAST((SELECT sb FROM c) AS BIGINT) AS successes_b,
                   CAST((SELECT nb FROM c) AS BIGINT) AS trials_b,
                   round(LEAST(1.0, exp((SELECT l0 FROM l0) + m + ln(s))), 6)
                       AS prob_b_beats_a
            FROM sm WHERE i = abb - 1
        """


def q_ransac_line(spark, sf_dir):
    """Deterministic RANSAC line fit over the daily order-count series —
    candidate pairs are the smallest-md5 sample points (seeded, engine-
    portable), the inlier test is all-integer cross-multiplication, the
    winner emits slope/intercept in one exact division each."""
    from area_etl_spark.operators.experiments import ransac_line

    o = _tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "x"
        )
    ).agg(F.count(F.lit(1)).alias("y"))
    return ransac_line(daily, "x", "y", eps=20, n_candidates=16, seed="ransac")
def o_ransac_line() -> str:
    return """
            WITH pts AS (
                SELECT date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS x,
                       COUNT(*) AS y
                FROM orders GROUP BY 1
            ), d AS (
                SELECT DISTINCT x, y FROM pts
            ), s AS (
                SELECT x, y,
                       md5('ransac:' || CAST(x AS VARCHAR) || ':'
                           || CAST(y AS VARCHAR)) AS h
                FROM d ORDER BY h, x, y LIMIT 32
            ), r AS (
                SELECT x, y, ROW_NUMBER() OVER (ORDER BY h, x, y) AS rn FROM s
            ), a AS (
                SELECT CAST((rn + 1) / 2 AS BIGINT) AS cand_id,
                       x AS x1, y AS y1 FROM r WHERE rn % 2 = 1
            ), b AS (
                SELECT CAST(rn / 2 AS BIGINT) AS cand_id,
                       x AS x2, y AS y2 FROM r WHERE rn % 2 = 0
            ), cands AS (
                SELECT a.cand_id, x1, y1, x2, y2
                FROM a JOIN b USING (cand_id) WHERE x1 <> x2
            ), sc AS (
                SELECT cand_id, x1, y1, x2, y2,
                       SUM(CASE WHEN abs(p.y * (x2 - x1) - y1 * (x2 - x1)
                                         - (y2 - y1) * (p.x - x1))
                                     <= 20 * abs(x2 - x1)
                                THEN 1 ELSE 0 END) AS inl,
                       COUNT(*) AS npts
                FROM pts p CROSS JOIN cands
                GROUP BY 1, 2, 3, 4, 5
            ), best AS (
                SELECT * FROM sc ORDER BY inl DESC, cand_id LIMIT 1
            )
            SELECT round(CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE), 6)
                       AS slope,
                   round(CAST(y1 * (x2 - x1) - (y2 - y1) * x1 AS DOUBLE)
                         / CAST(x2 - x1 AS DOUBLE), 6) AS intercept,
                   CAST(inl AS BIGINT) AS n_inliers,
                   CAST(npts AS BIGINT) AS n_points,
                   cand_id
            FROM best
        """


def q_siegel_slope(spark, sf_dir):
    """Siegel repeated-median trend of monthly revenue — the 50%-breakdown
    robust line beside theil_sen; every median exact via sorted arrays,
    every slope one IEEE division of exact integers."""
    from area_etl_spark.operators.experiments import siegel_slope

    ser = (
        _tables(spark, sf_dir)["orders"]
        .groupBy(
            (
                F.year(F.col("o_orderdate").cast("date")) * 12
                + F.month(F.col("o_orderdate").cast("date"))
            ).alias("t")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y"))
    )
    return siegel_slope(ser, "t", "y")
def o_siegel_slope() -> str:
    return """
            WITH ser AS (
                SELECT year(CAST(o_orderdate AS DATE)) * 12
                       + month(CAST(o_orderdate AS DATE)) AS t,
                       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
                FROM orders GROUP BY 1
            ), sl AS (
                SELECT a.t AS ta, a.y AS ya,
                       CAST(b.y - a.y AS DOUBLE)
                       / CAST(b.t - a.t AS DOUBLE) AS s
                FROM ser a JOIN ser b ON a.t <> b.t
            ), pp AS (
                SELECT ta, ya, list_sort(list(s)) AS ss, COUNT(*) AS k
                FROM sl GROUP BY 1, 2
            ), pm AS (
                SELECT ta, ya,
                       CASE WHEN k % 2 = 1
                            THEN CAST(ss[CAST((k + 1) // 2 AS BIGINT)] AS DOUBLE)
                            WHEN k > 0 THEN
                                (CAST(ss[CAST(k // 2 AS BIGINT)] AS DOUBLE)
                                 + CAST(ss[CAST(k // 2 + 1 AS BIGINT)] AS DOUBLE))
                                / 2.0 END AS m
                FROM pp
            ), tp AS (
                SELECT COUNT(*) AS n_points, list_sort(list(m)) AS ms FROM pm
            ), sv AS (
                SELECT n_points,
                       CASE WHEN n_points % 2 = 1
                            THEN CAST(ms[CAST((n_points + 1) // 2 AS BIGINT)]
                                      AS DOUBLE)
                            WHEN n_points > 0 THEN
                                (CAST(ms[CAST(n_points // 2 AS BIGINT)] AS DOUBLE)
                                 + CAST(ms[CAST(n_points // 2 + 1 AS BIGINT)]
                                        AS DOUBLE)) / 2.0 END AS slope
                FROM tp
            ), wb AS (
                SELECT n_points, slope,
                       CAST(ya AS DOUBLE) - slope * CAST(ta AS DOUBLE) AS r
                FROM pm CROSS JOIN sv
            ), ob AS (
                SELECT n_points, slope, list_sort(list(r)) AS rs, COUNT(*) AS k
                FROM wb GROUP BY 1, 2
            )
            SELECT CAST(n_points AS BIGINT) AS n_points,
                   round(slope, 9) AS slope,
                   round(CASE WHEN k % 2 = 1
                        THEN CAST(rs[CAST((k + 1) // 2 AS BIGINT)] AS DOUBLE)
                        WHEN k > 0 THEN
                            (CAST(rs[CAST(k // 2 AS BIGINT)] AS DOUBLE)
                             + CAST(rs[CAST(k // 2 + 1 AS BIGINT)] AS DOUBLE))
                            / 2.0 END, 9) AS intercept
            FROM ob
        """


def q_twfe_estimator(spark, sf_dir):
    """Two-way fixed-effects slope of revenue on order count over the
    balanced (market segment × order year) panel — the double-demeaning
    cleared to exact DECIMAL integers by the N = U·T multiplication."""
    from area_etl_spark.operators.experiments import twfe_estimator

    t = _tables(spark, sf_dir)
    panel = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            F.lit(1).alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        )
    )
    return twfe_estimator(panel, "seg", "yr", "x", "y")
def o_twfe_estimator() -> str:
    return """
            WITH cellr AS (
                SELECT c.c_mktsegment AS u,
                       year(CAST(o_orderdate AS DATE)) AS t,
                       1 AS x,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS y
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ), cell AS (
                SELECT u, t, SUM(CAST(x AS HUGEINT)) AS x,
                       SUM(CAST(y AS HUGEINT)) AS y
                FROM cellr GROUP BY 1, 2
            ), pu AS (
                SELECT u, SUM(x) AS sxu, SUM(y) AS syu, COUNT(*) AS tu
                FROM cell GROUP BY 1
            ), pt AS (
                SELECT t, SUM(x) AS sxt, SUM(y) AS syt FROM cell GROUP BY 1
            ), tot AS (
                SELECT COUNT(*) AS n, COUNT(DISTINCT u) AS uu,
                       COUNT(DISTINCT t) AS tcnt,
                       SUM(x) AS sx, SUM(y) AS sy
                FROM cell
            ), balu AS (
                SELECT MIN(CASE WHEN tu = tcnt THEN 1 ELSE 0 END) AS bal_u
                FROM pu CROSS JOIN tot
            ), j AS (
                SELECT n, uu, tcnt, bal_u,
                       CAST(n AS HUGEINT) * cell.x - CAST(uu AS HUGEINT) * sxu
                           - CAST(tcnt AS HUGEINT) * sxt + sx AS nx,
                       CAST(n AS HUGEINT) * cell.y - CAST(uu AS HUGEINT) * syu
                           - CAST(tcnt AS HUGEINT) * syt + sy AS ny
                FROM cell JOIN pu USING (u) JOIN pt USING (t)
                CROSS JOIN tot CROSS JOIN balu
            ), ag AS (
                SELECT MAX(n) AS n, MAX(uu) AS uu, MAX(tcnt) AS tcnt,
                       MAX(bal_u) AS bal_u,
                       SUM(nx * ny) AS sxy, SUM(nx * nx) AS sxx
                FROM j
            )
            SELECT CAST(n AS BIGINT) AS n_cells,
                   CAST(uu AS BIGINT) AS n_units,
                   CAST(tcnt AS BIGINT) AS n_times,
                   (n = uu * tcnt AND bal_u = 1) AS balanced,
                   round(CASE WHEN n = uu * tcnt AND bal_u = 1
                              AND CAST(sxx AS DOUBLE) > 0
                         THEN CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE)
                   END, 6) AS beta
            FROM ag
        """


def q_anderson_darling(spark, sf_dir):
    """Anderson–Darling normality of customer balance cents (case 3,
    Stephens correction + critical values) — the EDF companion to
    jarque_bera, portable Φ on both tails, rank-ordered fold."""
    from area_etl_spark.operators.experiments import anderson_darling

    c = _tables(spark, sf_dir)["customer"].select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    return anderson_darling(c, "cents")
def o_anderson_darling() -> str:
    return f"""
            WITH base AS (
                SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS x
                FROM customer WHERE c_acctbal IS NOT NULL
            ), sums AS (
                SELECT COUNT(*) AS n,
                       SUM(CAST(x AS HUGEINT)) AS s,
                       SUM(CAST(x AS HUGEINT) * x) AS q
                FROM base
            ), st AS (
                SELECT n,
                       sqrt(GREATEST(CAST(n * q - s * s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)),
                           0.0)) AS sig,
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu
                FROM sums
            ), zz AS (
                SELECT n, sig,
                       CASE WHEN sig > 0
                            THEN (CAST(x AS DOUBLE) - mu) / sig END AS z,
                       row_number() OVER (ORDER BY x) AS i
                FROM base CROSS JOIN st
            ), tt AS (
                SELECT n, sig, i,
                       CAST(2 * i - 1 AS DOUBLE)
                           * ln(1.0 - (CASE WHEN z >= 0
                                 THEN {_normal_sf_sql("z")}
                                 ELSE 1.0 - {_normal_sf_sql("(-z)")} END))
                       + CAST(2 * (n - i) + 1 AS DOUBLE)
                           * ln(CASE WHEN z >= 0
                                 THEN {_normal_sf_sql("z")}
                                 ELSE 1.0 - {_normal_sf_sql("(-z)")} END)
                           AS t
                FROM zz
            ), fold AS (
                SELECT MAX(n) AS n, MIN(sig) AS sig,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(t ORDER BY i)), (a, b) -> a + b) AS su
                FROM tt
            ), aa AS (
                SELECT n, sig,
                       CASE WHEN n >= 8 AND sig > 0 THEN
                           -CAST(n AS DOUBLE) - su / CAST(n AS DOUBLE)
                       END AS a2
                FROM fold
            ), bb AS (
                SELECT n, a2,
                       a2 * (1.0 + 0.75 / CAST(n AS DOUBLE)
                             + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                           AS a2s
                FROM aa
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(a2, 9) AS a2,
                   round(a2s, 9) AS a2_star,
                   CASE WHEN a2s IS NOT NULL THEN a2s > 0.656 END
                       AS reject_10pct,
                   CASE WHEN a2s IS NOT NULL THEN a2s > 0.787 END
                       AS reject_5pct,
                   CASE WHEN a2s IS NOT NULL THEN a2s > 1.092 END
                       AS reject_1pct
            FROM bb
        """


def q_anova_oneway(spark, sf_dir):
    """One-way ANOVA F across the five order priorities — the parametric
    complement of kruskal_wallis on the same grouping: exact DECIMAL
    per-group sums, SSB folded in sorted group order, p from the Paulson
    (1942) two-Wilson-Hilferty F approximation on the portable normal SF."""
    from area_etl_spark.operators.experiments import anova_oneway

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return anova_oneway(o, "o_orderpriority", "cents")
def o_anova_oneway() -> str:
    return f"""
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
            ), per_g AS (
                SELECT g, COUNT(*) AS ng,
                       SUM(CAST(v AS HUGEINT)) AS sg,
                       SUM(CAST(v AS HUGEINT) * v) AS qg
                FROM base GROUP BY 1
            ), packed AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(ng) AS BIGINT) AS n_int,
                       CAST(SUM(sg) AS DOUBLE) AS s,
                       CAST(SUM(qg) AS DOUBLE) AS q,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                                / CAST(ng AS DOUBLE) ORDER BY g)),
                           (a, b) -> a + b) AS sumg
                FROM per_g
            ), stats AS (
                SELECT n_int, k, CAST(n_int AS DOUBLE) AS n,
                       CAST(k AS DOUBLE) AS kk,
                       sumg - s * s / CAST(n_int AS DOUBLE) AS ssb,
                       q - sumg AS ssw
                FROM packed
            ), fs AS (
                SELECT n_int, k,
                       CASE WHEN kk - 1.0 > 0 AND n - kk > 0 AND ssw > 0
                            THEN (ssb / (kk - 1.0)) / (ssw / (n - kk)) END AS f,
                       kk - 1.0 AS d1, n - kk AS d2
                FROM stats
            )
            SELECT n_int AS n, k, round(f, 9) AS f_stat,
                   round(LEAST(1.0, GREATEST(0.0,
                       CASE WHEN f IS NOT NULL AND f > 0
                            THEN {_f_sf_paulson_sql("f", "d1", "d2")}
                            WHEN f IS NOT NULL THEN 1.0 END)), 6) AS p_value
            FROM fs
        """


def q_levene_test(spark, sf_dir):
    """Levene's homogeneity-of-variances gate in front of that ANOVA —
    |v − mean_g| never materializes as a float: the deviation numerator
    |n_g·v − S_g| stays an exact DECIMAL and every ANOVA-on-z sum is a
    rational with a per-group integer denominator."""
    from area_etl_spark.operators.experiments import levene_test

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return levene_test(o, "o_orderpriority", "cents")
def o_levene_test() -> str:
    return f"""
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
            ), sums AS (
                SELECT g, COUNT(*) AS ng, SUM(CAST(v AS HUGEINT)) AS sg
                FROM base GROUP BY 1
            ), wrows AS (
                SELECT base.g AS g, ng,
                       abs(CAST(ng AS HUGEINT) * v - sg) AS w
                FROM base JOIN sums ON base.g = sums.g
            ), per_g AS (
                SELECT g, MAX(ng) AS ng, SUM(w) AS w1, SUM(w * w) AS w2
                FROM wrows GROUP BY 1
            ), terms AS (
                SELECT g, ng,
                       CAST(w1 AS DOUBLE) / CAST(ng AS DOUBLE) AS sz,
                       (CAST(w1 AS DOUBLE) / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)))
                       * (CAST(w1 AS DOUBLE) / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)))
                       * CAST(ng AS DOUBLE) AS sb,
                       (CAST(w2 AS DOUBLE)
                        - CAST(w1 AS DOUBLE) * CAST(w1 AS DOUBLE) / CAST(ng AS DOUBLE))
                       / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)) AS sw
                FROM per_g
            ), packed AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(ng) AS BIGINT) AS n_int,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(sz ORDER BY g)), (a, b) -> a + b) AS szs,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(sb ORDER BY g)), (a, b) -> a + b) AS sbs,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(sw ORDER BY g)), (a, b) -> a + b) AS sws
                FROM terms
            ), stats AS (
                SELECT n_int, k, CAST(n_int AS DOUBLE) AS n,
                       CAST(k AS DOUBLE) AS kk,
                       sbs - CAST(n_int AS DOUBLE) * (szs / CAST(n_int AS DOUBLE))
                           * (szs / CAST(n_int AS DOUBLE)) AS ssb,
                       sws AS ssw
                FROM packed
            ), fs AS (
                SELECT n_int, k,
                       CASE WHEN kk - 1.0 > 0 AND n - kk > 0 AND ssw > 0
                            THEN (ssb / (kk - 1.0)) / (ssw / (n - kk)) END AS f,
                       kk - 1.0 AS d1, n - kk AS d2
                FROM stats
            )
            SELECT n_int AS n, k, round(f, 9) AS w_stat,
                   round(LEAST(1.0, GREATEST(0.0,
                       CASE WHEN f IS NOT NULL AND f > 0
                            THEN {_f_sf_paulson_sql("f", "d1", "d2")}
                            WHEN f IS NOT NULL THEN 1.0 END)), 6) AS p_value
            FROM fs
        """


def q_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank on paired pre/post data: each customer's FIRST
    vs LAST order value (deterministic struct-min/max by (date, orderkey)).
    Zero differences Pratt-drop, |d| midranks from the distinct-value
    cumulative window, doubled-rank sums exact in DECIMAL(38,0)."""
    from area_etl_spark.operators.experiments import wilcoxon_signed_rank

    o = _tables(spark, sf_dir)["orders"].select(
        "o_custkey", "o_orderdate", "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pairs = o.groupBy("o_custkey").agg(
        F.min(F.struct("o_orderdate", "o_orderkey", "cents"))
        .getField("cents")
        .alias("first_cents"),
        F.max(F.struct("o_orderdate", "o_orderkey", "cents"))
        .getField("cents")
        .alias("last_cents"),
    )
    return wilcoxon_signed_rank(pairs, "last_cents", "first_cents")
def o_wilcoxon_signed_rank() -> str:
    return f"""
            WITH o AS (
                SELECT o_custkey AS ck, o_orderdate AS dt, o_orderkey AS okey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
            ), pr AS (
                SELECT ck,
                       first(v ORDER BY dt, okey) AS firstv,
                       last(v ORDER BY dt, okey) AS lastv
                FROM o GROUP BY 1
            ), dd AS (
                SELECT lastv - firstv AS d FROM pr WHERE lastv <> firstv
            ), per_abs AS (
                SELECT abs(d) AS a, COUNT(*) AS cnt,
                       SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
                FROM dd GROUP BY 1
            ), ranked AS (
                SELECT a, cnt, pos,
                       2 * COALESCE(SUM(cnt) OVER (ORDER BY a
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2
                FROM per_abs
            ), agg AS (
                SELECT CAST(SUM(cnt) AS BIGINT) AS n_int,
                       SUM(CAST(pos AS HUGEINT) * r2) AS w2p,
                       SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS t3
                FROM ranked
            ), st AS (
                SELECT n_int, CAST(n_int AS DOUBLE) AS n,
                       CAST(w2p AS DOUBLE) AS w2pd, CAST(t3 AS DOUBLE) AS t3d
                FROM agg
            ), zz AS (
                SELECT n_int, w2pd,
                       CASE WHEN n * (n + 1) * (2 * n + 1) / 6.0 - t3d / 12.0 > 0
                            THEN (abs(w2pd - n * (n + 1) / 2.0) - 1.0)
                                 / sqrt(n * (n + 1) * (2 * n + 1) / 6.0 - t3d / 12.0)
                       END AS z
                FROM st
            )
            SELECT n_int AS n, w2pd / 2.0 AS w_plus, round(z, 9) AS z,
                   round(CASE WHEN z IS NOT NULL THEN LEAST(1.0,
                       2.0 * {_normal_sf_sql("GREATEST(0.0, z)")}) END, 6) AS p_value
            FROM zz
        """


def q_fisher_exact(spark, sf_dir):
    """Fisher's exact test: is the BUILDING market segment independent of a
    negative account balance?  No factorials — the hypergeometric pmf walks
    its support by the exact-integer ratio recurrence, one window cumsum of
    ln ratios in k order, scipy's two-sided as-or-less-probable rule."""
    from area_etl_spark.operators.experiments import fisher_exact_2x2

    c = _tables(spark, sf_dir)["customer"]
    return fisher_exact_2x2(
        c,
        F.col("c_mktsegment") == "BUILDING",
        F.col("c_acctbal") < 0,
    )
def o_fisher_exact() -> str:
    return """
            WITH fl AS (
                SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS r,
                       CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS c
                FROM customer
            ), t AS (
                SELECT CAST(SUM(r * c) AS BIGINT) AS a,
                       CAST(SUM(r * (1 - c)) AS BIGINT) AS b,
                       CAST(SUM((1 - r) * c) AS BIGINT) AS c2,
                       CAST(SUM((1 - r) * (1 - c)) AS BIGINT) AS d
                FROM fl
            ), m AS (
                SELECT a, b, c2, d, a + b + c2 + d AS n, a + b AS kk,
                       a + c2 AS n1,
                       GREATEST(0, (a + b) + (a + c2) - (a + b + c2 + d)) AS klo,
                       LEAST(a + b, a + c2) AS khi
                FROM t
            ), grid AS (
                SELECT m.*, unnest(generate_series(klo, khi)) AS k FROM m
            ), lr AS (
                SELECT a, khi, k,
                       CASE WHEN k > klo THEN
                           ln(CAST(kk - k + 1 AS DOUBLE) * CAST(n1 - k + 1 AS DOUBLE))
                           - ln(CAST(k AS DOUBLE) * CAST(n - kk - n1 + k AS DOUBLE))
                       ELSE 0.0 END AS lrv
                FROM grid
            ), lp AS (
                SELECT a, khi, k,
                       SUM(lrv) OVER (ORDER BY k
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lpv
                FROM lr
            ), w AS (
                SELECT a, khi, k, lpv,
                       MAX(lpv) OVER () AS mx,
                       MAX(CASE WHEN k = a THEN lpv END) OVER () AS lobs
                FROM lp
            ), s AS (
                SELECT khi, k,
                       SUM(CASE WHEN lpv <= lobs + 1e-7
                                THEN exp(lpv - mx) ELSE 0.0 END)
                           OVER (ORDER BY k
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
                       SUM(exp(lpv - mx))
                           OVER (ORDER BY k
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
                FROM w
            )
            SELECT (SELECT a FROM t) AS a, (SELECT b FROM t) AS b,
                   (SELECT c2 FROM t) AS c, (SELECT d FROM t) AS d,
                   round(LEAST(1.0, ps / pt), 6) AS p_value
            FROM s WHERE k = khi
        """


def q_cohens_effect(spark, sf_dir):
    """Cohen's d / Hedges' g between URGENT and LOW priority order values —
    the effect-size companion to the significance family: exact integer
    (n, Σv, Σv²) per group in one aggregate, closed form at the end."""
    from area_etl_spark.operators.experiments import cohens_effect_sizes

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return cohens_effect_sizes(o, "o_orderpriority", "cents", "1-URGENT", "5-LOW")
def o_cohens_effect() -> str:
    return """
            WITH base AS (
                SELECT o_orderpriority AS g,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            ), agg AS (
                SELECT
                    CAST(SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS na_i,
                    SUM(CASE WHEN g = '1-URGENT' THEN CAST(v AS HUGEINT) END) AS sa,
                    SUM(CASE WHEN g = '1-URGENT' THEN CAST(v AS HUGEINT) * v END) AS qa,
                    CAST(SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS nb_i,
                    SUM(CASE WHEN g = '5-LOW' THEN CAST(v AS HUGEINT) END) AS sb,
                    SUM(CASE WHEN g = '5-LOW' THEN CAST(v AS HUGEINT) * v END) AS qb
                FROM base
            ), st AS (
                SELECT na_i, nb_i,
                       CAST(na_i AS DOUBLE) AS na, CAST(nb_i AS DOUBLE) AS nb,
                       CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
                       CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd
                FROM agg
            ), calc AS (
                SELECT na_i, nb_i, na, nb,
                       sad / na - sbd / nb AS diff,
                       ((qad - sad * sad / na) + (qbd - sbd * sbd / nb))
                           / (na + nb - 2.0) AS pooled
                FROM st
            ), dv AS (
                SELECT na_i, nb_i, diff,
                       CASE WHEN na > 1 AND nb > 1 AND pooled > 0
                            THEN diff / sqrt(pooled) END AS d,
                       1.0 - 3.0 / (4.0 * (na + nb) - 9.0) AS j
                FROM calc
            )
            SELECT na_i AS n_a, nb_i AS n_b,
                   round(diff, 9) AS mean_diff,
                   round(d, 9) AS cohens_d,
                   round(d * j, 9) AS hedges_g
            FROM dv
        """


def q_cramers_v(spark, sf_dir):
    """Cramér's V for order priority × order status — chi-square's [0,1]
    effect size via the observed-cells-only identity χ² = Σ n·o²/(r_t·c_t) − n,
    every numerator an exact DECIMAL, cells folded in sorted order."""
    from area_etl_spark.operators.experiments import cramers_v

    o = _tables(spark, sf_dir)["orders"]
    return cramers_v(o, "o_orderpriority", "o_orderstatus")
def o_cramers_v() -> str:
    return """
            WITH base AS (
                SELECT o_orderpriority AS a, o_orderstatus AS b
                FROM orders
                WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
            ), cells AS (
                SELECT a, b, COUNT(*) AS o FROM base GROUP BY 1, 2
            ), rt AS (
                SELECT a, COUNT(*) AS rt FROM base GROUP BY 1
            ), ct AS (
                SELECT b, COUNT(*) AS ct FROM base GROUP BY 1
            ), nn AS (
                SELECT COUNT(*) AS nn FROM base
            ), fullc AS (
                SELECT cells.a, cells.b, o, rt.rt, ct.ct, nn.nn
                FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nn
            ), packed AS (
                SELECT MAX(nn) AS n_i,
                       CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
                       CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST(CAST(nn AS HUGEINT) * o * o AS DOUBLE)
                                / CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE)
                                ORDER BY a, b)),
                           (x, y) -> x + y) AS s
                FROM fullc
            )
            SELECT CAST(n_i AS BIGINT) AS n, r AS n_rows, c AS n_cols,
                   round(s - CAST(n_i AS DOUBLE), 9) AS chi2,
                   round(CASE WHEN CAST(LEAST(r, c) AS DOUBLE) - 1.0 > 0
                              AND s - CAST(n_i AS DOUBLE) >= 0
                         THEN sqrt((s - CAST(n_i AS DOUBLE))
                              / (CAST(n_i AS DOUBLE)
                                 * (CAST(LEAST(r, c) AS DOUBLE) - 1.0))) END, 9) AS v
            FROM packed
        """


def q_group_sequential(spark, sf_dir):
    """Group-sequential A/B monitoring over yearly looks: cumulative
    two-proportion z per look vs the published O'Brien–Fleming and
    Pocock boundary tables (two-sided α=0.05) — peeking-safe readouts."""
    from area_etl_spark.operators.experiments import group_sequential_looks

    o = _tables(spark, sf_dir)["orders"].select(
        F.year(F.col("o_orderdate").cast("date")).alias("look"),
        F.when(F.pmod(F.col("o_custkey"), F.lit(2)) == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("arm"),
        (F.col("o_totalprice") > 150000).alias("ok"),
    )
    return group_sequential_looks(o, "look", "arm", "ok")
def o_group_sequential() -> str:
    return """
            WITH base AS (
                SELECT year(CAST(o_orderdate AS DATE)) AS lk,
                       CASE WHEN o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END
                           AS a,
                       CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS x
                FROM orders
            ), per AS (
                SELECT lk, a, COUNT(*) AS n, SUM(x) AS s
                FROM base GROUP BY 1, 2
            ), cum AS (
                SELECT lk, a,
                       SUM(n) OVER (PARTITION BY a ORDER BY lk
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cn,
                       SUM(s) OVER (PARTITION BY a ORDER BY lk
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cs
                FROM per
            ), arms AS (
                SELECT MIN(a) AS arm_a, MAX(a) AS arm_b FROM per
            ), looks AS (
                SELECT DISTINCT lk FROM per
            ), kk AS (
                SELECT COUNT(*) AS k FROM looks
            ), nt AS (
                SELECT COUNT(*) AS ntot FROM base
            ), j AS (
                SELECT l.lk,
                       ca.cn AS na, ca.cs AS xa,
                       cb.cn AS nb, cb.cs AS xb,
                       k, ntot
                FROM looks l CROSS JOIN arms
                JOIN cum ca ON ca.lk = l.lk AND ca.a = arms.arm_a
                JOIN cum cb ON cb.lk = l.lk AND cb.a = arms.arm_b
                CROSS JOIN kk CROSS JOIN nt
            ), zz AS (
                SELECT *,
                       CAST(xa AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
                       CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
                       CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS pp,
                       CAST(na + nb AS DOUBLE) / CAST(ntot AS DOUBLE) AS t
                FROM j
            ), ss AS (
                SELECT *,
                       pp * (1.0 - pp) * (1.0 / CAST(na AS DOUBLE)
                                          + 1.0 / CAST(nb AS DOUBLE)) AS se2,
                       CASE WHEN k <= 10 THEN
                           (CAST([1.960, 1.977, 2.004, 2.024, 2.040,
                                  2.053, 2.063, 2.072, 2.080, 2.087]
                                 AS DOUBLE[]))[CAST(k AS BIGINT)]
                           / sqrt(t) END AS obf,
                       CASE WHEN k <= 10 THEN
                           (CAST([1.960, 2.178, 2.289, 2.361, 2.413,
                                  2.453, 2.485, 2.512, 2.535, 2.555]
                                 AS DOUBLE[]))[CAST(k AS BIGINT)]
                       END AS poc
                FROM zz
            ), fin AS (
                SELECT *,
                       CASE WHEN na > 0 AND nb > 0 AND se2 > 0
                            THEN (pa - pb) / sqrt(se2) END AS z
                FROM ss
            )
            SELECT CAST(lk AS BIGINT) AS look,
                   round(t, 9) AS info_frac,
                   CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                   CAST(xa AS BIGINT) AS x_a, CAST(xb AS BIGINT) AS x_b,
                   round(z, 9) AS z_obs,
                   round(obf, 9) AS obf_bound,
                   round(poc, 9) AS pocock_bound,
                   CASE WHEN z IS NOT NULL AND obf IS NOT NULL
                        THEN abs(z) > obf END AS cross_obf,
                   CASE WHEN z IS NOT NULL AND poc IS NOT NULL
                        THEN abs(z) > poc END AS cross_pocock
            FROM fin
        """


def q_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test on the even/odd customer balance
    split: exact per-arm DECIMAL sums, Welch–Satterthwaite df, portable
    large-df normal tail (documented approximation)."""
    from area_etl_spark.operators.experiments import welch_ttest

    c = _tables(spark, sf_dir)["customer"].select(
        F.when(F.pmod(F.col("c_custkey"), F.lit(2)) == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("arm"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return welch_ttest(c, "arm", "cents")
def o_welch_ttest() -> str:
    return f"""
            WITH base AS (
                SELECT CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END
                           AS a,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS v
                FROM customer
            ), per AS (
                SELECT a, COUNT(*) AS n,
                       SUM(CAST(v AS HUGEINT)) AS s,
                       SUM(CAST(v AS HUGEINT) * v) AS q
                FROM base GROUP BY 1
            ), pick AS (
                SELECT COUNT(*) AS k, MIN(a) AS arm_a, MAX(a) AS arm_b FROM per
            ), j AS (
                SELECT k, arm_a, arm_b,
                       p1.n AS n1, p1.s AS s1, p1.q AS q1,
                       p2.n AS n2, p2.s AS s2, p2.q AS q2
                FROM pick JOIN per p1 ON p1.a = pick.arm_a
                          JOIN per p2 ON p2.a = pick.arm_b
            ), st AS (
                SELECT *,
                       CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS ma,
                       CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mb,
                       CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0))
                           AS va,
                       CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                           / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0))
                           AS vb
                FROM j
            ), se AS (
                SELECT *,
                       va / CAST(n1 AS DOUBLE) + vb / CAST(n2 AS DOUBLE) AS se2,
                       (k = 2 AND n1 > 1 AND n2 > 1) AS two_ok
                FROM st
            ), tt AS (
                SELECT *,
                       CASE WHEN two_ok AND se2 > 0
                            THEN (ma - mb) / sqrt(se2) END AS t,
                       CASE WHEN two_ok AND se2 > 0
                            THEN se2 * se2 / (
                                (va / CAST(n1 AS DOUBLE)) * (va / CAST(n1 AS DOUBLE))
                                    / (CAST(n1 AS DOUBLE) - 1.0)
                                + (vb / CAST(n2 AS DOUBLE)) * (vb / CAST(n2 AS DOUBLE))
                                    / (CAST(n2 AS DOUBLE) - 1.0)) END AS dfw
                FROM se
            )
            SELECT CAST(k AS BIGINT) AS n_arms, arm_a, arm_b,
                   CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
                   round(ma, 9) AS mean_a, round(mb, 9) AS mean_b,
                   round(t, 9) AS t_stat, round(dfw, 9) AS df_welch,
                   round(CASE WHEN t IS NOT NULL THEN
                       LEAST(1.0, 2.0 * {_normal_sf_sql("abs(t)")}) END, 9)
                       AS p_value
            FROM tt
        """


def q_hodges_lehmann(spark, sf_dir):
    """Hodges–Lehmann location estimate of the monthly order-count
    series — the median of all Walsh averages via the rank self-join +
    exact array-median idiom (bounded series grain)."""
    from area_etl_spark.operators.experiments import hodges_lehmann

    ser = (
        _tables(spark, sf_dir)["orders"]
        .groupBy(F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("t"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return hodges_lehmann(ser, "v")
def o_hodges_lehmann() -> str:
    return """
            WITH ser AS (
                SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS t,
                       COUNT(*) AS v
                FROM orders GROUP BY 1
            ), idx AS (
                SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ser
            ), sums AS (
                SELECT a.v + b.v AS s FROM idx a JOIN idx b ON a.rn <= b.rn
            ), ag AS (
                SELECT COUNT(*) AS np, list_sort(list(s)) AS ss FROM sums
            ), nn AS (
                SELECT COUNT(*) AS n FROM ser
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(np AS BIGINT) AS n_pairs,
                   round(CASE WHEN np > 0 THEN
                       CASE WHEN np % 2 = 1
                            THEN CAST(ss[CAST((np + 1) // 2 AS BIGINT)] AS DOUBLE)
                            ELSE (CAST(ss[CAST(np // 2 AS BIGINT)] AS DOUBLE)
                                  + CAST(ss[CAST(np // 2 + 1 AS BIGINT)] AS DOUBLE))
                                 / 2.0
                       END / 2.0
                   END, 9) AS hl_estimate
            FROM ag CROSS JOIN nn
        """


def q_jarque_bera(spark, sf_dir):
    """Jarque–Bera normality test on customer balance cents: skewness and
    kurtosis from pivot-centered exact DECIMAL power sums, JB ~ chi2 df=2
    whose survival is the CLOSED FORM exp(-JB/2) — an exact p-value."""
    from area_etl_spark.operators.experiments import jarque_bera

    c = _tables(spark, sf_dir)["customer"].select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    return jarque_bera(c, "cents")
def o_jarque_bera() -> str:
    return """
            WITH base AS (
                SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS x
                FROM customer WHERE c_acctbal IS NOT NULL
            ), p1 AS (
                SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s1 FROM base
            ), pc AS (
                -- integer pivot, truncating division (matches Spark DIV)
                SELECT n, CAST(s1 // n AS BIGINT) AS c FROM p1
            ), p2 AS (
                SELECT MAX(n) AS n,
                       SUM(CAST(x - c AS HUGEINT)) AS t1,
                       SUM(CAST(x - c AS HUGEINT) * (x - c)) AS t2,
                       SUM(CAST(x - c AS HUGEINT) * (x - c) * (x - c)) AS t3,
                       SUM(CAST(x - c AS HUGEINT) * (x - c) * (x - c) * (x - c)) AS t4
                FROM base CROSS JOIN pc
            ), mm AS (
                SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
                       CAST(t1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                       CAST(t2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                       CAST(t3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                       CAST(t4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
                FROM p2
            ), cm AS (
                SELECT n, nd,
                       r2 - mu * mu AS m2,
                       r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                       r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                          - 3.0 * mu * mu * mu * mu AS m4
                FROM mm
            ), sk AS (
                SELECT n, nd,
                       CASE WHEN n > 1 AND m2 > 0 THEN m3 / pow(m2, 1.5) END AS s,
                       CASE WHEN n > 1 AND m2 > 0 THEN m4 / (m2 * m2) END AS k
                FROM cm
            ), jbx AS (
                SELECT n, s, k,
                       nd * (s * s / 6.0 + (k - 3.0) * (k - 3.0) / 24.0) AS jb
                FROM sk
            )
            SELECT n,
                   round(s, 9) AS skewness,
                   round(k, 9) AS kurtosis,
                   round(jb, 9) AS jb,
                   round(CASE WHEN jb IS NOT NULL THEN exp(-jb / 2.0) END, 9)
                       AS p_value
            FROM jbx
        """


def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend significance on the monthly revenue series —
    the non-parametric companion to theil_sen: exact integer S and
    tie-corrected Var(S), continuity-corrected z, portable normal tail."""
    from area_etl_spark.operators.experiments import mann_kendall

    o = _tables(spark, sf_dir)["orders"].select(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ser = o.groupBy("t").agg(F.sum("cents").alias("v"))
    return mann_kendall(ser, "t", "v")
def o_mann_kendall() -> str:
    return f"""
            WITH ser AS (
                SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS t,
                       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
                FROM orders GROUP BY 1
            ), sgn AS (
                SELECT SUM(CASE WHEN b.v > a.v THEN 1
                                WHEN b.v < a.v THEN -1 ELSE 0 END) AS s_stat
                FROM ser a JOIN ser b ON a.t < b.t
            ), ties AS (
                SELECT SUM(c) AS n,
                       SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)) AS tie_term
                FROM (SELECT v, COUNT(*) AS c FROM ser GROUP BY 1)
            ), vz AS (
                SELECT n, s_stat,
                       CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tie_term
                            AS DOUBLE) / 18.0 AS var_s
                FROM sgn CROSS JOIN ties
            ), zz AS (
                SELECT n, s_stat, var_s,
                       CASE WHEN var_s > 0 AND n > 1 THEN
                           CASE WHEN s_stat > 0
                                    THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s)
                                WHEN s_stat < 0
                                    THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s)
                                ELSE 0.0 END END AS z
                FROM vz
            ), pp AS (
                SELECT n, s_stat, var_s, z,
                       CASE WHEN z IS NOT NULL
                            THEN LEAST(1.0, 2.0 * {_normal_sf_sql("abs(z)")})
                       END AS p
                FROM zz
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(s_stat AS BIGINT) AS s_stat,
                   round(CASE WHEN n > 1 THEN var_s END, 9) AS var_s,
                   round(z, 9) AS z,
                   round(p, 9) AS p_value,
                   CASE WHEN p IS NOT NULL AND p < 0.05
                        THEN CASE WHEN s_stat > 0 THEN 'increasing'
                                  ELSE 'decreasing' END
                        WHEN n > 1 THEN 'no_trend' END AS trend
            FROM pp
        """
