"""Data quality: profiles, integrity checks, drift, calibration and privacy
checks (``operators/quality``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import quality as Q
from area_etl_spark.operators.experiments import normal_sf_sql as _normal_sf_sql
from area_etl_spark.registry._common import _tables


def q_k_anonymity(spark, sf_dir):
    """k-anonymity equivalence classes over (nation, market segment): class
    size + whether it meets k=5 — the privacy gate before a data release."""
    from area_etl_spark.operators.quality import k_anonymity

    cust = _tables(spark, sf_dir)["customer"]
    return k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)
def o_k_anonymity() -> str:
    return """
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS class_size,
                   COUNT(*) >= 5 AS is_k_anonymous
            FROM customer GROUP BY c_nationkey, c_mktsegment
        """


def q_gini_concentration(spark, sf_dir):
    """Per-priority Gini index of order value concentration from exact
    DECIMAL(38,0) rank-weighted sums; only the final division is float."""
    from area_etl_spark.operators.quality import gini_coefficient

    o = _tables(spark, sf_dir)["orders"]
    s = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return gini_coefficient(s, ["o_orderpriority"], "cents")
def o_gini_concentration() -> str:
    return """
            WITH s AS (
                SELECT o_orderpriority,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                       ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                          ORDER BY round(o_totalprice * 100))
                           AS i
                FROM orders
            ), a AS (
                SELECT o_orderpriority,
                       COUNT(*) AS n, SUM(i * x) AS six, SUM(x) AS sx
                FROM s GROUP BY o_orderpriority
            )
            SELECT o_orderpriority,
                   ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                         / CAST(n * sx AS DOUBLE), 9) AS gini
            FROM a
        """


def q_score_calibration(spark, sf_dir):
    """Cross-source score calibration: percent-rank of n_chars within each
    source — 'top 20% of every source' becomes one global filter."""
    from area_etl_spark.operators.quality import calibrate_percent_rank

    d = _tables(spark, sf_dir)["documents"].select("doc_id", "source", "n_chars")
    return calibrate_percent_rank(d, "source", "n_chars")
def o_score_calibration() -> str:
    return """
            SELECT doc_id, source, n_chars,
                   ROUND(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 9)
                       AS calibrated
            FROM documents
        """


def q_fk_orphans(spark, sf_dir):
    """Referential-integrity pre-load gate: orphan counts for the schema's
    three FK relations, each one broadcast anti-join + count."""
    from area_etl_spark.operators.quality import fk_orphan_report

    t = _tables(spark, sf_dir)
    return fk_orphan_report(
        [
            ("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
            ("lineitem->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
            ("lineitem->supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        ]
    )
def o_fk_orphans() -> str:
    return """
            SELECT 'orders->customer' AS relation,
                   (SELECT COUNT(*) FROM orders) AS n_rows,
                   (SELECT COUNT(*) FROM orders o
                     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
                       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                       AS n_orphans
            UNION ALL
            SELECT 'lineitem->part',
                   (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem l
                     WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
                       (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
            UNION ALL
            SELECT 'lineitem->supplier',
                   (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem l
                     WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
                       (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        """


def q_join_size_estimate(spark, sf_dir):
    """Pre-flight join explosion check: exact predicted |lineitem ⋈ orders|
    from per-key counts — two aggregates instead of the join itself."""
    from area_etl_spark.operators.quality import join_size_estimate

    t = _tables(spark, sf_dir)
    li = t["lineitem"].select(F.col("l_orderkey").alias("k"))
    o = t["orders"].select(F.col("o_orderkey").alias("k"))
    return join_size_estimate(li, o, ["k"])
def o_join_size_estimate() -> str:
    return """
            WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS nl FROM lineitem GROUP BY 1),
                 rc AS (SELECT o_orderkey AS k, COUNT(*) AS nr FROM orders GROUP BY 1),
                 p AS (SELECT CAST(nl * nr AS BIGINT) AS p FROM lc JOIN rc USING (k))
            SELECT CAST(COALESCE(SUM(p), 0) AS BIGINT) AS est_rows,
                   CAST(COALESCE(MAX(p), 0) AS BIGINT) AS max_key_product,
                   COUNT(*) AS n_matching_keys
            FROM p
        """


def q_id_gap_report(spark, sf_dir):
    """Sequence-integrity gaps over a planted-holes id stream, found with
    cell-partitioned leads + a bounded per-cell seam pass — never a global
    single-partition sort; oracle = the naive global lead."""
    from area_etl_spark.operators.quality import id_gap_report

    o = _tables(spark, sf_dir)["orders"].where(F.col("o_orderkey") % 7 != 3)
    return id_gap_report(o, "o_orderkey", bucket=1000)
def o_id_gap_report() -> str:
    return """
            WITH ids AS (
                SELECT DISTINCT o_orderkey AS id FROM orders
                WHERE o_orderkey % 7 <> 3
            ), l AS (
                SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids
            )
            SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
                   nxt - 1 - id AS gap_width
            FROM l WHERE nxt > id + 1
        """


def q_drift_chi2(spark, sf_dir):
    """Distribution drift between two shipment eras of the price column:
    fixed-width integer bins, exact two-sample chi-square summed in sorted
    bin order (the PSI monitor without the non-portable ln)."""
    from area_etl_spark.operators.quality import drift_chi2

    li = _tables(spark, sf_dir)["lineitem"].select(
        "l_shipdate",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = li.where(F.col("l_shipdate") < cutoff)
    cur = li.where(F.col("l_shipdate") >= cutoff)
    return drift_chi2(base, cur, "cents", bin_width=100_000)
def o_drift_chi2() -> str:
    return """
            WITH li AS (
                SELECT l_shipdate,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                FROM lineitem
            ), bb AS (
                SELECT cents // 100000 AS bin, COUNT(*) AS b FROM li
                WHERE l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1
            ), cc AS (
                SELECT cents // 100000 AS bin, COUNT(*) AS c FROM li
                WHERE l_shipdate >= TIMESTAMP '1997-01-01' GROUP BY 1
            ), j AS (
                SELECT COALESCE(bb.bin, cc.bin) AS bin,
                       COALESCE(b, 0) AS b, COALESCE(c, 0) AS c
                FROM bb FULL OUTER JOIN cc ON bb.bin = cc.bin
            ), t AS (
                SELECT CAST(SUM(b) AS BIGINT) AS nb, CAST(SUM(c) AS BIGINT) AS nc,
                       COUNT(*) AS n_bins
                FROM j
            ), packed AS (
                SELECT nb, nc, n_bins,
                       list(struct_pack(k := bin, b := b, c := c) ORDER BY bin) AS bins
                FROM j, t GROUP BY nb, nc, n_bins
            )
            SELECT nb AS n_baseline, nc AS n_current, n_bins,
                   round(0.0 + list_reduce(list_transform(bins,
                       s -> CAST((CAST(nb AS HUGEINT) * s.c - CAST(nc AS HUGEINT) * s.b)
                                 * (CAST(nb AS HUGEINT) * s.c - CAST(nc AS HUGEINT) * s.b)
                                 AS DOUBLE)
                            / CAST(CAST(nb AS HUGEINT) * nc * (s.b + s.c) AS DOUBLE)),
                       (x, y) -> x + y), 6) AS chi2
            FROM packed
        """


TABLE_CHECKSUM_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "cents",
    "o_orderpriority",
]


def q_table_checksum(spark, sf_dir):
    """Order-independent migration checksum of orders: commutative sum of
    48-bit md5 prefixes over a canonical row encoding — one scan, any
    partitioning, replayable in any engine."""
    from area_etl_spark.operators.quality import table_checksum

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderpriority",
    )
    # checksum rides as string for the driver gate: Spark decimal(38,0) →
    # pandas object-Decimal while duckdb DECIMAL/HUGEINT → LOSSY float64
    return table_checksum(o, TABLE_CHECKSUM_COLS).withColumn(
        "checksum", F.col("checksum").cast("string")
    )
def o_table_checksum() -> str:
    return """
            WITH canon AS (
                SELECT md5(
                    CAST(o_orderkey AS VARCHAR) || chr(31)
                    || CAST(o_custkey AS VARCHAR) || chr(31)
                    || COALESCE(o_orderstatus, chr(0) || 'NULL') || chr(31)
                    || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                    || chr(31)
                    || COALESCE(o_orderpriority, chr(0) || 'NULL')
                ) AS h
                FROM orders
            ), v AS (
                SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 17592186044416
                      + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 1099511627776
                      + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 68719476736
                      + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4294967296
                      + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 268435456
                      + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 16777216
                      + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 1048576
                      + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 65536
                      + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1)) AS x
                FROM canon
            )
            SELECT COUNT(*) AS n_rows,
                   -- VARCHAR not HUGEINT/DECIMAL: duckdb renders both as a
                   -- LOSSY float64 in pandas while Spark's decimal(38,0) is
                   -- exact object-Decimal — string is the only exact common
                   -- representation for the driver canonicalizer
                   CAST(CAST(SUM(CAST(x AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR)
                       AS checksum
            FROM v
        """


def q_skew_report(spark, sf_dir):
    """Heavy-hitter diagnosis over events: top-5 values of event_type /
    user_id / props with exact shares, ONE scan for all columns (explode to
    (column, value) pairs → one count groupBy → per-column rank window)."""
    from area_etl_spark.operators.quality import skew_report

    tables = _tables(spark, sf_dir)
    return skew_report(tables["events"], ["event_type", "user_id", "props"], k=5)
def o_skew_report() -> str:
    return """
            WITH pairs AS (
                SELECT 'event_type' AS "column", CAST(event_type AS VARCHAR) AS value FROM events
                UNION ALL
                SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
                UNION ALL
                SELECT 'props', CAST(props AS VARCHAR) FROM events
            ), counts AS (
                SELECT "column", value, COUNT(*) AS n FROM pairs GROUP BY 1, 2
            ), ranked AS (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY "column" ORDER BY n DESC, value ASC) AS INTEGER) AS rank
                FROM counts
            )
            SELECT "column", value, n, rank,
                   round(n / CAST((SELECT COUNT(*) FROM events) AS DOUBLE), 6) AS share
            FROM ranked WHERE rank <= 5
        """


def q_profile_table(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return Q.profile_columns(tables["orders"], ["o_custkey", "o_totalprice", "o_orderstatus"])
def o_profile_table() -> str:
    return """
            SELECT 'o_custkey' AS "column", COUNT(*) AS n_rows,
                   COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
                   COUNT(DISTINCT o_custkey) AS n_distinct,
                   CAST(MIN(o_custkey) AS DOUBLE) AS min_num, CAST(MAX(o_custkey) AS DOUBLE) AS max_num,
                   CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', COUNT(*),
                   COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END),
                   COUNT(DISTINCT o_totalprice),
                   CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
                   NULL, NULL
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*),
                   COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
                   COUNT(DISTINCT o_orderstatus),
                   NULL, NULL,
                   MIN(o_orderstatus), MAX(o_orderstatus)
            FROM orders
        """


def q_outlier_detection(spark, sf_dir):
    """Per-type z-score anomalies over order values — exact-sufficient-
    statistics mean/std (partition- and engine-invariant), broadcast back,
    flag |z| > 3."""
    from area_etl_spark.operators.quality import flag_outliers

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return flag_outliers(ev, ["event_type"], "cents", z_threshold=3.0)
def o_outlier_detection() -> str:
    return """
            WITH o AS (
                SELECT event_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), s AS (
                SELECT event_type, COUNT(*) AS _n,
                       CAST(SUM(cents) AS BIGINT) AS _sx,
                       CAST(SUM(cents * cents) AS BIGINT) AS _sxx
                FROM o GROUP BY event_type
            ), j AS (
                SELECT o.event_id, o.event_type, o.cents,
                       CAST(_sx AS DOUBLE) / CAST(_n AS DOUBLE) AS mean,
                       sqrt(greatest(CAST(_sxx AS DOUBLE) / CAST(_n AS DOUBLE)
                                     - (CAST(_sx AS DOUBLE) / CAST(_n AS DOUBLE))
                                       * (CAST(_sx AS DOUBLE) / CAST(_n AS DOUBLE)), 0.0)) AS std
                FROM o JOIN s USING (event_type)
            )
            SELECT event_id, event_type, cents,
                   round(CASE WHEN std > 0 THEN (CAST(cents AS DOUBLE) - mean) / std
                              ELSE 0.0 END, 6) AS z_score
            FROM j
            WHERE abs(round(CASE WHEN std > 0 THEN (CAST(cents AS DOUBLE) - mean) / std
                                 ELSE 0.0 END, 6)) > 3.0
        """


def q_histogram_equidepth(spark, sf_dir):
    """Equi-depth (quantile-bounded) histogram of order values — the
    scale-safe formulation: percentile boundaries + broadcast + array-filter
    bin index, never a global-sort ntile."""
    from area_etl_spark.operators.quality import equidepth_histogram

    tables = _tables(spark, sf_dir)
    cents = tables["orders"].select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return equidepth_histogram(cents, "cents", num_bins=10)
def o_histogram_equidepth() -> str:
    return f"""
            WITH c AS (
                SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
            ), b AS (
                SELECT list_transform(
                           quantile_cont(cents, [{', '.join(str(i / 10) for i in range(1, 10))}]),
                           e -> round(e, 4)) AS bounds
                FROM c
            )
            SELECT CAST(len(list_filter(b.bounds, e -> CAST(c.cents AS DOUBLE) > e)) AS INT) AS bin,
                   COUNT(*) AS n_rows, MIN(c.cents) AS lo_cents, MAX(c.cents) AS hi_cents,
                   CAST(SUM(c.cents) AS DOUBLE) / 100.0 AS total_value
            FROM c, b
            GROUP BY 1
        """


def q_robust_zscore(spark, sf_dir):
    """Median/MAD (modified z-score) outlier flags per event type — the
    masking-resistant twin of outlier_detection's mean/std pass."""
    from area_etl_spark.operators.quality import flag_outliers_robust

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return flag_outliers_robust(ev, ["event_type"], "cents", z_threshold=3.5)
def o_robust_zscore() -> str:
    return """
            WITH ev AS (
                SELECT event_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), med AS (
                SELECT event_type, quantile_cont(cents, 0.5) AS m
                FROM ev GROUP BY event_type
            ), mad AS (
                SELECT e.event_type,
                       quantile_cont(abs(CAST(e.cents AS DOUBLE) - med.m), 0.5) AS mad,
                       avg(abs(CAST(e.cents AS DOUBLE) - med.m)) AS meanad
                FROM ev e JOIN med USING (event_type)
                GROUP BY e.event_type
            ), scored AS (
                SELECT e.event_type, e.event_id, e.cents,
                       round(CASE WHEN mad.mad > 0
                                  THEN 0.6745 * (CAST(e.cents AS DOUBLE) - med.m) / mad.mad
                                  WHEN mad.meanad > 0
                                  THEN 0.7979 * (CAST(e.cents AS DOUBLE) - med.m) / mad.meanad
                                  ELSE 0.0 END, 6) AS robust_z
                FROM ev e JOIN med USING (event_type) JOIN mad USING (event_type)
            )
            SELECT event_type, event_id, cents, robust_z
            FROM scored WHERE abs(robust_z) > 3.5
        """


def q_winsorize(spark, sf_dir):
    """Winsorize order values at the exact p01/p99 quantiles (broadcast
    bounds + narrow clip; outlier TREATMENT beside the flagging passes)."""
    from area_etl_spark.operators.quality import winsorize

    tables = _tables(spark, sf_dir)
    o = tables["orders"].select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return winsorize(o, "cents", 0.01, 0.99)
def o_winsorize() -> str:
    return """
            WITH o AS (
                SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
            ), b AS (
                SELECT round(quantile_cont(cents, 0.01), 4) AS lo,
                       round(quantile_cont(cents, 0.99), 4) AS hi
                FROM o
            )
            SELECT o.o_orderkey, o.cents,
                   least(greatest(CAST(o.cents AS DOUBLE), b.lo), b.hi) AS clipped,
                   CAST(o.cents AS DOUBLE) <> least(greatest(CAST(o.cents AS DOUBLE), b.lo), b.hi) AS was_clipped
            FROM o, b
        """


def q_cascade_delete(spark, sf_dir):
    """GDPR right-to-erasure cascade: erase nation 3's customers, propagate
    through orders to lineitem via FK anti-joins; report (table_name,
    n_deleted, n_kept) — counts piggyback the same joins, no collect."""
    from area_etl_spark.operators.quality import cascade_delete

    tables = _tables(spark, sf_dir)
    cust = tables["customer"]
    root_ids = cust.where(F.col("c_nationkey") == 3).select("c_custkey")
    _, report = cascade_delete(
        cust,
        "c_custkey",
        root_ids,
        [
            ("orders", tables["orders"], "o_custkey", "root", "c_custkey"),
            ("lineitem", tables["lineitem"], "l_orderkey", "orders", "o_orderkey"),
        ],
    )
    return report
def o_cascade_delete() -> str:
    return """
            WITH del_c AS (SELECT c_custkey FROM customer WHERE c_nationkey = 3),
            del_o AS (SELECT o_orderkey FROM orders
                      WHERE o_custkey IN (SELECT c_custkey FROM del_c)),
            nl AS (SELECT COUNT(*) AS n FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM del_o))
            SELECT 'root' AS table_name,
                   (SELECT COUNT(*) FROM del_c) AS n_deleted,
                   (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM del_c) AS n_kept
            UNION ALL
            SELECT 'orders', (SELECT COUNT(*) FROM del_o),
                   (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM del_o)
            UNION ALL
            SELECT 'lineitem', (SELECT n FROM nl),
                   (SELECT COUNT(*) FROM lineitem) - (SELECT n FROM nl)
        """


def q_quantile_normalize(spark, sf_dir):
    """Quantile normalization of per-source document lengths onto src0's
    empirical distribution: percent_rank within source, then a union-merge
    floor lookup into the ref ECDF (asof idiom on a double axis) — the
    cross-source score-blending step beyond rank calibration."""
    from area_etl_spark.operators.quality import quantile_normalize

    docs = _tables(spark, sf_dir)["documents"].select(
        "doc_id", "source", F.col("n_chars").alias("score")
    )
    return quantile_normalize(docs, "source", "score", "src0")
def o_quantile_normalize() -> str:
    return """
            WITH scored AS (
                SELECT doc_id, source, n_chars AS score,
                       percent_rank() OVER (PARTITION BY source
                                            ORDER BY n_chars ASC) AS pct
                FROM documents
            ), ref AS (
                SELECT DISTINCT pct AS r_pct, score AS r_val
                FROM scored WHERE source = 'src0'
            )
            SELECT s.doc_id, s.source, s.score, r.r_val AS normalized
            FROM scored s ASOF JOIN ref r ON s.pct >= r.r_pct
        """


def q_seasonal_anomaly(spark, sf_dir):
    """Seasonal-naive anomaly detection on the daily event-count series per
    event type: forecast = count 7 days earlier, residuals scored with the
    per-key Iglewicz–Hoaglin robust z (the flag_outliers_robust machinery);
    |z| > 2 rows surface as anomalies."""
    from area_etl_spark.operators.quality import seasonal_naive_anomaly

    ev = _tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return seasonal_naive_anomaly(
        daily, ["event_type"], "day", "n", period=7, z_threshold=2.0
    )
def o_seasonal_anomaly() -> str:
    return """
            WITH daily AS (
                SELECT event_type,
                       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            ), lagged AS (
                SELECT *, lag(n, 7) OVER (PARTITION BY event_type
                                          ORDER BY day) AS forecast
                FROM daily
            ), r AS (
                SELECT event_type, day, n, CAST(forecast AS BIGINT) AS forecast,
                       CAST(n - forecast AS BIGINT) AS residual
                FROM lagged WHERE forecast IS NOT NULL
            ), med AS (
                SELECT event_type, quantile_cont(residual, 0.5) AS m
                FROM r GROUP BY event_type
            ), mad AS (
                SELECT r.event_type,
                       quantile_cont(abs(CAST(r.residual AS DOUBLE) - med.m), 0.5) AS mad,
                       avg(abs(CAST(r.residual AS DOUBLE) - med.m)) AS meanad
                FROM r JOIN med USING (event_type)
                GROUP BY r.event_type
            ), scored AS (
                SELECT r.event_type, r.day, r.n, r.forecast, r.residual,
                       round(CASE WHEN mad.mad > 0
                                  THEN 0.6745 * (CAST(r.residual AS DOUBLE) - med.m) / mad.mad
                                  WHEN mad.meanad > 0
                                  THEN 0.7979 * (CAST(r.residual AS DOUBLE) - med.m) / mad.meanad
                                  ELSE 0.0 END, 6) AS robust_z
                FROM r JOIN med USING (event_type) JOIN mad USING (event_type)
            )
            SELECT * FROM scored WHERE abs(robust_z) > 2.0
        """


def q_minmax_scale(spark, sf_dir):
    """Per-source min-max scaling of document lengths to [0,1] — spacing-
    preserving normalization (the complement of rank calibration 90);
    constant groups → 0.0 by convention."""
    from area_etl_spark.operators.quality import minmax_scale

    d = _tables(spark, sf_dir)["documents"].select("doc_id", "source", "n_chars")
    return minmax_scale(d, ["source"], "n_chars")
def o_minmax_scale() -> str:
    return """
            WITH b AS (
                SELECT source, MIN(n_chars) AS lo, MAX(n_chars) AS hi
                FROM documents GROUP BY source
            )
            SELECT doc_id, d.source, n_chars,
                   CASE WHEN hi > lo
                        THEN round((CAST(n_chars AS DOUBLE) - lo) / (hi - lo), 6)
                             + 0.0
                        ELSE 0.0 END AS scaled
            FROM documents d JOIN b USING (source)
        """


def q_degree_distribution(spark, sf_dir):
    """Key-cardinality histogram of lineitem per order in power-of-two
    buckets (bit length of the count — exact integer log2): the degree
    SHAPE skew diagnostic behind join/groupBy planning."""
    from area_etl_spark.operators.quality import degree_distribution

    return degree_distribution(_tables(spark, sf_dir)["lineitem"], ["l_orderkey"])
def o_degree_distribution() -> str:
    return """
            WITH c AS (
                SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
            )
            SELECT CAST(length(bin(cnt)) AS INT) AS bucket,
                   COUNT(*) AS n_keys,
                   CAST(MIN(cnt) AS BIGINT) AS min_count,
                   CAST(MAX(cnt) AS BIGINT) AS max_count,
                   CAST(SUM(cnt) AS BIGINT) AS n_rows
            FROM c GROUP BY 1
        """


def q_fd_violations(spark, sf_dir):
    """Functional-dependency profiling over lineitem/orders: does
    l_orderkey → o_custkey hold through the join key, does suppkey →
    nationkey, and a deliberately violated pair (orderkey → shipdate)."""
    from area_etl_spark.operators.quality import fd_violations

    t = _tables(spark, sf_dir)
    li = t["lineitem"].join(
        t["orders"].select("o_orderkey", "o_custkey"),
        t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"],
    )
    df = li.select(
        "l_orderkey",
        "o_custkey",
        "l_suppkey",
        "l_shipdate",
    )
    return fd_violations(
        df,
        [("l_orderkey", "o_custkey"), ("l_suppkey", "l_orderkey"), ("l_orderkey", "l_shipdate")],
    )
def o_fd_violations() -> str:
    return """
            WITH j AS (
                SELECT l_orderkey, o_custkey, l_suppkey, l_shipdate
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            f1 AS (SELECT _a, COUNT(*) AS n FROM
                   (SELECT DISTINCT l_orderkey AS _a, o_custkey AS _b FROM j)
                   GROUP BY _a),
            f2 AS (SELECT _a, COUNT(*) AS n FROM
                   (SELECT DISTINCT l_suppkey AS _a, l_orderkey AS _b FROM j)
                   GROUP BY _a),
            f3 AS (SELECT _a, COUNT(*) AS n FROM
                   (SELECT DISTINCT l_orderkey AS _a, l_shipdate AS _b FROM j)
                   GROUP BY _a)
            SELECT 'l_orderkey' AS column_a, 'o_custkey' AS column_b,
                   COUNT(*) AS n_determinants,
                   CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violating,
                   CAST(MAX(n) AS BIGINT) AS max_fanout,
                   SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0 AS holds
            FROM f1
            UNION ALL
            SELECT 'l_suppkey', 'l_orderkey', COUNT(*),
                   CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(MAX(n) AS BIGINT),
                   SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0
            FROM f2
            UNION ALL
            SELECT 'l_orderkey', 'l_shipdate', COUNT(*),
                   CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(MAX(n) AS BIGINT),
                   SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0
            FROM f3
        """


def q_log2_histogram(spark, sf_dir):
    """Exponential histogram of order value cents: floor(log2) bins taken
    as integer bit length (length(bin(x))−1), never float log2 — exact at
    the power-of-two edges where libm rounding flips rows between engines."""
    from area_etl_spark.operators.quality import log2_histogram

    o = _tables(spark, sf_dir)["orders"].select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return log2_histogram(o, "cents")
def o_log2_histogram() -> str:
    return """
            WITH b AS (
                SELECT CAST(length(printf('%b', x)) - 1 AS INT) AS bin, x
                FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
                      FROM orders)
                WHERE x > 0
            )
            SELECT bin,
                   CAST(1 AS BIGINT) << bin AS lo,
                   (CAST(1 AS BIGINT) << (bin + 1)) - 1 AS hi,
                   COUNT(*) AS n_rows,
                   CAST(SUM(x) AS BIGINT) AS total
            FROM b GROUP BY bin
        """


def q_checksum_drilldown(spark, sf_dir):
    """Reconciliation drill-down: orders vs a deliberately damaged copy
    (every 1000th row deleted, every 997th mutated) compared as 64
    md5-bucketed commutative checksums — only the differing buckets come
    back, localizing a 100 TB diff without shipping rows."""
    from area_etl_spark.operators.quality import checksum_drilldown

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    damaged = o.where(F.col("o_orderkey") % 1000 != 1).withColumn(
        "cents",
        F.when(F.col("o_orderkey") % 997 == 0, F.col("cents") + 1).otherwise(
            F.col("cents")
        ),
    )
    out = checksum_drilldown(
        o, damaged, ["o_orderkey"], ["o_orderkey", "o_custkey", "cents"], buckets=64
    )
    # decimal(38,0) sums ride as strings for the driver gate (same
    # canonicalization note as q_table_checksum)
    return out.select(
        "bucket",
        "n_left",
        "n_right",
        F.col("sum_left").cast("string").alias("sum_left"),
        F.col("sum_right").cast("string").alias("sum_right"),
    )
def o_checksum_drilldown() -> str:
    return """
            WITH lft AS (
                SELECT o_orderkey, o_custkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), rgt AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 997 = 0 THEN cents + 1 ELSE cents END AS cents
                FROM lft WHERE o_orderkey % 1000 <> 1
            ), lb AS (
                SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT) % 64 AS bucket,
                       COUNT(*) AS n_left,
                       SUM(CAST('0x' || substr(md5(
                           CAST(o_orderkey AS VARCHAR) || chr(31)
                           || CAST(o_custkey AS VARCHAR) || chr(31)
                           || CAST(cents AS VARCHAR)), 1, 12) AS BIGINT)) AS sum_left
                FROM lft GROUP BY 1
            ), rb AS (
                SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12) AS BIGINT) % 64 AS bucket,
                       COUNT(*) AS n_right,
                       SUM(CAST('0x' || substr(md5(
                           CAST(o_orderkey AS VARCHAR) || chr(31)
                           || CAST(o_custkey AS VARCHAR) || chr(31)
                           || CAST(cents AS VARCHAR)), 1, 12) AS BIGINT)) AS sum_right
                FROM rgt GROUP BY 1
            )
            SELECT COALESCE(lb.bucket, rb.bucket) AS bucket,
                   n_left, n_right,
                   CAST(sum_left AS VARCHAR) AS sum_left,
                   CAST(sum_right AS VARCHAR) AS sum_right
            FROM lb FULL OUTER JOIN rb ON lb.bucket = rb.bucket
            WHERE n_left IS DISTINCT FROM n_right
               OR sum_left IS DISTINCT FROM sum_right
        """


def q_l_diversity(spark, sf_dir):
    """l-diversity privacy gate over orders: per (orderpriority,
    orderstatus) class, distinct customers — a k-anonymous class whose
    members share one sensitive value still leaks it."""
    from area_etl_spark.operators.quality import l_diversity

    return l_diversity(
        _tables(spark, sf_dir)["orders"],
        ["o_orderpriority", "o_orderstatus"],
        "o_custkey",
        l=5,
    )
def o_l_diversity() -> str:
    return """
            SELECT o_orderpriority, o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS class_size,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_sensitive,
                   COUNT(DISTINCT o_custkey) >= 5 AS is_l_diverse
            FROM orders GROUP BY 1, 2
        """


def q_quantile_ci(spark, sf_dir):
    """Distribution-free median CI per order priority (binomial rank
    bounds, order statistics at k = nq ± z√(nq(1−q))) — the 'p50 with
    error bars' SRE number; ranks from cumulative DISTINCT-value counts,
    never a raw-row sort."""
    from area_etl_spark.operators.quality import quantile_order_stat_ci

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return quantile_order_stat_ci(o, ["o_orderpriority"], "cents", q=0.5)
def o_quantile_ci() -> str:
    return """
            WITH o AS (
                SELECT o_orderpriority AS k,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS v
                FROM orders
            ), dv AS (
                SELECT k, v, COUNT(*) AS cnt FROM o GROUP BY 1, 2
            ), c AS (
                SELECT *,
                       SUM(cnt) OVER (PARTITION BY k ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       SUM(cnt) OVER (PARTITION BY k) AS n
                FROM dv
            ), f AS (
                SELECT *,
                       GREATEST(1, CAST(FLOOR(CAST(n AS DOUBLE) * 0.5
                           - 1.959964 * sqrt((CAST(n AS DOUBLE) * 0.5) * 0.5))
                           AS BIGINT)) AS k_lo,
                       LEAST(n, GREATEST(1, CAST(CEIL(CAST(n AS DOUBLE) * 0.5)
                           AS BIGINT))) AS k_pt,
                       LEAST(n, CAST(CEIL(CAST(n AS DOUBLE) * 0.5
                           + 1.959964 * sqrt((CAST(n AS DOUBLE) * 0.5) * 0.5))
                           AS BIGINT)) AS k_hi
                FROM c
            )
            SELECT k AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
                   MIN(CASE WHEN cum - cnt < k_lo AND k_lo <= cum THEN v END) AS lo,
                   MIN(CASE WHEN cum - cnt < k_pt AND k_pt <= cum THEN v END) AS point,
                   MIN(CASE WHEN cum - cnt < k_hi AND k_hi <= cum THEN v END) AS hi
            FROM f GROUP BY 1
        """


def q_calibration_curve(spark, sf_dir):
    """Reliability diagram table: customer account-balance percentile
    (scaled to [0,1e6]) as an 'order propensity' score vs the observed
    placed-an-order outcome, 10 fixed-width bins — mean predicted score vs
    outcome rate per bin from exact sums."""
    from area_etl_spark.operators.quality import calibration_curve

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal")
    )
    # deterministic percentile score without a global sort window: exact
    # rank via a self-aggregate would shuffle; percent_rank over the
    # |customers| table is the documented bounded case — instead scale the
    # balance linearly into [0, 1e6] over its fixed domain [-1000_00, 9999_99]
    score = F.least(
        F.lit(1_000_000),
        F.greatest(
            F.lit(0),
            F.floor((F.col("bal") + 100_000) * F.lit(1_000_000) / F.lit(1_100_000)).cast(
                "long"
            ),
        ),
    )
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    units = cust.join(ordered.withColumn("_o", F.lit(1)), "c_custkey", "left").select(
        score.alias("score"), F.col("_o").isNotNull().alias("placed")
    )
    return calibration_curve(units, "score", "placed", n_bins=10)
def o_calibration_curve() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                FROM customer
            ), sc AS (
                SELECT c_custkey,
                       LEAST(1000000, GREATEST(0,
                           CAST(FLOOR((bal + 100000) * 1000000 / 1100000) AS BIGINT)))
                           AS score
                FROM cust
            ), units AS (
                SELECT sc.score, (o.c IS NOT NULL) AS placed
                FROM sc LEFT JOIN (SELECT DISTINCT o_custkey AS c FROM orders) o
                  ON o.c = sc.c_custkey
            ), b AS (
                SELECT LEAST(9, GREATEST(0, CAST(FLOOR(score * 10 / 1000000) AS BIGINT))) AS bin,
                       score, placed
                FROM units
            )
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   round(CAST(SUM(CAST(score AS HUGEINT)) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 9) AS mean_score,
                   round(CAST(SUM(CASE WHEN placed THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 9) AS outcome_rate
            FROM b GROUP BY 1
        """


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration of the balance-derived propensity score
    vs the placed-an-order outcome - the closed-form minimax solution
    iso_i = max_{j<=i} min_{k>=i} rate(j..k) over the 10 calibration bins
    (Ayer et al. 1955): no iterative pooling, two bounded |bins|^2 joins,
    every segment rate one division of exact integer prefix sums."""
    from area_etl_spark.operators.quality import isotonic_calibration

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal")
    )
    score = F.least(
        F.lit(1_000_000),
        F.greatest(
            F.lit(0),
            F.floor((F.col("bal") + 100_000) * F.lit(1_000_000) / F.lit(1_100_000)).cast(
                "long"
            ),
        ),
    )
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    units = cust.join(ordered.withColumn("_o", F.lit(1)), "c_custkey", "left").select(
        score.alias("score"), F.col("_o").isNotNull().alias("placed")
    )
    return isotonic_calibration(units, "score", "placed", n_bins=10)
def o_isotonic_calibration() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                FROM customer
            ), sc AS (
                SELECT c_custkey,
                       LEAST(1000000, GREATEST(0,
                           CAST(FLOOR((bal + 100000) * 1000000 / 1100000) AS BIGINT)))
                           AS score
                FROM cust
            ), units AS (
                SELECT sc.score, (o.c IS NOT NULL) AS placed
                FROM sc LEFT JOIN (SELECT DISTINCT o_custkey AS c FROM orders) o
                  ON o.c = sc.c_custkey
            ), bins AS (
                SELECT LEAST(9, GREATEST(0, CAST(FLOOR(score * 10 / 1000000) AS BIGINT))) AS bin,
                       COUNT(*) AS n,
                       SUM(CASE WHEN placed THEN 1 ELSE 0 END) AS pos
                FROM units GROUP BY 1
            ), pref AS (
                SELECT bin, n, pos,
                       SUM(n) OVER (ORDER BY bin) AS cn,
                       SUM(pos) OVER (ORDER BY bin) AS cp
                FROM bins
            ), segments AS (
                SELECT lo.bin AS j, hi.bin AS k,
                       CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
                       / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS rate
                FROM pref lo JOIN pref hi ON lo.bin <= hi.bin
            ), inner_min AS (
                SELECT a.bin AS i, s.j, MIN(s.rate) AS mn
                FROM segments s JOIN pref a ON s.j <= a.bin AND a.bin <= s.k
                GROUP BY 1, 2
            ), iso AS (
                SELECT i AS bin, MAX(mn) AS iso FROM inner_min GROUP BY 1
            )
            SELECT p.bin, CAST(p.n AS BIGINT) AS n, CAST(p.pos AS BIGINT) AS pos,
                   round(CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE), 9) AS rate_raw,
                   round(iso.iso, 9) AS rate_iso
            FROM pref p JOIN iso ON iso.bin = p.bin
        """


def q_js_divergence(spark, sf_dir):
    """Jensen-Shannon drift between the first- and second-half order-value
    distributions - the bounded symmetric member of the drift family
    (psi magnitude, chi-square surprise, JSD bounded score): one-sided
    bins contribute p/2*ln2 exactly instead of being excluded."""
    from area_etl_spark.operators.quality import js_divergence

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    before = o.where(F.col("o_orderdate") < "1996-01-01")
    after = o.where(F.col("o_orderdate") >= "1996-01-01")
    return js_divergence(before, after, "cents", n_bins=10, lo=0, hi=60_000_000)
def o_js_divergence() -> str:
    return """
            WITH o AS (
                SELECT o_orderdate,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), bb AS (
                SELECT LEAST(9, GREATEST(0,
                           CAST(FLOOR(cents * 10 / 60000000) AS BIGINT))) AS bin,
                       COUNT(*) AS nb
                FROM o WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1
            ), ba AS (
                SELECT LEAST(9, GREATEST(0,
                           CAST(FLOOR(cents * 10 / 60000000) AS BIGINT))) AS bin,
                       COUNT(*) AS na
                FROM o WHERE o_orderdate >= TIMESTAMP '1996-01-01' GROUP BY 1
            ), tb AS (SELECT SUM(nb) AS tb FROM bb),
               ta AS (SELECT SUM(na) AS ta FROM ba),
            j AS (
                SELECT COALESCE(bb.bin, ba.bin) AS bin,
                       COALESCE(nb, 0) AS nb, COALESCE(na, 0) AS na
                FROM bb FULL OUTER JOIN ba ON bb.bin = ba.bin
            ), terms AS (
                SELECT bin, nb, na,
                       (CASE WHEN nb > 0 THEN
                            0.5 * (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
                            * ln(2.0 * (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
                                 / (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)
                                    + CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)))
                        ELSE 0.0 END)
                       + (CASE WHEN na > 0 THEN
                            0.5 * (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
                            * ln(2.0 * (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
                                 / (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)
                                    + CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)))
                        ELSE 0.0 END) AS t
                FROM j CROSS JOIN tb CROSS JOIN ta
            )
            SELECT CAST(SUM(nb) AS BIGINT) AS n_before,
                   CAST(SUM(na) AS BIGINT) AS n_after,
                   CAST(COUNT(*) AS BIGINT) AS n_bins_used,
                   round(GREATEST(0.0,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(t ORDER BY bin)),
                                   (a, b) -> a + b)), 9) AS jsd
            FROM terms
        """


def q_psi_drift(spark, sf_dir):
    """Population stability index of the order-value distribution, first
    half of the date range vs second half — per-bin (p−q)·ln(p/q) terms
    with the standard empty-bin exclusion; PSI magnitude complements
    drift_chi2's significance."""
    from area_etl_spark.operators.quality import psi_drift

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderdate", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    before = o.where(F.col("o_orderdate") < F.lit("1996-01-01"))
    after = o.where(F.col("o_orderdate") >= F.lit("1996-01-01"))
    return psi_drift(before, after, "cents", n_bins=10, lo=0, hi=60_000_000)
def o_psi_drift() -> str:
    return """
            WITH o AS (
                SELECT o_orderdate,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), bb AS (
                SELECT LEAST(9, GREATEST(0,
                           CAST(FLOOR(cents * 10 / 60000000) AS BIGINT))) AS bin,
                       COUNT(*) AS n_before
                FROM o WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1
            ), ba AS (
                SELECT LEAST(9, GREATEST(0,
                           CAST(FLOOR(cents * 10 / 60000000) AS BIGINT))) AS bin,
                       COUNT(*) AS n_after
                FROM o WHERE o_orderdate >= TIMESTAMP '1996-01-01' GROUP BY 1
            ), tb AS (SELECT SUM(n_before) AS tb FROM bb),
               ta AS (SELECT SUM(n_after) AS ta FROM ba),
            j AS (
                SELECT COALESCE(bb.bin, ba.bin) AS bin,
                       COALESCE(n_before, 0) AS n_before,
                       COALESCE(n_after, 0) AS n_after
                FROM bb FULL OUTER JOIN ba ON bb.bin = ba.bin
            )
            SELECT bin, CAST(n_before AS BIGINT) AS n_before,
                   CAST(n_after AS BIGINT) AS n_after,
                   round(CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE), 9) AS p_before,
                   round(CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE), 9) AS p_after,
                   round(CASE WHEN n_before > 0 AND n_after > 0 THEN
                       (CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE)
                        - CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE))
                       * ln((CAST(n_before AS DOUBLE) / CAST(tb AS DOUBLE))
                            / (CAST(n_after AS DOUBLE) / CAST(ta AS DOUBLE)))
                   END, 9) AS psi_term
            FROM j, tb, ta
        """


def q_t_closeness(spark, sf_dir):
    """t-closeness of nationkey (ordered sensitive attribute) within
    market-segment classes — exact common-denominator EMD, one division
    per class."""
    from area_etl_spark.operators.quality import t_closeness

    c = _tables(spark, sf_dir)["customer"]
    return t_closeness(c, ["c_mktsegment"], "c_nationkey", 0.1)
def o_t_closeness() -> str:
    return """
            WITH cell AS (
                SELECT c_mktsegment, c_nationkey, COUNT(*) AS c_gv
                FROM customer GROUP BY 1, 2
            ), cls AS (
                SELECT c_mktsegment, COUNT(*) AS n_g FROM customer GROUP BY 1
            ), vals AS (
                SELECT c_nationkey, COUNT(*) AS c_v FROM customer GROUP BY 1
            ), tot AS (
                SELECT COUNT(*) AS N, COUNT(DISTINCT c_nationkey) AS m FROM customer
            ), spine AS (
                SELECT cls.c_mktsegment, cls.n_g, vals.c_nationkey, vals.c_v,
                       COALESCE(cell.c_gv, 0) AS c_gv
                FROM cls CROSS JOIN vals
                LEFT JOIN cell USING (c_mktsegment, c_nationkey)
            ), cums AS (
                SELECT *,
                       SUM(c_gv) OVER w AS cum_cls,
                       SUM(c_v) OVER w AS cum_all
                FROM spine
                WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_nationkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ), g AS (
                SELECT c_mktsegment, MAX(n_g) AS class_size,
                       SUM(ABS(cum_cls * N - cum_all * n_g)) AS num,
                       MAX(N) AS N2, MAX(m) AS m2
                FROM cums, tot GROUP BY 1
            )
            SELECT c_mktsegment, CAST(class_size AS BIGINT) AS class_size,
                   round(CASE WHEN m2 > 1 THEN CAST(num AS DOUBLE)
                              / ((m2 - 1) * class_size * N2) ELSE 0.0 END, 6) + 0.0 AS emd,
                   round(CASE WHEN m2 > 1 THEN CAST(num AS DOUBLE)
                              / ((m2 - 1) * class_size * N2) ELSE 0.0 END, 6) <= 0.1 AS is_t_close
            FROM g
        """


def q_ece_brier(spark, sf_dir):
    """Brier / ECE / MCE of the balance-derived propensity score against
    the placed-an-order outcome — the one-row probability-quality summary
    the calibration_curve table drills into: Brier exact (integer
    micro-probability squared errors in DECIMAL), ECE a sorted-bin fold,
    MCE a deterministic max."""
    from area_etl_spark.operators.quality import ece_brier

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal")
    )
    score = F.least(
        F.lit(1_000_000),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col("bal") + 100_000) * F.lit(1_000_000) / F.lit(1_100_000)
            ).cast("long"),
        ),
    )
    ordered = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    units = cust.join(ordered.withColumn("_o", F.lit(1)), "c_custkey", "left").select(
        score.alias("score"), F.col("_o").isNotNull().alias("placed")
    )
    return ece_brier(units, "score", "placed", n_bins=10)
def o_ece_brier() -> str:
    return """
            WITH cust AS (
                SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                FROM customer
            ), sc AS (
                SELECT c_custkey,
                       LEAST(1000000, GREATEST(0,
                           CAST(FLOOR((bal + 100000) * 1000000 / 1100000) AS BIGINT)))
                           AS score
                FROM cust
            ), units AS (
                SELECT sc.score,
                       CASE WHEN o.c IS NOT NULL THEN 1 ELSE 0 END AS y
                FROM sc LEFT JOIN (SELECT DISTINCT o_custkey AS c FROM orders) o
                  ON o.c = sc.c_custkey
            ), base AS (
                SELECT score, y,
                       LEAST(9, GREATEST(0, CAST(FLOOR(score * 10 / 1000000) AS BIGINT))) AS b
                FROM units
            ), per_bin AS (
                SELECT b, COUNT(*) AS nb, SUM(y) AS pos,
                       SUM(CAST(score AS HUGEINT)) AS ssum
                FROM base GROUP BY 1
            ), bn AS (
                SELECT COUNT(*) AS n,
                       SUM((CAST(score AS HUGEINT) - 1000000 * y)
                           * (CAST(score AS HUGEINT) - 1000000 * y)) AS briern
                FROM base
            ), gaps AS (
                SELECT b, nb,
                       abs(CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)
                           - CAST(ssum AS DOUBLE)
                             / (CAST(nb AS DOUBLE) * 1000000.0)) AS gap
                FROM per_bin
            ), packed AS (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST(nb AS DOUBLE) * gap ORDER BY b)),
                           (a, s) -> a + s) AS wsum,
                       MAX(gap) AS mce
                FROM gaps
            )
            SELECT CAST(n AS BIGINT) AS n,
                   round(CAST(briern AS DOUBLE)
                         / (CAST(n AS DOUBLE) * 1000000.0 * 1000000.0), 9) AS brier,
                   round(wsum / CAST(n AS DOUBLE), 9) AS ece,
                   round(mce, 9) AS mce
            FROM packed CROSS JOIN bn
        """


def q_conformal_interval(spark, sf_dir):
    """Split-conformal interval for a fixed unit-price model of extended
    price: q̂ is the EXACT ⌈(n+1)(1−α)⌉-th order statistic of the
    absolute residuals (distinct-value cumulative counts, never a
    percentile approximation)."""
    from area_etl_spark.operators.quality import conformal_interval

    li = _tables(spark, sf_dir)["lineitem"].select(
        (F.col("l_quantity").cast("long") * 101800).alias("pred"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("actual"),
    )
    return conformal_interval(li, "pred", "actual", alpha=0.1)
def o_conformal_interval() -> str:
    return """
            WITH res AS (
                SELECT abs(CAST(round(l_extendedprice * 100) AS BIGINT)
                           - CAST(l_quantity AS BIGINT) * 101800) AS r
                FROM lineitem
            ), pr AS (
                SELECT r, COUNT(*) AS c FROM res GROUP BY 1
            ), tot AS (
                SELECT SUM(c) AS n FROM pr
            ), cum AS (
                SELECT r, n,
                       SUM(c) OVER (ORDER BY r
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
                FROM pr CROSS JOIN tot
            ), hit AS (
                -- q_index = ceil((n+1)*9/10) EXACT in integers (alpha = 1/10)
                SELECT * FROM cum
                WHERE cumc >= LEAST(((n + 1) * 9 + 9) // 10, n)
                ORDER BY r LIMIT 1
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(((n + 1) * 9 + 9) // 10 AS BIGINT) AS q_index,
                   CASE WHEN ((n + 1) * 9 + 9) // 10 <= n
                        THEN CAST(r AS BIGINT) END AS q_hat,
                   round(CASE WHEN ((n + 1) * 9 + 9) // 10 <= n
                        THEN LEAST(1.0, CAST(cumc AS DOUBLE) / CAST(n AS DOUBLE))
                   END, 6) AS coverage_at_qhat
            FROM hit
        """


def q_dp_noisy_counts(spark, sf_dir):
    """ε-DP event-type counts (Laplace mechanism, ε = 0.5) with the
    SEEDED engine-portable noise draw: md5 digits → uniform → inverse-CDF
    Laplace — same release, same noise, any engine."""
    from area_etl_spark.operators.quality import dp_noisy_counts

    ev = _tables(spark, sf_dir)["events"]
    return dp_noisy_counts(ev, "event_type", epsilon=0.5, seed="dp")
def o_dp_noisy_counts() -> str:
    return """
            WITH c AS (
                SELECT event_type AS grp, COUNT(*) AS n FROM events GROUP BY 1
            ), hx AS (
                SELECT grp, n, md5('dp:' || CAST(grp AS VARCHAR)) AS h FROM c
            ), dg AS (
                SELECT grp, n,
                       ascii(substr(h, 1, 1)) - CASE WHEN ascii(substr(h, 1, 1)) <= 57
                           THEN 48 ELSE 87 END AS d1,
                       ascii(substr(h, 2, 1)) - CASE WHEN ascii(substr(h, 2, 1)) <= 57
                           THEN 48 ELSE 87 END AS d2,
                       ascii(substr(h, 3, 1)) - CASE WHEN ascii(substr(h, 3, 1)) <= 57
                           THEN 48 ELSE 87 END AS d3,
                       ascii(substr(h, 4, 1)) - CASE WHEN ascii(substr(h, 4, 1)) <= 57
                           THEN 48 ELSE 87 END AS d4,
                       ascii(substr(h, 5, 1)) - CASE WHEN ascii(substr(h, 5, 1)) <= 57
                           THEN 48 ELSE 87 END AS d5,
                       ascii(substr(h, 6, 1)) - CASE WHEN ascii(substr(h, 6, 1)) <= 57
                           THEN 48 ELSE 87 END AS d6
                FROM hx
            ), uu AS (
                SELECT grp, n,
                       (CAST((((((d1 * 16 + d2) * 16 + d3) * 16 + d4) * 16 + d5)
                              * 16 + d6) AS DOUBLE) + 0.5) / 16777216.0 AS u
                FROM dg
            ), nz AS (
                SELECT grp, n,
                       -2.0 * (CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
                       * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
                FROM uu
            )
            SELECT grp, round(CAST(n AS DOUBLE) + noise, 6) AS noisy_count
            FROM nz
        """


def q_overdispersion_check(spark, sf_dir):
    """Poisson overdispersion screen of daily event counts per event
    type — dispersion ratio from exact DECIMAL sums, Cox-form z with the
    portable tail."""
    from area_etl_spark.operators.quality import overdispersion_check

    daily = (
        _tables(spark, sf_dir)["events"]
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return overdispersion_check(daily, "event_type", "x")
def o_overdispersion_check() -> str:
    return f"""
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
                FROM events GROUP BY 1, 2
            ), ag AS (
                SELECT event_type, COUNT(*) AS n,
                       SUM(CAST(x AS HUGEINT)) AS s,
                       SUM(CAST(x AS HUGEINT) * x) AS q
                FROM daily GROUP BY 1
            ), st AS (
                SELECT event_type, n,
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                       CAST(n * q - s * s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                           AS var
                FROM ag
            ), rr AS (
                SELECT *,
                       CASE WHEN n > 1 AND mean > 0 THEN var / mean END
                           AS ratio
                FROM st
            ), zz AS (
                SELECT *,
                       CASE WHEN ratio IS NOT NULL THEN
                           (ratio - 1.0) * sqrt(CAST(n AS DOUBLE) / 2.0)
                       END AS z
                FROM rr
            ), pp AS (
                SELECT *,
                       CASE WHEN z IS NOT NULL THEN
                           LEAST(1.0, 2.0 * {_normal_sf_sql("abs(z)")})
                       END AS p
                FROM zz
            )
            SELECT event_type,
                   CAST(n AS BIGINT) AS n,
                   round(CASE WHEN n > 0 THEN mean END, 9) AS mean,
                   round(CASE WHEN n > 1 THEN var END, 9) AS variance,
                   round(ratio, 9) AS dispersion,
                   round(z, 9) AS z,
                   round(p, 9) AS p_value,
                   CASE WHEN p IS NOT NULL
                        THEN p < 0.05 AND ratio > 1 END AS overdispersed
            FROM pp
        """


def q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of each customer's big-order rate —
    beta-binomial prior fitted by BINNED method of moments (exact
    integer histogram, fixed fold), posterior mean per customer."""
    from area_etl_spark.operators.quality import eb_shrinkage

    per = (
        _tables(spark, sf_dir)["orders"]
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)
            ).alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return eb_shrinkage(per, "cust", "x", "n", n_bins=1000)
def o_eb_shrinkage() -> str:
    return """
            WITH base AS (
                SELECT o_custkey AS k,
                       CAST(SUM(CASE WHEN o_totalprice > 150000
                                     THEN 1 ELSE 0 END) AS BIGINT) AS x,
                       COUNT(*) AS n
                FROM orders GROUP BY 1
            ), rated AS (
                SELECT k, x, n,
                       LEAST(999, CAST(FLOOR(CAST(x * 1000 AS DOUBLE)
                           / CAST(n AS DOUBLE)) AS INT)) AS b
                FROM base WHERE n > 0
            ), hist AS (
                SELECT b, COUNT(*) AS c FROM rated GROUP BY 1
            ), mom AS (
                SELECT SUM(c) AS m0,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST(c AS DOUBLE)
                                * ((CAST(b AS DOUBLE) + 0.5) / 1000.0)
                                ORDER BY b)), (a, s) -> a + s) AS s1,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST(c AS DOUBLE)
                                * ((CAST(b AS DOUBLE) + 0.5) / 1000.0)
                                * ((CAST(b AS DOUBLE) + 0.5) / 1000.0)
                                ORDER BY b)), (a, s) -> a + s) AS s2
                FROM hist
            ), pr AS (
                SELECT m0,
                       s1 / CAST(m0 AS DOUBLE) AS mean,
                       s2 / CAST(m0 AS DOUBLE)
                           - (s1 / CAST(m0 AS DOUBLE))
                             * (s1 / CAST(m0 AS DOUBLE)) AS var
                FROM mom
            ), pri AS (
                SELECT CASE WHEN m0 > 1 AND var > 0 AND mean > 0 AND mean < 1
                             AND mean * (1.0 - mean) / var - 1.0 > 0
                            THEN mean * (mean * (1.0 - mean) / var - 1.0)
                       END AS alpha,
                       CASE WHEN m0 > 1 AND var > 0 AND mean > 0 AND mean < 1
                             AND mean * (1.0 - mean) / var - 1.0 > 0
                            THEN (1.0 - mean)
                                 * (mean * (1.0 - mean) / var - 1.0)
                       END AS beta,
                       CASE WHEN m0 > 0 THEN mean END AS pmean
                FROM pr
            ), j AS (
                SELECT k, x, n, alpha, beta, pmean,
                       CASE WHEN n > 0 THEN CAST(x AS DOUBLE)
                            / CAST(n AS DOUBLE) END AS raw
                FROM base CROSS JOIN pri
            )
            SELECT k AS cust,
                   x AS successes, n AS trials,
                   round(raw, 9) AS rate_raw,
                   round(CASE WHEN alpha IS NOT NULL THEN
                           (CAST(x AS DOUBLE) + alpha)
                           / (CAST(n AS DOUBLE) + alpha + beta)
                        ELSE COALESCE(raw, pmean) END, 9) AS rate_shrunk,
                   round(alpha, 9) AS alpha,
                   round(beta, 9) AS beta
            FROM j
        """


def q_disproportionality(spark, sf_dir):
    """PRR/ROR disproportionality of short documents per source — which
    sources are over-represented among quality failures; exact 2×2
    integer counts, Evans signal rule (PRR ≥ 2, a ≥ 3)."""
    from area_etl_spark.operators.quality import disproportionality

    d = _tables(spark, sf_dir)["documents"].select(
        "source", (F.col("n_chars") < 200).alias("short")
    )
    return disproportionality(d, "source", "short")
def o_disproportionality() -> str:
    return """
            WITH base AS (
                SELECT source AS i,
                       CASE WHEN n_chars < 200 THEN 1 ELSE 0 END AS f
                FROM documents WHERE source IS NOT NULL
            ), per AS (
                SELECT i, SUM(f) AS a, SUM(1 - f) AS b FROM base GROUP BY 1
            ), tot AS (
                SELECT SUM(f) AS ta, SUM(1 - f) AS tb FROM base
            ), j AS (
                SELECT i, a, b, ta - a AS c, tb - b AS d
                FROM per CROSS JOIN tot
            ), st AS (
                SELECT *,
                       CASE WHEN a + b > 0 AND c > 0 THEN
                           (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE)
                                                 + CAST(b AS DOUBLE)))
                           / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE)
                                                   + CAST(d AS DOUBLE)))
                       END AS prr,
                       a > 0 AND b > 0 AND c > 0 AND d > 0 AS all_pos
                FROM j
            ), rr AS (
                SELECT *,
                       CASE WHEN all_pos THEN
                           CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                           / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END AS ror,
                       1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                                   + 1.0 / CAST(b AS DOUBLE)
                                   + 1.0 / CAST(c AS DOUBLE)
                                   + 1.0 / CAST(d AS DOUBLE)) AS half
                FROM st
            )
            SELECT i AS source,
                   CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
                   CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
                   round(prr, 9) AS prr,
                   round(ror, 9) AS ror,
                   round(CASE WHEN all_pos THEN exp(ln(ror) - half) END, 9)
                       AS ror_lo,
                   round(CASE WHEN all_pos THEN exp(ln(ror) + half) END, 9)
                       AS ror_hi,
                   CASE WHEN prr IS NOT NULL
                        THEN prr >= 2.0 AND a >= 3 END AS signal
            FROM rr
        """
