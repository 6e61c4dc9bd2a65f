"""Poisson-bootstrap confidence intervals — uncertainty at corpus scale.

The classical bootstrap resamples n rows WITH replacement B times — at
100 TB that is B full shuffles of a multinomial draw that needs global
coordination.  The Poisson bootstrap (Hanley & MacGibbon 2006; the standard
large-scale substitute) replaces each row's multinomial count with an
independent Poisson(1) draw: per (row, replicate) a count in {0,1,2,…},
no coordination, embarrassingly parallel, and the replicate statistics
converge to the same distribution.

Determinism/portability: the draw is the first 16 bits of
``md5(id '#' replicate)`` (the [[sample-hash]] idiom) inverted through the
Poisson(1) CDF as FIXED integer thresholds on [0, 65536) — the same CASE
expression evaluates identically in any engine, so the "random" resample
is exactly reproducible across runs, partitionings, and the DuckDB oracle.

Scale shape: B-way narrow fan-out → one (keys, replicate) aggregation of
exact integer sums → one percentile aggregate over B replicate means per
key.  Shuffle volume is O(keys·B) partials; nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# P(Poisson(1) ≤ k) · 65536, k = 0..6; draws ≥ the last threshold cap at 7
POISSON1_THRESHOLDS = (24109, 48218, 60273, 64291, 65296, 65497, 65530)


def poisson_count(draw16) -> "F.Column":
    """Map a uniform 16-bit integer draw to a Poisson(1) count (capped at 7)."""
    expr = F.lit(len(POISSON1_THRESHOLDS))
    for k in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        expr = F.when(draw16 < POISSON1_THRESHOLDS[k], F.lit(k)).otherwise(expr)
    return expr


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    value_col: str,
    n_replicates: int = 50,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-key percentile CI for the mean of ``value_col`` (integer units).

    Returns (keys, point_mean, ci_lo, ci_hi): the point estimate from the
    full data and the [lo, hi] percentile of the B Poisson-replicate means.
    Values must be integers (cents) so replicate sums are exact; the only
    floats are the B per-replicate divisions and the final interpolated
    percentile, both rounded to 6 digits.
    """
    reps = F.explode(
        F.array(*[F.lit(b) for b in range(n_replicates)])
    ).alias("_b")
    drawn = df.select(*keys, F.col(id_col), F.col(value_col).alias("_x"), reps)
    h = F.md5(
        F.concat_ws("#", F.col(id_col).cast("string"), F.col("_b").cast("string"))
    )
    draw16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
    counted = drawn.withColumn("_c", poisson_count(draw16))
    rep_means = counted.groupBy(*keys, "_b").agg(
        F.round(
            F.sum(F.col("_x") * F.col("_c")).cast("double")
            / F.sum("_c").cast("double"),
            6,
        ).alias("_mean_b")
    )
    ci = rep_means.groupBy(*keys).agg(
        F.round(F.percentile(F.col("_mean_b"), F.lit(lo)), 6).alias("ci_lo"),
        F.round(F.percentile(F.col("_mean_b"), F.lit(hi)), 6).alias("ci_hi"),
    )
    point = df.groupBy(*keys).agg(
        F.round(
            F.sum(F.col(value_col)).cast("double") / F.count(F.lit(1)), 6
        ).alias("point_mean")
    )
    return point.join(ci, keys)
