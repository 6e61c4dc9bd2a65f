"""Streaming distribution-drift monitor — PSI per micro-batch against a
frozen baseline.

``drift_monitor_sink`` wires the batch ``psi_drift`` operator into a
Structured Streaming ``foreachBatch`` sink: every micro-batch's value
distribution is binned and compared to a BASELINE snapshot (the training /
reference window, persisted once), and one summary row per batch —
(batch_id, n_rows, psi, n_bins_used) — appends to a monitor table.  This is
the always-on ops tier of the drift family: psi_drift measures magnitude,
drift_chi2 significance, and this sink turns either into a per-batch time
series an alert can threshold (PSI > 0.25 = investigate).

Scale: the baseline is read once per batch but it is an ≤ n_bins AGGREGATE
(persist the binned counts, not the raw window); each batch pass is one
map-side-combined bin count.  Idempotence: the monitor table partitions by
``batch_id`` with dynamic partition overwrite, so a replayed micro-batch
rewrites its own row instead of double-counting (the ingestion.py recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from area_etl_spark.operators.quality import psi_bin_counts, psi_from_bin_counts


def write_baseline_bins(
    baseline: DataFrame,
    value_col: str,
    out_dir: str,
    n_bins: int = 10,
    lo: int = 0,
    hi: int = 1_000_000,
) -> None:
    """Persist the reference window as BINNED COUNTS (≤ n_bins rows) — the
    monitor never rescans the raw baseline."""
    psi_bin_counts(baseline, value_col, n_bins, lo, hi).write.mode(
        "overwrite"
    ).parquet(out_dir)


def make_drift_monitor(
    baseline_dir: str,
    monitor_dir: str,
    value_col: str,
    n_bins: int = 10,
    lo: int = 0,
    hi: int = 1_000_000,
):
    """The foreachBatch body, exposed so tests can drive batches directly.

    Each call computes PSI(baseline → batch) and appends one row to the
    monitor table, partitioned by batch_id (replay-idempotent)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        nb = spark.read.parquet(baseline_dir).withColumnRenamed("n", "n_before")
        na = psi_bin_counts(batch_df, value_col, n_bins, lo, hi).withColumnRenamed(
            "n", "n_after"
        )
        report = psi_from_bin_counts(nb, na)
        summary = report.agg(
            F.sum("n_after").alias("n_rows"),
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("bin"), F.col("psi_term")))
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + F.coalesce(s.getField("psi_term"), F.lit(0.0)),
                ),
                9,
            ).alias("psi"),
            F.sum(F.when(F.col("psi_term").isNotNull(), 1).otherwise(0)).alias(
                "n_bins_used"
            ),
        ).withColumn("batch_id", F.lit(batch_id))
        (
            summary.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(monitor_dir)
        )

    return _apply


def drift_monitor_sink(
    stream: DataFrame,
    baseline_dir: str,
    monitor_dir: str,
    checkpoint_dir: str,
    value_col: str,
    **kwargs,
):
    """Attach the drift monitor to a stream; returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(
            make_drift_monitor(baseline_dir, monitor_dir, value_col, **kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
