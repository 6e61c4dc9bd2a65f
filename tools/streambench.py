"""Streaming sink tier measurement (VERDICT r8 item 5) — what a snapshot
rewrite actually costs as the table grows, vs the partitioned append tier.

    python tools/streambench.py [base_rows ...]

For each base size N: publish an N-row snapshot, then drive ONE 10k-row
micro-batch through (a) make_versioned_appender — which rewrites the whole
snapshot (O(table) per batch, the dimension tier) — and (b) the
batch-partitioned append layout (incremental_ingest's write unit: one new
batch_id partition, O(batch) per batch).  The appender's per-batch cost must
grow ~linearly with N while the partitioned append stays flat; docs/SCALE.md
§Streaming records the curve.  This is why the sinks now enforce
max_snapshot_rows: at fact scale the rewrite tier is quadratic total I/O.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from area_etl_spark.session import get_spark  # noqa: E402
from area_etl_spark.streaming.ingestion import make_versioned_appender  # noqa: E402


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 400_000, 1_600_000, 6_400_000]
    batch_rows = 10_000
    spark = get_spark("streambench")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'base rows':>12} {'snapshot rewrite':>18} {'partitioned append':>20}")
    for n in sizes:
        root = tempfile.mkdtemp(prefix="streambench_")
        try:
            pad = F.repeat(F.lit("x"), 200).alias("pad")  # realistic row width
            base = spark.range(n).select(
                F.col("id").alias("k"), (F.col("id") % 997).alias("v"), pad
            )
            batch = spark.range(batch_rows).select(
                (F.col("id") + n).alias("k"), (F.col("id") % 997).alias("v"), pad
            )
            appender = make_versioned_appender(
                f"{root}/snap", max_snapshot_rows=100_000_000
            )
            appender(base, batch_id=0)  # seed the snapshot
            t0 = time.perf_counter()
            appender(batch, batch_id=1)
            t_rewrite = time.perf_counter() - t0

            base.write.partitionBy().parquet(f"{root}/part/batch_id=0")
            t0 = time.perf_counter()
            batch.write.parquet(f"{root}/part/batch_id=1")
            t_append = time.perf_counter() - t0
            print(f"{n:>12,} {t_rewrite:>16.2f} s {t_append:>18.2f} s")
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
