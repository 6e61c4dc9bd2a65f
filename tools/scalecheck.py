"""Scaling measurement: time representative queries at sf0.001 / 0.01 / 0.1
(1× / 10× / 100× rows) and report the wall-time growth ratio per decade.

    python tools/scalecheck.py [query ...]

A linear-work operator on a fixed-size executor pool should grow wall time
by ≲10× per 10× data once past fixed overhead; super-linear growth exposes
the quadratic blowups this engine is designed to avoid (all-pairs joins,
unbounded bucket expansion, single-partition funnels).  On local[32] the
small SFs are overhead-dominated (JVM + planning ≈ 0.1–0.3 s), so the
meaningful signal is the LAST ratio (0.01 → 0.1); results land in
docs/SCALE.md §Measured scaling.

Warm best-of-2 per (query, sf), one shared session — the same methodology
as bench.py and skewbench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from area_etl_spark.session import get_spark  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# one per operator family: scan+agg, join, window, dedup chain, LSH,
# text HOFs, graph iteration, interval islands, ANN
DEFAULT = [
    "groupby_agg",
    "tpch_q3ish",
    "window_rolling_agg",
    "dedup_exact",
    "dedup_minhash_portable",
    "text_quality_score",
    "merge_intervals",
    "pagerank",
    "ann_pq_topk",
    "dedup_paragraphs",
    "events_sessionization",
    "salted_join_skew",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    qs = entrymod.queries()
    spark = get_spark("scalecheck")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'query':28s} {'sf0.001':>8s} {'sf0.01':>8s} {'sf0.1':>8s}  {'x(10)':>6s} {'x(100)':>6s}")
    for name in names:
        fn = qs[name]
        times = []
        for sf_dir in SF_DIRS:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            times.append(best)
        r1 = times[1] / times[0] if times[0] > 0 else float("nan")
        r2 = times[2] / times[1] if times[1] > 0 else float("nan")
        print(
            f"{name:28s} {times[0]:8.2f} {times[1]:8.2f} {times[2]:8.2f}  {r1:6.1f} {r2:6.1f}"
        )


if __name__ == "__main__":
    main()
