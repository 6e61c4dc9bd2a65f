"""Surrogate-key assignment — global dense ids at scale.

The naive form, ``row_number() OVER (ORDER BY key)`` with no PARTITION BY,
funnels the entire table through ONE reducer — the classic scale-killer.
``dense_ids`` produces the identical numbering with no single-partition
stage:

1. range-repartition on the order key (each partition owns a key range, in
   order) and sort within partitions;
2. count rows per partition — a tiny aggregate, one row per partition;
3. prefix-sum the counts on the driver (bounded: one int per partition) and
   fold the offsets back in as a plan-literal map;
4. id = offset[partition] + row_number within the partition.

Every stage is bounded: the heavy data moves through ONE range shuffle, and
only O(partitions) integers touch the driver.  The result equals
``row_number() OVER (ORDER BY order_cols)`` for any partition count —
which is exactly what a SQL oracle can replay.

Caveat: ``order_cols`` must be a total order (include a unique tiebreak) or
ids within ties are partition-placement-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from area_etl_spark.operators.expressions import materialize


def dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "dense_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a 1-based global dense id in ``order_cols`` order (total order
    required), with no single-partition window."""
    parts = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        if num_partitions
        else df.repartitionByRange(*[F.col(c) for c in order_cols])
    )
    # The count pass and the id pass MUST see the same partition boundaries.
    # Range bounds come from sampling, and a re-execution (with AQE free to
    # re-shape the upstream stages) can sample different bounds — pin the
    # partitioning by materializing it once.  At lake scale the equivalent
    # stable snapshot is the written range layout itself
    # (``sources.load.write_range_layout``), not an in-memory checkpoint.
    staged = materialize(parts.withColumn("_pid", F.spark_partition_id()), eager=True)
    counts = {r._pid: r.n for r in staged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    if not counts:  # empty input: keep the schema, no map literal to build
        return df.withColumn(id_name, F.lit(None).cast("long"))
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        staged.withColumn(
            id_name,
            (F.element_at(offset_map, F.col("_pid")) + F.row_number().over(w)).cast("long"),
        )
        .drop("_pid")
    )


def scalable_ntile(
    df: DataFrame,
    order_cols: list[str],
    buckets: int,
    out_col: str = "ntile",
) -> DataFrame:
    """``NTILE(b) OVER (ORDER BY ...)`` without the single-partition sort —
    the window every segmentation job (RFM, decile reports, equal-depth
    splits) reaches for, made 100 TB-safe: the 1-based global rank comes
    from :func:`dense_ids` (range shuffle + per-partition offsets, every
    partition sorted in parallel) and NTILE's published piecewise split —
    the first ``N mod b`` buckets take ``N div b + 1`` rows, the rest
    ``N div b`` — is then a pure integer projection of (rank, N),
    bit-identical to the window function because the order is total
    (``order_cols`` must be tie-free; append a key column).  Rank-based by
    design: value-boundary binning (equidepth_histogram) breaks equal
    depth on heavy ties, rank splitting cannot.  Cost: one count job + one
    range shuffle; no data-sized partition anywhere.
    """
    ranked = dense_ids(df, order_cols, "_sn_rank")
    n_rows = ranked.count()
    if n_rows == 0:
        return ranked.drop("_sn_rank").withColumn(out_col, F.lit(None).cast("int"))
    base, rem = divmod(n_rows, buckets)
    if base == 0:  # fewer rows than buckets: ntile gives bucket = rank
        return ranked.withColumn(out_col, F.col("_sn_rank").cast("int")).drop("_sn_rank")
    split = rem * (base + 1)
    tile = (
        F.when(
            F.col("_sn_rank") <= F.lit(split),
            F.expr(f"(_sn_rank + {base}) div {base + 1}"),
        )
        .otherwise(F.lit(rem) + F.expr(f"(_sn_rank - {split} + {base - 1}) div {base}"))
        .cast("int")
    )
    return ranked.withColumn(out_col, tile).drop("_sn_rank")


def rendezvous_assign(
    df: DataFrame,
    key_col: str,
    nodes: list[str],
    out_col: str = "assigned_node",
) -> DataFrame:
    """Rendezvous / highest-random-weight (HRW) hashing (Thaler & Ravishankar
    '96) — consistent assignment of keys to nodes/shards: each key goes to
    argmax over nodes of md5(node ':' key).  Removing a node moves ONLY the
    keys that were assigned to it (every other key's argmax is unchanged) —
    the property modulo-hashing lacks and the reason stateful services and
    shard routers use HRW.

    Engine-portable argmax with zero extra state: md5 hex is fixed-width
    32 chars, so ``greatest(md5 || node)`` compares hash first and breaks
    exact-collision ties by larger node name; the winner's name is
    ``substr(.., 33)``.  Pure narrow whole-stage-codegen projection — NO
    shuffle, NO lookup table, scales with the scan.
    """
    if not nodes:
        raise ValueError("rendezvous_assign needs at least one node")
    c = F.col(key_col).cast("string")
    tagged = [
        F.concat(F.md5(F.concat_ws(":", F.lit(n), c)), F.lit(n)) for n in sorted(nodes)
    ]
    best = tagged[0] if len(tagged) == 1 else F.greatest(*tagged)
    return df.withColumn(out_col, F.substring(best, 33, 2_000_000))
