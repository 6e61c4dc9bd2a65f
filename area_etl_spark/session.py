"""SparkSession + table-catalog helpers.

The reference wires one ``ETLContext`` holding every source/target engine
(``/root/reference/src/utils.py:16-45``).  Here the analogous context is a
``SparkSession`` plus a directory of parquet tables; views are registered so
both the DataFrame API and ``spark.sql`` can address them.

Scale notes: AQE is enabled (runtime coalesce + skew-join splitting), and
``spark.sql.shuffle.partitions`` defaults to a local-friendly 32 — on a real
cluster this is overridden by AQE's coalescing against the configured
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they are
# bounded by the domain, not by sf — mirrors the reference's enum/lookup
# tables such as AUAC_USR.TIPO_DELIBERA).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

# The driver's parquet stamps these as TIMESTAMP(NANOS) which Spark's vectorized
# reader refuses; we read them as raw nanosecond longs
# (spark.sql.legacy.parquet.nanosAsLong) and rebuild microsecond timestamps.
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def get_spark(app_name: str = "area-etl-spark") -> SparkSession:
    """Build (or reuse) the session with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Cluster-posture knobs, env-overridable so the same code runs local[32]
    # and a 1000-executor cluster without edits:
    #  - SHUFFLE_PARTITIONS: local default 32; on a cluster set ~2-3× total
    #    cores as the AQE *initial* number and let coalescing shrink it.
    #  - MAX_PARTITION_BYTES: scan split size; default 128m keeps tasks
    #    memory-safe — raise on clusters with fat executors to cut task count.
    #  - BROADCAST_THRESHOLD: dimension-side auto-broadcast cap; raise when
    #    executor memory allows so star joins skip their shuffles.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    max_part_bytes = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")
    bcast = os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", "10m")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.files.maxPartitionBytes", max_part_bytes)
        .config("spark.sql.autoBroadcastJoinThreshold", bcast)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed-table demos/tests) goes to tmp,
        # never the repo checkout; real deployments point this at the lake
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), f"spark-warehouse-{os.getuid()}"),
            ),
        )
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if SparkSession.builder._options.get("spark.master") is None:  # noqa: SLF001
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


class LazyTables(dict):
    """Table catalog that opens each parquet table on first access.

    ``spark.read.parquet`` costs a driver-side footer/schema read per table;
    a catalog of N tables must not pay that N times for a query touching one
    table.  Missing keys load (and view-register) on demand and are then
    cached for the life of the mapping.  Loads are serialized, so threads
    sharing the catalog (the runner's concurrent pipelines) open each table
    once.
    """

    def __init__(self, spark: SparkSession, sf_dir: str, register_views: bool) -> None:
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir
        self._register_views = register_views
        self._lock = threading.Lock()

    def __missing__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        with self._lock:
            if name in self:  # another thread loaded it while we waited
                return self[name]
            df = _read_table(self._spark, self._sf_dir, name)
            if df is None:
                raise KeyError(name)
            if self._register_views:
                df.createOrReplaceTempView(name)
            self[name] = df
            return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        return None
    df = spark.read.parquet(path)
    for ts_col in NANO_TS_COLS.get(name, ()):
        if ts_col not in df.columns:
            continue
        dtype = dict(df.dtypes)[ts_col]
        if dtype == "bigint":
            # integer division keeps full precision (ns values exceed 2^53)
            df = df.withColumn(
                ts_col, F.expr(f"timestamp_micros(CAST({ts_col} DIV 1000 AS BIGINT))")
            )
        elif dtype == "timestamp_ntz":
            # newer driver data stamps TIMESTAMP(MICROS, tz-naive) → Spark
            # reads TIMESTAMP_NTZ, which event-time watermarks reject
            # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  Session tz is pinned
            # to UTC in get_spark, so this cast is wall-clock preserving.
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def load_tables_lazy(spark: SparkSession, sf_dir: str, register_views: bool = True) -> LazyTables:
    """Lazy catalog: tables load on first subscript (see ``LazyTables``)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001
        pass
    return LazyTables(spark, sf_dir, register_views)


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True) -> dict[str, DataFrame]:
    """Load every testdata parquet table under ``sf_dir``.

    Mirrors the reference's per-pipeline ``extract_data`` calls
    (``src/utils.py:150``) but lazily: ``spark.read.parquet`` only records
    the scan in the logical plan, so column pruning and predicate pushdown
    reach the files regardless of how many tables are "loaded".
    """
    try:
        # Needed for this driver's TIMESTAMP(NANOS) parquet regardless of who
        # built the session; runtime-settable legacy SQL conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - session may forbid runtime set; reader may still cope
        pass
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = _read_table(spark, sf_dir, name)
        if df is None:
            continue
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out
