"""Builder helpers shared across families: the per-run table catalog, scratch
paths, the fixed clock and the checkout's seed file."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from area_etl_spark.session import load_tables_lazy


# The checkout root: this file sits in area_etl_spark/registry/.
REPO_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED_CSV = os.path.join(REPO_DIR, "seed", "regions.csv")

# Fixed "now" so coalesce-ladder fallbacks are reproducible across engines.
FIXED_NOW = datetime(2026, 1, 1, 0, 0, 0)


# One catalog per (application, sf_dir): tables open lazily on first access
# and the driver-side parquet footer/schema read is paid once, not once per
# query.  Keyed on applicationId (not id(session) — id() values can be
# recycled after GC, handing a new session another session's cached frames);
# bounded because a process hosts O(1) applications.
_CATALOGS: dict[tuple[str, str], dict] = {}


def _run_tmp(spark: SparkSession, *parts: str) -> str:
    """Per-run scratch path: keyed by applicationId so two concurrent sessions
    (e.g. the driver's gate and a local bench) can never overwrite each
    other's write-then-read-back outputs mid-read."""
    return os.path.join(
        tempfile.gettempdir(), f"area_etl_run_{spark.sparkContext.applicationId}", *parts
    )


def _tables(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    cat = _CATALOGS.get(key)
    if cat is None:
        cat = load_tables_lazy(spark, sf_dir)
        _CATALOGS[key] = cat
    return cat


def _query_vec(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    row = emb.where(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row[0]]
