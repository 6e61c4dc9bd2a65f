"""Query registry: one record per query key, grouped into family modules.

A record is a builder ``q_<key>(spark, sf_dir) -> DataFrame`` with its DuckDB
oracle ``o_<key>() -> str`` directly below it.  The six rows-only keys
(seeded xxhash64 signatures, Spark-RNG sampling and zlib byte counts, which
have no cross-engine oracle) have no ``o_`` function.  The key is written
once, in those function names; ``builders()`` and ``oracles()`` collect them.

Grouping rule: a record lives in the family of the engine module its builder
calls, as each family's docstring lists; a builder written with plain
DataFrame code goes where its subject is (group-bys and joins in
``relational``, window functions in ``timeseries``, user-event analytics in
``events``).  A helper used by one family sits in that family, just above its
first user.  Builder helpers shared across families live in ``_common``;
oracle SQL fragments shared across families, and the common expressions
many oracles splice in, live in ``_sql``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from area_etl_spark.registry import (
    business,
    dedup,
    events,
    graph,
    ml,
    quality,
    recasts,
    relational,
    retrieval,
    sources,
    stats,
    text,
    timeseries,
    web,
)

FAMILIES = (
    recasts, sources, relational, timeseries, events, text, web,
    retrieval, dedup, graph, stats, quality, ml, business,
)


def _records(prefix: str) -> Iterator[tuple[str, Callable]]:
    for mod in FAMILIES:
        for name, fn in vars(mod).items():
            if name.startswith(prefix) and getattr(fn, "__module__", None) == mod.__name__:
                yield name[len(prefix):], fn


def builders() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query key → its builder, family by family in definition order."""
    return dict(_records("q_"))


def oracles() -> dict[str, str]:
    """Every oracled query key → its DuckDB SQL."""
    return {key: fn() for key, fn in _records("o_")}
