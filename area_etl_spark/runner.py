"""ETL orchestration — the reference's ``main.py`` module driver, Spark-first.

Parity: ``/root/reference/main.py:35-70`` runs the selected ``migrate_*``
modules sequentially over one connection context, timing each.  Here a
module is a named set of pipeline plans over the table catalog; ``run``
materializes each plan into the target lake as a staged overwrite (the
reference's truncate+reload idiom, ``src/utils.py:226``): written aside and
renamed into place, so a failed write keeps the previous table.  Tables are
partitioned where the plan declares it.

Every pipeline is an independent plan: each reads only the source catalog,
never another pipeline's lake table.  ``run`` therefore submits them all
through one thread pool of ``min(pipelines, defaultParallelism)`` workers
(Spark job submission is thread-safe, and the jobs share the executors
under the session's scheduler).  A single small plan leaves most slots
idle while the driver plans and commits it; concurrent pipelines fill
those gaps.  Timings, the ledger and the per-pipeline log lines follow
spec order whatever order the pipelines finish in.

Failure: once a pipeline raises, pipelines that have not started never
start; the running ones finish and publish their tables.  ``run`` then
re-raises the first failed pipeline's own exception, in spec order, with
a ``runner pipeline: <module>.<name>`` note.  Each table stays atomic on
its own; there is no cross-table transaction.
"""

from __future__ import annotations

import argparse
import logging
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from area_etl_spark.plans import pipelines as P
from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS, enforce_contract
from area_etl_spark.session import get_spark, load_tables_lazy
from area_etl_spark.sources.extract import extract_csv
from area_etl_spark.sources.load import reload_overwrite, write_versioned


@dataclass
class PipelineSpec:
    """One target table: name, plan builder, optional hive partitioning.

    ``build`` takes (spark, tables, now) — ``now`` is the run's shared audit
    clock, resolved ONCE per ``run()`` invocation; builders that don't stamp
    timestamps ignore it.
    """

    name: str
    build: Callable[[SparkSession, dict, datetime], DataFrame]
    partition_by: list[str] = field(default_factory=list)


def _plain(build: Callable[[dict], DataFrame]) -> Callable[[SparkSession, dict, datetime], DataFrame]:
    return lambda spark, tables, now: build(tables)


def _districts(spark: SparkSession, tables: dict, now: datetime) -> DataFrame:
    import os

    seed_csv = os.environ.get(
        "AREA_ETL_SEED_CSV",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "seed", "regions.csv"),
    )
    seed = extract_csv(spark, seed_csv, schema_overrides={"region_code": "string"})
    return P.districts_pipeline(tables, seed)


def _with_now(build: Callable[[dict, datetime], DataFrame]) -> Callable[[SparkSession, dict, datetime], DataFrame]:
    """Recasts taking an audit-clock argument get the run's wall clock —
    one shared ``now`` per runner INVOCATION (the reference's
    ``handle_timestamps()`` default), naive UTC like the lake timestamps.
    ``now`` is resolved inside ``run()``, not at module import: a long-lived
    process invoking the runner repeatedly must stamp each run with its own
    clock, not the first import's."""
    return lambda spark, tables, now: build(tables, now)


def _corpus_clean(spark: SparkSession, tables: dict, now: datetime) -> DataFrame:
    """Line filter → cross-document paragraph dedup, the two cleaning passes
    in corpus order."""
    from area_etl_spark.operators.cleaning import c4_line_filter, dedup_paragraphs

    docs = tables["documents"].select(
        "doc_id", "lang", "source", c4_line_filter("text", min_words=2, require_terminal_punct=False).alias("text")
    )
    deduped = dedup_paragraphs(docs, text_col="text", id_col="doc_id")
    return docs.select("doc_id", "lang", "source").join(deduped, "doc_id")


def _corpus_survivors(spark: SparkSession, tables: dict, now: datetime) -> DataFrame:
    """Near-dup collapse keeping the longest document per cluster — the
    SAME shared composition the driver-contract query oracles
    (operators/graph.py:near_dup_survivors)."""
    from area_etl_spark.operators.graph import near_dup_survivors

    return near_dup_survivors(tables["documents"])


def _corpus_packed(spark: SparkSession, tables: dict, now: datetime) -> DataFrame:
    """Token-budget sequence packing over the corpus."""
    from area_etl_spark.operators import text_analysis as TA
    from area_etl_spark.operators.packing import pack_sequences

    docs = tables["documents"].select(
        "doc_id", TA.token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, "n_tokens", budget=512, id_col="doc_id")


def _corpus_report(spark: SparkSession, tables: dict, now: datetime) -> DataFrame:
    from area_etl_spark.operators.text_analysis import corpus_report

    return corpus_report(tables["documents"])


MODULES: dict[str, list[PipelineSpec]] = {
    "core": [
        PipelineSpec("companies_rollup", _plain(P.core_pipeline)),
        PipelineSpec("resolutions", _plain(P.resolutions_pipeline)),
        PipelineSpec("specialties", _plain(P.specialties_pipeline)),
        PipelineSpec("districts", _districts),
        # 1:1 recasts of the reference's core migrations (main.py runs the
        # migrate_* set sequentially; same membership here)
        PipelineSpec("companies", _with_now(P.companies_pipeline)),
        PipelineSpec("physical_structures", _with_now(P.physical_structures_pipeline)),
        PipelineSpec("operational_offices", _with_now(P.operational_offices_pipeline)),
        PipelineSpec("buildings", _with_now(P.buildings_pipeline)),
        PipelineSpec("production_factors", _with_now(P.production_factors_pipeline)),
        PipelineSpec("udo_types", _with_now(P.udo_types_pipeline)),
        PipelineSpec("udo_specialties", _plain(P.udo_specialties_pipeline)),
        PipelineSpec("udos", _with_now(P.udos_pipeline)),
        PipelineSpec("users", _with_now(P.users_pipeline)),
        PipelineSpec("bindings", _with_now(P.bindings_pipeline)),
    ],
    "poa": [PipelineSpec("operational_events", _plain(P.poa_pipeline), partition_by=["event_class"])],
    "cronos": [
        PipelineSpec("yearly_plans", _plain(P.cronos_pipeline)),
        PipelineSpec("healthcare_companies", _plain(P.healthcare_companies_pipeline)),
    ],
    "auac": [
        PipelineSpec("requirements", _plain(P.auac_pipeline)),
        # 1:1 recasts in the reference's migrate_auac order (auac.py:271):
        # taxonomies → lists → requirements → procedures
        PipelineSpec("requirement_taxonomies", _with_now(P.requirement_taxonomies_pipeline)),
        PipelineSpec("requirement_lists", _with_now(P.requirement_lists_pipeline)),
        PipelineSpec("requirement_templates", _with_now(P.requirements_pipeline)),
        PipelineSpec("procedures", _with_now(P.procedures_pipeline)),
    ],
    # training-corpus preparation as a first-class runnable module: the LLM
    # operator families materialized as lake tables, same staged-overwrite
    # contract as the reference recasts
    "corpus": [
        PipelineSpec("clean_docs", _corpus_clean, partition_by=["lang"]),
        PipelineSpec("survivors", _corpus_survivors),
        PipelineSpec("packed_sequences", _corpus_packed),
        PipelineSpec("corpus_report", _corpus_report),
    ],
}


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    modules: list[str] | None = None,
    versioned: bool = False,
    ledger: bool = False,
) -> dict[str, float]:
    """Run the selected modules' pipelines into ``out_dir`` concurrently;
    returns ``{module.name: seconds}`` in spec order.

    ``versioned=True`` publishes every table through the manifest-pointer
    layout (``write_versioned``) instead of a plain directory overwrite —
    concurrent readers of a previous run keep their snapshot while this
    run publishes, and a crashed run leaves every table at its prior
    version (per-table atomicity; cross-table consistency needs a catalog
    transaction, documented).  Read back with ``read_versioned``.
    """
    from area_etl_spark.functions.transforms import _now_naive

    tables = load_tables_lazy(spark, sf_dir)
    now = _now_naive()  # one shared audit clock per invocation
    selected = modules or list(MODULES)
    specs = [(m, s) for m in selected for s in MODULES[m]]
    sc = spark.sparkContext
    failed = threading.Event()

    def _one(module: str, spec: PipelineSpec) -> tuple[float, int] | None:
        if failed.is_set():
            return None  # a pipeline already failed: this one never starts
        key = f"{module}.{spec.name}"
        tag = f"runner:{key}"
        sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            # Contract gate: the reference's DDL layer (typing / NOT NULL /
            # PK) enforced engine-side INSIDE the write — the sink stages the
            # table, and a violated rule aborts the publish with named rule
            # counts, leaving the previous table in place.
            contract = PIPELINE_CONTRACTS.get(key)
            gate = enforce_contract(spec.build(spark, tables, now), contract)
            check = gate.check if contract is not None else None
            path = f"{out_dir}/{module}/{spec.name}"
            partition_by = spec.partition_by or None
            if versioned:
                write_versioned(gate.frame, path, partition_by=partition_by, before_publish=check)
            else:
                reload_overwrite(gate.frame, path, partition_by=partition_by, before_publish=check)
            return round(time.perf_counter() - t0, 3), gate.rows
        except BaseException:
            failed.set()
            raise
        finally:
            sc.removeJobTag(tag)

    # Each submission is wrapped on the caller's thread, so every pipeline
    # starts from its own copy of the caller's local properties (job group,
    # tags) and its tag never reaches another pipeline's jobs.
    with ThreadPoolExecutor(max_workers=min(len(specs), sc.defaultParallelism)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(_one), m, s) for m, s in specs]
    timings: dict[str, float] = {}
    failures: list[tuple[str, BaseException]] = []
    for (module, spec), fut in zip(specs, futures):
        key = f"{module}.{spec.name}"
        if fut.exception() is not None:
            failures.append((key, fut.exception()))
        elif (done := fut.result()) is not None:
            timings[key], rows = done
            logging.info("runner: %s done in %.2fs, %d rows", key, timings[key], rows)
    if failures:
        key, error = failures[0]
        error.add_note(f"runner pipeline: {key}")
        raise error
    if ledger:
        _write_ledger(spark, out_dir, timings, versioned)
    return timings


def _write_ledger(spark, out_dir: str, timings: dict[str, float], versioned: bool) -> None:
    """Run ledger: one JSON file per invocation recording, for every table
    the run landed, the row count read back FROM THE SINK (what actually
    landed, not what the plan promised) plus elapsed seconds — the audit
    artifact a migration sign-off diffs against the source system.  Written
    atomically (temp + fsync + rename) so a crashed run leaves no half ledger.
    """
    import json

    from area_etl_spark.sources.load import read_versioned, replace_file

    entries = {}
    for key, secs in timings.items():
        module, name = key.split(".", 1)
        path = f"{out_dir}/{module}/{name}"
        df = read_versioned(spark, path) if versioned else spark.read.parquet(path)
        entries[key] = {"rows": df.count(), "seconds": secs}
    ledger = {"versioned": versioned, "tables": entries}
    replace_file(f"{out_dir}/_run_ledger.json", json.dumps(ledger, indent=1))


def main() -> None:
    parser = argparse.ArgumentParser(description="area_etl_spark ETL runner")
    parser.add_argument(
        "--modules", type=str, default="all", help="'all' or comma list: core,poa,cronos,auac,corpus"
    )
    parser.add_argument("--sf-dir", type=str, default="/root/testdata/sf0.01")
    parser.add_argument("--out-dir", type=str, required=True)
    args = parser.parse_args()

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    spark = get_spark("area-etl-runner")
    mods = None if args.modules == "all" else [m.strip() for m in args.modules.split(",")]
    start = time.perf_counter()
    timings = run(spark, args.sf_dir, args.out_dir, mods)
    logging.info("runner: %d pipelines in %.2fs: %s", len(timings), time.perf_counter() - start, timings)


if __name__ == "__main__":
    main()
