"""Runner orchestration + executor-side attachment upload + foreachBatch sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from area_etl_spark.runner import MODULES, run


def test_runner_all_modules(spark, sf_dir, tmp_path):
    out = str(tmp_path / "lake")
    timings = run(spark, sf_dir, out)
    # concurrent pipelines, but timings come back in spec order
    assert list(timings) == [f"{m}.{s.name}" for m, specs in MODULES.items() for s in specs]
    # every pipeline landed as a readable parquet table
    for key in timings:
        module, name = key.split(".")
        df = spark.read.parquet(f"{out}/{module}/{name}")
        assert df.count() > 0
    # partitioned sink has hive-style layout
    parts = os.listdir(f"{out}/poa/operational_events")
    assert any(p.startswith("event_class=") for p in parts)


def test_runner_failure_stops_unstarted_pipelines(spark, sf_dir, tmp_path, monkeypatch):
    """Once a pipeline raises, the pipelines not yet started are never
    built, the running ones finish and publish, and ``run`` re-raises the
    failure itself with a note naming its pipeline."""
    import threading
    import time

    from area_etl_spark.runner import PipelineSpec

    class PlanError(RuntimeError):
        pass

    # the failing pipeline and the sleepers fill every worker of the pool;
    # the barrier holds the failure until all of them have started
    workers = spark.sparkContext.defaultParallelism
    started = threading.Barrier(workers, timeout=60)
    built: list[str] = []

    def fail(spark, tables, now):
        started.wait()
        raise PlanError("bad plan")

    def slow(spark, tables, now):
        started.wait()
        time.sleep(1)
        return spark.range(3)

    def counted(spark, tables, now):
        built.append("late")
        return spark.range(3)

    slow_names = [f"slow{i}" for i in range(workers - 1)]
    specs = [PipelineSpec("fail", fail)] + [PipelineSpec(n, slow) for n in slow_names]
    specs += [PipelineSpec("late0", counted), PipelineSpec("late1", counted)]
    monkeypatch.setitem(MODULES, "t", specs)
    out = str(tmp_path / "lake")
    with pytest.raises(PlanError, match="bad plan") as err:
        run(spark, sf_dir, out, modules=["t"])
    assert err.value.__notes__ == ["runner pipeline: t.fail"]
    assert built == []
    assert sorted(os.listdir(f"{out}/t")) == sorted(slow_names)
    for name in slow_names:
        assert spark.read.parquet(f"{out}/t/{name}").count() == 3


def test_runner_tags_each_pipelines_jobs(spark, sf_dir, tmp_path):
    """Every pipeline's jobs carry the tag ``runner:<module>.<name>`` and
    no other pipeline's tag; the caller's job group reaches them too."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    keys = [f"cronos.{s.name}" for s in MODULES["cronos"]]
    # earlier runner runs in this session tagged jobs with the same keys
    before = {key: set(tracker.getJobIdsForTag(f"runner:{key}")) for key in keys}
    sc.setJobGroup("runner-caller", "runner test")
    try:
        timings = run(spark, sf_dir, str(tmp_path / "lake"), modules=["cronos"])
    finally:
        sc._jsc.clearJobGroup()
    assert list(timings) == keys == ["cronos.yearly_plans", "cronos.healthcare_companies"]
    tagged = {key: set(tracker.getJobIdsForTag(f"runner:{key}")) - before[key] for key in keys}
    assert all(tagged.values())
    assert tagged["cronos.yearly_plans"].isdisjoint(tagged["cronos.healthcare_companies"])
    assert set().union(*tagged.values()) <= set(sc.statusTracker().getJobIdsForGroup("runner-caller"))
    assert not sc.getJobTags()


def test_lazy_catalog_opens_each_table_once_across_threads(monkeypatch):
    """Threads subscripting the same missing table at once share one read."""
    import sys
    import threading
    import time

    from area_etl_spark import session

    reads: list[str] = []

    def slow_read(spark, sf_dir, name):
        reads.append(name)
        time.sleep(0.2)
        return object()

    monkeypatch.setattr(session, "_read_table", slow_read)
    catalog = session.LazyTables(None, "unused", register_views=False)
    n = 16
    barrier = threading.Barrier(n, timeout=30)
    got: list[object] = []

    def reader():
        barrier.wait()
        got.append(catalog["orders"])

    threads = [threading.Thread(target=reader) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert reads == ["orders"]
    assert len(got) == n and all(df is got[0] for df in got)


def _gated_write(df, contract, path, versioned=False):
    """Land ``df`` the way the runner does: the contract check runs inside
    the write and gates the publish."""
    from area_etl_spark.plans.contracts import enforce_contract
    from area_etl_spark.sources.load import reload_overwrite, write_versioned

    gate = enforce_contract(df, contract)
    if versioned:
        write_versioned(gate.frame, path, before_publish=gate.check)
    else:
        reload_overwrite(gate.frame, path, before_publish=gate.check)
    return gate


_HC_SCHEMA = "id string, code string, name string, ulss_id string"


def test_contract_gate_blocks_bad_frame(spark, tmp_path):
    """The gated write must abort with named rule counts on a frame that
    violates NOT NULL or PK uniqueness — the same rules and counts
    contract_violations reports — and land a clean frame shaped to the
    declared column order."""
    import ast

    from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS, apply_contract, contract_violations

    c = PIPELINE_CONTRACTS["cronos.healthcare_companies"]
    path = str(tmp_path / "hc")
    good = spark.createDataFrame([("a", "10", "alpha", None), ("b", "11", "beta", "1")], _HC_SCHEMA)
    gate = _gated_write(good, c, path)
    assert gate.rows == 2
    assert spark.read.parquet(path).columns == ["id", "code", "name", "ulss_id"]
    bad_null = spark.createDataFrame([("a", None, "alpha", None)], _HC_SCHEMA)
    bad_dup = good.unionByName(good)
    for bad, rule in ((bad_null, "not_null:code"), (bad_dup, "unique_pk:id")):
        with pytest.raises(ValueError, match=rule) as err:
            _gated_write(bad, c, path)
        reported = {
            r.rule: r.n_bad for r in contract_violations(apply_contract(bad, c), c).collect() if r.n_bad
        }
        assert ast.literal_eval(str(err.value).split("violated: ", 1)[1]) == reported


def test_gate_counts_match_contract_violations(spark):
    """The in-write counts equal contract_violations' rule by rule — a
    composite key with null parts and repeated duplicates included."""
    from area_etl_spark.plans.contracts import (
        ColumnContract,
        TableContract,
        apply_contract,
        contract_violations,
        enforce_contract,
    )

    c = TableContract(
        "t",
        [ColumnContract("a", "bigint", nullable=False), ColumnContract("b", "bigint"), ColumnContract("v", "string")],
        primary_key=["a", "b"],
    )
    keys = [(1, 1)] * 3 + [(1, None)] * 2 + [(None, None), (2, 2)] + [(1, 2)] * 2
    df = spark.createDataFrame([(a, b, "x") for a, b in keys], "a bigint, b bigint, v string")
    gate = enforce_contract(df, c)
    gate.frame.write.format("noop").mode("overwrite").save()
    counts = dict(gate.observation.get)
    assert counts.pop("rows") == len(keys)
    expected = {r.rule: r.n_bad for r in contract_violations(apply_contract(df, c), c).collect()}
    assert counts == expected == {"not_null:a": 1, "unique_pk:a,b": 3}


@pytest.mark.parametrize("versioned", [False, True], ids=["plain", "versioned"])
def test_contract_violation_keeps_previous_table(spark, tmp_path, versioned):
    """A violating write publishes nothing: the previously landed table
    stays readable with its old rows, and no staging directory is left."""
    from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS
    from area_etl_spark.sources.load import read_versioned

    c = PIPELINE_CONTRACTS["cronos.healthcare_companies"]
    path = str(tmp_path / "hc")
    good = spark.createDataFrame([("a", "10", "alpha", None), ("b", "11", "beta", "1")], _HC_SCHEMA)
    _gated_write(good, c, path, versioned)
    before = sorted(os.listdir(path))
    with pytest.raises(ValueError, match="unique_pk:id"):
        _gated_write(good.unionByName(good), c, path, versioned)
    landed = read_versioned(spark, path) if versioned else spark.read.parquet(path)
    assert landed.count() == 2
    assert os.listdir(tmp_path) == ["hc"]
    assert sorted(os.listdir(path)) == before


def test_gated_write_evaluates_input_once(spark, tmp_path):
    """The contract check rides the write job: a gated write of a PK
    contract evaluates its input once per landed row, not once for the
    check and again for the write."""
    from pyspark.sql.types import StringType

    from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS

    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    tap = F.udf(bump, StringType()).asNondeterministic()
    c = PIPELINE_CONTRACTS["cronos.healthcare_companies"]
    src = spark.range(50).select(
        tap(F.col("id").cast("string")).alias("id"),
        F.lit("10").alias("code"),
        F.lit("n").alias("name"),
        F.lit(None).cast("string").alias("ulss_id"),
    )
    gate = _gated_write(src, c, str(tmp_path / "hc"))
    assert gate.rows == 50
    assert acc.value == 50


def test_every_runner_spec_with_audit_cols_has_contract():
    """The DDL layer covers the recasts: every 1:1 pipeline spec the runner
    writes (module.name) that exists in PIPELINE_CONTRACTS is keyed
    correctly, and no contract points at a nonexistent spec."""
    from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS

    spec_keys = {f"{m}.{s.name}" for m, specs in MODULES.items() for s in specs}
    dangling = set(PIPELINE_CONTRACTS) - spec_keys
    assert dangling == set(), dangling


def test_upload_attachments_executor_side(spark, tmp_path):
    from area_etl_spark.operators.attachments import upload_attachments, with_object_ids

    store = tmp_path / "objstore"
    store.mkdir()
    store_path = str(store)

    df = spark.createDataFrame(
        [(1, "payload one"), (2, None), (3, "payload three")], "id int, attachment string"
    )
    tagged = with_object_ids(df, "attachment", id_col="id", out_col="file_id")

    def put(object_id: str, payload: bytes) -> None:
        # stands in for a MinIO/S3 put; constructed per partition executor-side
        with open(os.path.join(store_path, object_id), "wb") as f:
            f.write(payload)

    upload_attachments(tagged, "attachment", "file_id", put=put)
    uploaded = sorted(os.listdir(store_path))
    expected = sorted(r.file_id for r in tagged.where(F.col("file_id").isNotNull()).collect())
    assert uploaded == expected
    assert open(os.path.join(store_path, expected[0]), "rb").read() in (
        b"payload one",
        b"payload three",
    )


def test_foreachbatch_incremental_upsert(spark, tables, tmp_path):
    """foreachBatch micro-batch sink: dedup-upsert into a parquet target."""
    events = tables["events"].select("event_id", "ts", "user_id").limit(200)
    src = str(tmp_path / "fb_src")
    target = str(tmp_path / "fb_target")
    events.write.mode("overwrite").parquet(src)

    def upsert(batch_df, batch_id: int) -> None:
        batch_df.dropDuplicates(["event_id"]).write.mode("append").parquet(target)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = stream.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination(240)
    assert spark.read.parquet(target).count() == events.count()


def test_runner_corpus_module(spark, sf_dir, tmp_path):
    """The corpus module materializes all four training-prep tables with
    sane shapes: cleaned docs keep every doc_id, survivors are a subset,
    packed rows cover every doc, the report has one row per source."""
    from area_etl_spark.runner import run

    out = str(tmp_path / "lake")
    timings = run(spark, sf_dir, out, modules=["corpus"])
    assert set(timings) == {
        "corpus.clean_docs", "corpus.survivors", "corpus.packed_sequences", "corpus.corpus_report",
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    clean = spark.read.parquet(f"{out}/corpus/clean_docs")
    assert clean.count() == n_docs and "n_dropped" in clean.columns
    assert "lang=" in str(sorted(p.name for p in (tmp_path / "lake" / "corpus" / "clean_docs").iterdir()))
    surv = spark.read.parquet(f"{out}/corpus/survivors")
    assert 0 < surv.count() <= n_docs
    packed = spark.read.parquet(f"{out}/corpus/packed_sequences")
    assert packed.count() == n_docs and {"shard", "pack_id"} <= set(packed.columns)
    report = spark.read.parquet(f"{out}/corpus/corpus_report")
    assert report.count() == docs.select("source").distinct().count()


def test_expectation_suite_flags_violations(spark):
    """expect() reports observed vs bound per rule and flags exactly the
    violated expectations — nothing is dropped or raised."""
    from area_etl_spark.plans.contracts import Expectation, expect

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (3, None, -1.0), (4, "zz", 7.0)],
        "k int, s string, v double",
    )
    out = {(r.column, r.rule): r for r in expect(df, [
        Expectation("v", min_value=0, max_value=10),
        Expectation("s", max_null_frac=0.1, allowed_values=["a", "b"]),
        Expectation("k", min_distinct=3),
    ]).collect()}
    assert not out[("v", "min_value")].ok          # -1 < 0
    assert not out[("v", "max_value")].ok          # 50 > 10
    assert not out[("s", "max_null_frac")].ok      # 1/4 > 0.1
    assert out[("s", "max_null_frac")].observed == 0.25
    assert not out[("s", "allowed_values")].ok     # 'zz'
    assert out[("s", "allowed_values")].observed == 1.0
    assert out[("k", "min_distinct")].ok           # 4 >= 3
    assert len(out) == 5


def test_runner_versioned_sink(spark, sf_dir, tmp_path):
    """versioned=True publishes every pipeline through the manifest layout:
    snapshot dirs + _CURRENT, re-runs bump versions, readers resolve the
    manifest."""
    from area_etl_spark.sources.load import current_version, read_versioned

    out = str(tmp_path / "lake")
    run(spark, sf_dir, out, modules=["cronos"], versioned=True)
    t = f"{out}/cronos/healthcare_companies"
    assert current_version(t) == 1
    n1 = read_versioned(spark, t).count()
    assert n1 > 0
    run(spark, sf_dir, out, modules=["cronos"], versioned=True)
    assert current_version(t) == 2
    assert read_versioned(spark, t).count() == n1  # same input, same rows


def test_runner_ledger(spark, sf_dir, tmp_path, caplog):
    """ledger=True writes an atomic _run_ledger.json whose row counts match
    what actually landed in the sinks — and what the runner's per-pipeline
    log line reports from the write's own observation."""
    import json
    import logging

    out = str(tmp_path / "lake")
    with caplog.at_level(logging.INFO):
        run(spark, sf_dir, out, modules=["cronos"], ledger=True)
    led = json.load(open(f"{out}/_run_ledger.json"))
    assert led["versioned"] is False
    for key, entry in led["tables"].items():
        module, name = key.split(".", 1)
        assert entry["rows"] == spark.read.parquet(f"{out}/{module}/{name}").count()
        assert entry["seconds"] >= 0
        assert any(
            m.startswith(f"runner: {key} done in ") and m.endswith(f", {entry['rows']} rows")
            for m in caplog.messages
        )
    assert len(led["tables"]) >= 1
