"""Batch benchmark for area_etl_spark.

    python3 perfbench/run.py --workload etl_migrate --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  One invocation is one closed-loop client:
a single driver thread submits the workload's ops one after another
(``workloads.py``) on a ``local[<cores>]`` session over generated sf0.01
inputs (``datagen.py``).

1. Inputs: a seeded row permutation of the benchmark tables, written under
   ``.perfbench_work/`` in the checkout.  The program sees only those files.
2. Set-up (``setup_s``): program import, a fresh JVM and Spark session, the
   catalog opened and one trivial warm-up job.
3. Timed passes: whole passes until ``--seconds`` have gone by, at least one.
   Runner tables land in a fresh lake directory per pass; query ops collect
   their rows.
4. Checks, untimed (``check.py``): landed row counts, and the first pass's
   query rows against DuckDB running ``oracle_sql()``.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` and ``cpu_s``, the
CPU seconds the program's processes used per pass.  The pass wall time is in
the ``info`` line: on a shared host it moves with the CPU time the
hypervisor steals, more than any bound this benchmark could hold.

``--trace 1`` runs with Spark's event log on, every op's jobs tagged with
``setJobGroup``, and spans recorded around the runner's build, contract and
load calls and the ``queries()`` builders; it prints the per-layer metrics
(``eventlog.py``), and a per-op breakdown in the ``info`` line.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import pathlib
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import eventlog  # noqa: E402
from workloads import QUERY_OVERRIDES, WORKLOADS  # noqa: E402

SF = 0.01
MB = eventlog.MB


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def _cpu_s(roots: list[int]) -> float:
    """User plus system CPU seconds used so far by the processes in
    ``roots``, their live descendants and the children they reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid in ticks:
        p = pid
        while p not in roots and p > 1:
            p = parent.get(p, 0)
        if p in roots:
            total += ticks[pid]
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot (the
    steal column of /proc/stat), in seconds."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _dir_files(path: str) -> tuple[int, float]:
    """Data files under a sink directory and their size in MB."""
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / MB


@dataclasses.dataclass
class Span:
    name: str
    op: str  # the op whose call caused this span
    group: str  # Spark job group of the op
    start: float
    end: float


@dataclasses.dataclass
class PassResult:
    pass_id: str
    wall_s: float
    start: float  # epoch seconds, to line up with event-log times
    end: float
    ops: dict[str, float]  # op -> seconds
    failed: list[str]
    lake: str  # the pass's sink dir
    landed: list[str]  # runner ops that landed a table in ``lake``
    outputs: dict[str, tuple[list[str], list]]  # query op -> (columns, rows)


class Tracer:
    """Spans around the calls into each layer, recorded from outside the
    program by wrapping the names the runner calls through."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_id = ""
        self.op = ""
        self._undo: list = []

    @property
    def group(self) -> str:
        return f"{self.pass_id}/{self.op}"

    def start_op(self, op: str) -> None:
        self.op = op
        self.sc.setJobGroup(self.group, self.group)

    def timed(self, name: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(name, self.op, self.group, t0, time.time()))

        return wrapper

    def install(self, runner) -> None:
        for attr, name in (("enforce_contract", "contracts.check"), ("reload_overwrite", "load.write")):
            original = getattr(runner, attr)
            setattr(runner, attr, self.timed(name, original))
            self._undo.append(lambda a=attr, o=original: setattr(runner, a, o))
        for module, specs in runner.MODULES.items():
            original = list(specs)
            specs[:] = [
                dataclasses.replace(s, build=self._pipeline_build(f"{module}.{s.name}", s.build))
                for s in specs
            ]
            self._undo.append(lambda specs=specs, o=original: specs.__setitem__(slice(None), o))

    def _pipeline_build(self, op: str, build):
        timed = self.timed("plans.build", build)

        def wrapper(*args, **kwargs):
            self.start_op(op)
            return timed(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()


class Session:
    """One program session: the Spark session over the run's inputs and the
    program modules the workload calls."""

    def __init__(self, input_dir: str, app: str) -> None:
        from area_etl_spark import runner
        from area_etl_spark.session import get_spark, load_tables

        import __spark_entry__ as entry

        self.input_dir = input_dir
        self.runner = runner
        self.spark = get_spark(app)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.queries = entry.queries()
        load_tables(self.spark, input_dir)
        self.spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid  # noqa: SLF001

    def close(self) -> None:
        """Stop Spark and its JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway  # noqa: SLF001
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    def query(self, key: str):
        return QUERY_OVERRIDES.get(key, self.queries[key])(self.spark, self.input_dir)

    def run_pass(self, pass_id: str, steps, lake: str, tracer: Tracer | None) -> PassResult:
        """One pass over the workload's steps.  A query op returns its rows to
        the client (``collect``), as a caller of ``queries()`` does."""
        ops: dict[str, float] = {}
        failed: list[str] = []
        landed: list[str] = []
        outputs: dict[str, tuple[list[str], list]] = {}
        if tracer is not None:
            tracer.pass_id = pass_id
        t0, e0 = time.perf_counter(), time.time()
        for kind, arg in steps:
            if kind == "runner":
                modules = arg.split(",")
                try:
                    timings = self.runner.run(self.spark, self.input_dir, lake, modules)
                    ops.update(timings)
                    landed += timings
                except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                    traceback.print_exc()
                    failed += [f"{m}.{s.name}" for m in modules for s in self.runner.MODULES[m]]
                continue
            s0 = time.perf_counter()
            try:
                if tracer is not None:
                    tracer.start_op(arg)
                    df = tracer.timed("plans.build", self.query)(arg)
                else:
                    df = self.query(arg)
                outputs[arg] = (df.columns, df.collect())
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                failed.append(arg)
                continue
            ops[arg] = time.perf_counter() - s0
        wall = time.perf_counter() - t0
        return PassResult(pass_id, wall, e0, time.time(), ops, failed, lake, landed, outputs)


def _spark_env(work: str, trace: bool) -> None:
    """Point every Spark scratch path into the work dir and size the session
    to this machine's cores; with ``trace`` also turn the event log on."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={shlex.quote(os.path.join(work, 'tmp'))} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={pathlib.Path(work, 'events').as_uri()}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Run:
    """One invocation: inputs, set-ups, passes and checks for one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str) -> None:
        self.workload = workload
        self.steps = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.input_dir = os.path.join(work, "inputs")
        self.attempted = 0
        self.problems: dict[str, str] = {}  # failed op -> why
        self.digests: dict[str, str] = {}  # query op -> digest of its checked rows

    def prepare(self) -> None:
        datagen.write_inputs(datagen.base_tables(SF), self.seed, self.input_dir)

    def setup(self, trace: bool) -> tuple[Session, float]:
        """A session in a fresh JVM, and the seconds it took."""
        _spark_env(self.work, trace)
        t0 = time.perf_counter()
        session = Session(self.input_dir, f"perfbench-{self.workload}")
        return session, time.perf_counter() - t0

    def _pass(self, session: Session, pass_id: str, tracer: Tracer | None) -> PassResult:
        r = session.run_pass(pass_id, self.steps, os.path.join(self.work, f"lake-{pass_id}"), tracer)
        self.attempted += len(r.ops) + len(r.failed)
        for op in r.failed:
            self.problems[op] = "raised"
        return r

    def passes(self, session: Session, tracer: Tracer | None) -> list[PassResult]:
        """Whole passes until ``seconds`` have gone by, at least one."""
        done: list[PassResult] = []
        t0 = time.perf_counter()
        while not done or time.perf_counter() - t0 < self.seconds:
            done.append(self._pass(session, f"pass{len(done)}", tracer))
        return done

    def check(self, passes: list[PassResult]) -> None:
        """Check the first pass's query outputs and every landed table."""
        from __spark_entry__ import oracle_sql

        oracles = oracle_sql()
        expected = check.load_expected()
        oracle = check.Oracle(
            self.input_dir,
            list(datagen.TABLES),
            os.path.join(os.path.dirname(self.work), "oracle-cache"),
            datagen.content_key(SF),
            os.path.join(self.work, "tmp"),
        )
        try:
            for key, (columns, rows) in passes[0].outputs.items():
                self.digests[key] = check.digest(columns, rows)
                if key in oracles and key not in QUERY_OVERRIDES:
                    why = oracle.mismatch(oracles[key], columns, rows)
                else:
                    want = expected["query_rows"].get(key)
                    why = None if len(rows) == want else f"{len(rows)} rows, expected {want}"
                if why:
                    self.problems[key] = why
        finally:
            oracle.close()
        for r in passes:
            for op in r.landed:
                module, name = op.split(".", 1)
                want = expected["tables"].get(op)
                got = check.landed_rows(os.path.join(r.lake, module, name))
                if got != want:
                    self.problems[op] = f"landed {got} rows, expected {want}"


LAYER_METRICS = [
    "plans.build_s", "contracts.check_s", "contracts.jobs", "load.write_s", "load.commit_s",
    "load.files", "load.mb", "runner.driver_gap_s", "spark.jobs", "spark.stages",
    "spark.stages_skipped", "spark.tasks", "spark.task_retries", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.slot_busy_share", "scan.input_mb", "scan.input_rows",
    "sql.join_rows_out",
]
_SPARK_FIELDS = [
    "stages", "stages_skipped", "tasks", "task_retries", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
]


def per_layer(
    timed: list[PassResult], spans: list[Span], groups: dict[str, eventlog.GroupStats], cores: int
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Per-layer metrics and a per-op breakdown, each the mean over the
    timed passes."""
    totals = dict.fromkeys(LAYER_METRICS, 0.0)
    breakdown: dict[str, dict[str, float]] = {}

    def add(table: dict, name: str, value: float) -> None:
        table[name] = table.get(name, 0.0) + value / len(timed)

    for r in timed:
        mine = {g: s for g, s in groups.items() if g.startswith(r.pass_id + "/")}
        merged = eventlog.GroupStats()
        for g, s in mine.items():
            merged.add(s)
            row = breakdown.setdefault(g.split("/", 1)[1], {})
            add(row, "jobs", len(s.jobs))
            add(row, "executor_run_s", s.executor_run_s)
        for op, secs in r.ops.items():
            add(breakdown.setdefault(op, {}), "wall_s", secs)
        for sp in spans:
            if not sp.group.startswith(r.pass_id + "/"):
                continue
            secs = sp.end - sp.start
            add(totals, sp.name + "_s", secs)
            add(breakdown.setdefault(sp.op, {}), sp.name + "_s", secs)
            jobs = mine.get(sp.group, eventlog.GroupStats()).jobs
            if sp.name == "contracts.check":
                add(totals, "contracts.jobs", sum(1 for a, _ in jobs if sp.start <= a <= sp.end))
            elif sp.name == "load.write":
                add(totals, "load.commit_s", secs - eventlog.covered_seconds(jobs, sp.start, sp.end))
        if r.landed:
            files, size = _dir_files(r.lake)
            add(totals, "load.files", files)
            add(totals, "load.mb", size)
        all_jobs = [iv for s in mine.values() for iv in s.jobs]
        add(totals, "runner.driver_gap_s", r.wall_s - eventlog.covered_seconds(all_jobs, r.start, r.end))
        add(totals, "spark.jobs", len(all_jobs))
        for name in _SPARK_FIELDS:
            add(totals, f"spark.{name}", getattr(merged, name))
        add(totals, "spark.slot_busy_share", merged.executor_run_s / (r.wall_s * cores))
        add(totals, "scan.input_mb", merged.input_mb)
        add(totals, "scan.input_rows", merged.input_rows)
        add(totals, "sql.join_rows_out", merged.join_rows_out)
    return totals, breakdown


def _program_missing() -> list[str]:
    return [p for p in ("__spark_entry__.py", "area_etl_spark/runner.py") if not os.path.exists(os.path.join(ROOT, p))]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    missing = _program_missing()
    if missing:
        print(f"perfbench: program not found under {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    info: dict = {"workload": args.workload, "seed": args.seed, "cores": cores, "loadavg_before": os.getloadavg()}
    steal0 = _cpu_steal_s()
    run = Run(args.workload, args.seed, args.seconds, work)
    try:
        run.prepare()
        session, setup_s = run.setup(trace=bool(args.trace))
        tracer = Tracer(session.spark) if args.trace else None
        try:
            if tracer is not None:
                tracer.install(session.runner)
            pids = [os.getpid(), session.jvm_pid()]
            cpu0 = _cpu_s(pids)
            timed = run.passes(session, tracer)
            cpu_s = (_cpu_s(pids) - cpu0) / len(timed)
            rss_mb = sum(_rss_mb(p) for p in pids)
        finally:
            if tracer is not None:
                tracer.uninstall()
            session.close()
        run.check(timed)
        wall_s = _median([r.wall_s for r in timed])
        if tracer is None:
            metrics = {"setup_s": setup_s, "cpu_s": cpu_s}
        else:
            groups = eventlog.summarize(eventlog.read_events(os.path.join(work, "events")))
            metrics, info["breakdown"] = per_layer(timed, tracer.spans, groups, cores)
            metrics.update({"trace.wall_s": wall_s, "rss_peak_mb": rss_mb})
        info.update(
            setup_s=setup_s,
            wall_s=wall_s,
            pass_wall_s=[r.wall_s for r in timed],
            pass_ops_s=[r.ops for r in timed],
            op_p50_s=_median([s for r in timed for s in r.ops.values()]),
            rss_peak_mb=rss_mb,
            loadavg_after=os.getloadavg(),
            cpu_steal_s=_cpu_steal_s() - steal0,
            problems=run.problems,
            digests=run.digests,
        )
        print(json.dumps({"info": info}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in _declared_metrics()}
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": len(run.problems),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _declared_metrics() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return spec["end_to_end"] + spec["per_layer"]


if __name__ == "__main__":
    sys.exit(main())
