"""Benchmark of the mit_map_reduce_spark engine, end to end and per layer.

    python3 perfbench/run.py --workload batch_warm --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[nproc]`` as a closed loop with
one client. Set-up runs every operation ``WARMUP_ROUNDS`` times; then
passes over the workload's operations, in an order the seed sets, run
until ``--seconds`` have passed and at least ``MIN_PASSES`` have run.
Inputs are generated from the seed into a directory of this checkout;
every output is checked against ``run_sequential`` or the query's
DuckDB oracle. The last stdout line is
one JSON object: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (from traced passes, alternating with untraced ones)
with ``--trace 1``. A detailed report, with the spans of traced passes
and the environment record, goes to ``.perfbench/results/``.
``perfbench/METRICS.md`` lists every metric and what it should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HELD_OUT_SEED = 9973
#: Rounds of every op in set-up. The first builds the shared artifacts
#: and pays first-use costs; a pass right after it still runs up to 1.5x
#: slower than later ones while the JVM's JIT catches up, so a second
#: round runs before the timed passes.
WARMUP_ROUNDS = 2
#: Passes a run makes even when ``--seconds`` has passed, so that a
#: traced run (U, T, U) has untraced passes to compare with.
MIN_PASSES = 3
MB = 2**20

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
from spans import PHASES, Tracer  # noqa: E402
from workloads import MR_REDUCERS, WORKLOADS, Checker, mr_functions, op_kind  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Route every file the engine, Spark and the JVM write into run_dir.
    Must run before pyspark or the package is imported."""
    for sub in ("scratch", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(run_dir, "scratch")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    tempfile.tempdir = None


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:  # removed while walking (sink or checkpoint cleanup)
                pass
    return total / MB


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Bench:
    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.tracer = Tracer(enabled=False)
        self.rng = random.Random(args.seed)
        self.setup: dict = {}
        self.passes: list[dict] = []
        self.setup_ops: list[dict] = []
        self.listener = None
        self.kinds = {op_kind(name) for name in self.wl.ops}
        # peak memory and worker counts are per-layer metrics: sampled in
        # traced runs only, so the sampling thread never runs inside the
        # end-to-end figures
        self.sampler = procstat.PeakSampler() if args.trace else None

    # ---- inputs and set-up ------------------------------------------
    def make_inputs(self) -> None:
        data = os.path.join(self.run_dir, "data")
        self.inputs_mb = {}
        if "mr" in self.kinds:
            files = datagen.make_corpus(self.args.seed, os.path.join(data, "corpus"))
            self.corpus_glob = os.path.join(data, "corpus", "pg-*.txt")
            self.inputs_mb["corpus"] = sum(os.path.getsize(f) for f in files) / MB
        if self.kinds - {"mr"}:
            self.tables = datagen.make_tables(self.args.seed, os.path.join(data, "tables"))
            self.sf_dir = os.path.join(data, "tables")
            self.inputs_mb |= {t: os.path.getsize(p) / MB for t, p in self.tables.items()}

    def start_session(self) -> None:
        t0 = time.perf_counter()
        from mit_map_reduce_spark import catalog, get_spark
        from mit_map_reduce_spark.mapreduce import run_job

        import __spark_entry__ as entry

        self.catalog, self.run_job = catalog, run_job
        self.queries = entry.queries()
        t1 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                # keep every job and stage of a run for attribution
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            },
        )
        self.sc = self.spark.sparkContext
        self.setup.update(import_s=t1 - t0, get_spark_s=time.perf_counter() - t1)

    def build(self, name: str):
        """The engine call of one op: the job or query as a DataFrame (a
        streaming query is drained into its sink by this call)."""
        if op_kind(name) == "mr":
            return self.run_job(self.spark, *mr_functions(name), [self.corpus_glob], n_reduce=MR_REDUCERS)
        return self.queries[name](self.spark, self.sf_dir)

    def warm_workload(self) -> None:
        """Run every op ``WARMUP_ROUNDS`` times, each under its own job
        group, keeping the interval of each engine call and the artifacts
        it built: the catalog layer's builds are measured here."""
        t0 = time.perf_counter()
        for r in range(WARMUP_ROUNDS):
            for i, name in enumerate(self.wl.ops):
                group = f"perfbench:setup:{r}:{i}:{name}"
                self.sc.setJobGroup(group, name)
                start = time.time()
                df = self.build(name)
                built = time.time()
                df.collect()
                op = {"name": name, "group": group, "build": (start, built), "wall_s": time.time() - start}
                self.setup_ops.append(op | {"builds": self.catalog.drain_build_events()})
        self.setup["warmup_s"] = time.perf_counter() - t0
        self.setup["warmup_artifacts"] = [b for op in self.setup_ops for b in op["builds"]]

    def calibrate(self) -> float:
        """A fixed Spark micro-job whose time moves with the machine, not
        with the engine's code."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        (
            self.spark.range(200_000)
            .selectExpr("id % 10000 AS k", "id AS v")
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
            .agg(F.sum("s"))
            .collect()
        )
        return time.perf_counter() - t0

    def expect(self) -> None:
        self.checker = Checker()
        by_kind = {k: [n for n in self.wl.ops if op_kind(n) == k] for k in self.kinds}
        if "mr" in by_kind:
            self.setup["sequential_oracle_s"] = sum(
                self.checker.expect_mr(app, self.corpus_glob) for app in by_kind.pop("mr")
            )
        if by_kind:
            self.checker.expect_queries([n for names in by_kind.values() for n in names], self.tables)

    # ---- one operation ------------------------------------------------
    def run_op(self, name: str, group: str, traced: bool) -> dict:
        self.sc.setJobGroup(group, name)
        if self.listener is not None:
            self.listener.current_op = group
        res: dict = {"name": name, "group": group, "error": None, "start": time.time()}
        rows, cols = None, []
        span = self.tracer.span
        kind = res["kind"] = op_kind(name)
        first, second = ("drain", "collect") if kind == "stream" else ("build", "exec")
        # per-op worker CPU is read in traced passes only: it scans /proc
        tree0 = procstat.Tree() if traced else None
        with span("op", op=group, query=name) as op_t:
            try:
                with span(first, op=group) as t:
                    df = self.build(name)
                res[f"{first}_s"] = t["wall_s"]
                if traced and kind == "query":
                    with span("plan", op=group) as t:
                        df._jdf.queryExecution().executedPlan()
                    res["plan_s"] = t["wall_s"]
                with span(second, op=group) as t:
                    rows = df.collect()
                res[f"{second}_s"] = t["wall_s"]
                cols = df.columns
            except Exception as e:  # a failing op is counted, never fatal
                res["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                res["traceback"] = traceback.format_exc()
        res["wall_s"] = op_t["wall_s"]
        if tree0 is not None:
            res["python_worker_cpu_s"] = procstat.Tree().worker_cpu_s - tree0.worker_cpu_s
        res["builds"] = self.catalog.drain_build_events()
        res["_out"] = (cols, rows)
        return res

    # ---- one pass -------------------------------------------------------
    def run_pass(self, index: int, traced: bool) -> dict:
        self.tracer.enabled = traced
        order = list(self.wl.ops)
        self.rng.shuffle(order)
        snapshot = self.sampler.sample if self.sampler else procstat.Tree
        env0, tree0 = procstat.machine(), snapshot()
        ops = []
        start = time.time()
        with self.tracer.span("pass") as t:
            pass_span = len(self.tracer.spans) - 1 if traced else None
            for i, name in enumerate(order):
                ops.append(self.run_op(name, f"perfbench:{index}:{i}:{name}", traced))
        end = time.time()
        tree1, env1 = snapshot(), procstat.machine()
        self.tracer.enabled = False
        p = {
            "index": index,
            "traced": traced,
            "start": start,
            "end": end,
            "wall_s": t["wall_s"],
            "cpu_s": tree1.cpu_s - tree0.cpu_s,
            "python_worker_cpu_s": tree1.worker_cpu_s - tree0.worker_cpu_s,
            "env_start": env0,
            "env_end": env1,
            "scratch_mb": dir_mb(os.environ["SPARK_GRAFT_SCRATCH_DIR"]),
            "ops": ops,
            "span": pass_span,
        }
        self.check_pass(p)
        return p

    def check_pass(self, p: dict) -> None:
        """Output checks and the hidden-caching guard; every violation
        marks its op failed."""
        for op in p["ops"]:
            cols, rows = op.pop("_out")
            built = [label for label, _ in op["builds"]]
            if op["error"] is None:
                op["error"] = self.checker.check(op["name"], cols, rows)
            if op["error"] is None and self.wl.warm_artifacts and built:
                op["error"] = f"cache guard: timed pass rebuilt {built}"
        p["failed"] = sum(op["error"] is not None for op in p["ops"])

    # ---- the run -------------------------------------------------------
    def run(self) -> dict:
        self.make_inputs()
        t0 = time.perf_counter()
        self.start_session()
        self.warm_workload()
        self.setup["setup_s"] = time.perf_counter() - t0
        self.setup["calibration_s"] = self.calibrate()
        t1 = time.perf_counter()
        self.expect()
        self.setup["expect_s"] = time.perf_counter() - t1
        if self.args.trace and "stream" in self.kinds:
            from sparkstats import StreamListener

            self.listener = StreamListener()
            self.spark.streams.addListener(self.listener)
        # memory is sampled over the timed passes only: set-up also holds
        # the benchmark's own generator and DuckDB oracle allocations
        with self.sampler or contextlib.nullcontext():
            # traced runs alternate untraced and traced passes (U, T, U, ...)
            deadline = time.monotonic() + self.args.seconds
            while len(self.passes) < MIN_PASSES or time.monotonic() < deadline:
                traced = bool(self.args.trace) and len(self.passes) % 2 == 1
                self.passes.append(self.run_pass(len(self.passes), traced))
        if self.listener is not None:
            self.listener.settle()
        self.read_status_store()
        if self.args.trace:
            self.attribute()
        return self.report()

    # ---- Spark's status store: input bytes and stages ---------------------
    def read_status_store(self) -> None:
        """Read every job and stage of the run once, after the passes, and
        take each pass's input MB from it: the ``inputBytes`` of the
        stages of every job submitted during the pass. One client runs
        one op at a time, so these are exactly the pass's jobs, stream
        micro-batches included (those run under their stream's group)."""
        from sparkstats import StatusStore

        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = StatusStore(self.spark)
        self.jobs = store.jobs_by_group()
        self.stages = store.stages()
        for p in self.passes:
            ids = {
                s
                for js in self.jobs.values()
                for j in js
                if p["start"] * 1000 <= (j.get("submissionTime") or 0) <= p["end"] * 1000
                for s in j["stageIds"]
            }
            p["input_mb"] = sum(self.stages[s].get("inputBytes", 0) for s in ids if s in self.stages) / MB

    # ---- traced passes: stages and micro-batches -------------------------
    def attribute(self) -> None:
        jobs, stages = self.jobs, self.stages
        progress_by_run: dict[str, list[dict]] = {}
        if self.listener is not None:
            for prog in self.listener.progress:
                progress_by_run.setdefault(prog["runId"], []).append(prog)
        for p in self.passes:
            if not p["traced"]:
                continue
            for op in p["ops"]:
                group = op["group"]
                runs = [r for r, g in (self.listener.run_op.items() if self.listener else ()) if g == group]
                batches = [b for r in runs for b in sorted(progress_by_run.get(r, ()), key=lambda b: b["batchId"])]
                for b in batches:
                    start = _iso_epoch(b["timestamp"])
                    dur = b["durationMs"].get("triggerExecution", 0) / 1000
                    self.tracer.attach("batch", start, start + dur, group, batch=b["batchId"])
                op_jobs = [j for g in [group, *runs] for j in jobs.get(g, ())]
                op_stages = [stages[s] for j in op_jobs for s in j["stageIds"] if s in stages]
                for st in sorted(op_stages, key=lambda s: s.get("submissionTime") or 0):
                    if st.get("submissionTime") and st.get("completionTime"):
                        self.tracer.attach(
                            "stage", st["submissionTime"] / 1000, st["completionTime"] / 1000,
                            group, stage=st["stageId"], tasks=st["numTasks"],
                        )
                op["jobs"] = len(op_jobs)
                op["stages"] = op_stages
                op["batches"] = batches

    # ---- metrics -----------------------------------------------------------
    def report(self) -> dict:
        timed = [p for p in self.passes if not p["traced"]]
        traced = [p for p in self.passes if p["traced"]]
        ops = [op for p in self.passes for op in p["ops"]]
        attempted = len(ops)
        failed = sum(op["error"] is not None for op in ops)
        op_walls: dict[str, list[float]] = {}
        for op in (op for p in timed for op in p["ops"]):
            op_walls.setdefault(op["name"], []).append(op["wall_s"])
        # each op's median over the passes, so that one slow sample of one
        # op cannot shift the quantiles across the gap between op kinds
        op_medians = [statistics.median(w) for w in op_walls.values()]
        end_to_end = {
            "setup_s": (self.setup["setup_s"], "s"),
            "pass_s": (statistics.median(p["wall_s"] for p in timed), "s"),
            "op_p50_s": (quantile(op_medians, 0.5), "s"),
            "op_p90_s": (quantile(op_medians, 0.9), "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
            "input_mb_per_s": (statistics.median(p["input_mb"] / p["wall_s"] for p in timed), "MB/s"),
        }
        detail = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "held_out_seed": HELD_OUT_SEED,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "environment": {
                "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "default_parallelism": self.sc.defaultParallelism,
                "calibration_s": self.setup["calibration_s"],
                "passes": [{"start": p["env_start"], "end": p["env_end"]} for p in self.passes],
            },
            "inputs_mb": self.inputs_mb,
            "setup": self.setup,
            "setup_ops": [(op["name"], op["wall_s"], op["builds"]) for op in self.setup_ops],
            "op_samples": {name: len(w) for name, w in op_walls.items()},
            "failed_op_ratio": failed / attempted,
            "failures": [(op["group"], op["error"]) for op in ops if op["error"]],
            "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
            "passes": [_pass_summary(p) for p in self.passes],
        }
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        if self.args.trace:
            per_layer = self.per_layer(traced, timed, failed / attempted)
            detail["per_layer"] = {k: v for k, (v, _) in per_layer.items()}
            detail["spans"] = self.tracer.dump()
            metrics = per_layer
        else:
            metrics = end_to_end
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        self.detail = detail
        return result

    def per_layer(self, traced: list[dict], timed: list[dict], failed_ratio: float) -> dict:
        """Per-layer metrics: medians over traced passes of per-pass sums.
        A layer the workload does not exercise reports 0."""

        def med(fn) -> float:
            return statistics.median(fn(p) for p in traced)

        def layer(active: bool, metrics: dict) -> dict:
            return {k: (med(fn) if active else 0.0, unit) for k, (fn, unit) in metrics.items()}

        def ops(p, kind) -> list[dict]:
            return [op for op in p["ops"] if op["kind"] == kind]

        def stages(p, kind, pred=lambda st: True) -> list[dict]:
            return [st for op in ops(p, kind) for st in op.get("stages", ()) if pred(st)]

        def stage_sum(kind, key, scale=1.0):
            return lambda p: sum(st.get(key) or 0 for st in stages(p, kind)) * scale

        def stage_wall(kind, pred):
            return lambda p: sum(
                (st["completionTime"] - st["submissionTime"]) / 1000 for st in stages(p, kind, pred)
            )

        def writes_shuffle(st) -> bool:
            return st.get("shuffleWriteBytes", 0) > 0

        def op_sum(kind, key):
            return lambda p: sum(op.get(key, 0.0) for op in ops(p, kind))

        def build_stages() -> list[dict]:
            """Stages submitted inside the query call of a set-up op that
            built an artifact: the eager part of its builds."""
            out = []
            for op in filter(lambda op: op["builds"], self.setup_ops):
                lo, hi = op["build"]
                ids = {s for j in self.jobs.get(op["group"], ()) for s in j["stageIds"]}
                out += [
                    st for s, st in self.stages.items()
                    if s in ids and lo <= (st.get("submissionTime") or 0) / 1000 <= hi
                ]
            return out

        def batches(p) -> list[dict]:
            return [b for op in p["ops"] for b in op.get("batches", ())]

        def duration(key):
            return lambda p: sum(b["durationMs"].get(key, 0) for b in batches(p))

        def state_sum(key, bs) -> float:
            return sum(s.get(key, 0) for b in bs for s in b.get("stateOperators", ()))

        def final_state_rows(p) -> float:
            last = {b["runId"]: b for b in batches(p)}  # batches are in batchId order
            return state_sum("numRowsTotal", last.values())

        def state_mem_mb(p) -> float:
            return max((state_sum("memoryUsedBytes", [b]) for b in batches(p)), default=0) / MB

        def builds(p) -> int:
            return sum(len(op["builds"]) for op in p["ops"])

        setup_builds = self.setup["warmup_artifacts"]
        setup_build_stages = build_stages()

        def reuse(p) -> float:
            needed = len(setup_builds)
            return 1.0 if needed == 0 else 1.0 - min(needed, builds(p)) / needed

        kinds = self.kinds
        m = {
            "session.get_spark_s": (self.setup["get_spark_s"], "s"),
            "session.warmup_s": (self.setup["warmup_s"], "s"),
            "mapreduce.sequential_oracle_s": (self.setup.get("sequential_oracle_s", 0.0), "s"),
            "catalog.builds": (len(setup_builds), "count"),
            "catalog.build_s": (sum(sec for _, sec in setup_builds), "s"),
            "catalog.build_stages": (len(setup_build_stages), "count"),
            "catalog.build_shuffle_mb": (
                sum(st.get("shuffleWriteBytes") or 0 for st in setup_build_stages) / MB, "MB",
            ),
            "streaming.scratch_mb": (self.passes[-1]["scratch_mb"], "MB"),
            "python.workers": (self.sampler.peak_workers, "count"),
            "process.peak_rss_mb": (self.sampler.peak_rss_mb, "MB"),
            "failed_op_ratio": (failed_ratio, "ratio"),
            "trace.overhead_ratio": (
                med(lambda p: p["wall_s"]) / statistics.median(p["wall_s"] for p in timed),
                "ratio",
            ),
        }
        m |= layer("mr" in kinds, {
            "mapreduce.map_stage_s": (stage_wall("mr", writes_shuffle), "s"),
            "mapreduce.reduce_stage_s": (stage_wall("mr", lambda st: not writes_shuffle(st)), "s"),
            "mapreduce.shuffle_write_mb": (stage_sum("mr", "shuffleWriteBytes", 1 / MB), "MB"),
            "mapreduce.shuffle_records": (stage_sum("mr", "shuffleWriteRecords"), "count"),
            "mapreduce.tasks": (stage_sum("mr", "numTasks"), "count"),
            "mapreduce.python_worker_cpu_s": (op_sum("mr", "python_worker_cpu_s"), "s"),
        })
        m |= layer("query" in kinds, {
            "operators.build_s": (op_sum("query", "build_s"), "s"),
            "operators.plan_s": (op_sum("query", "plan_s"), "s"),
            "operators.exec_s": (op_sum("query", "exec_s"), "s"),
            "operators.jobs": (op_sum("query", "jobs"), "count"),
            "operators.stages": (lambda p: len(stages(p, "query")), "count"),
            "operators.tasks": (stage_sum("query", "numTasks"), "count"),
            "operators.executor_run_s": (stage_sum("query", "executorRunTime", 1e-3), "s"),
            "operators.executor_cpu_s": (stage_sum("query", "executorCpuTime", 1e-9), "s"),
            "operators.shuffle_read_mb": (stage_sum("query", "shuffleReadBytes", 1 / MB), "MB"),
            "operators.shuffle_write_mb": (stage_sum("query", "shuffleWriteBytes", 1 / MB), "MB"),
            "operators.spill_mb": (stage_sum("query", "diskBytesSpilled", 1 / MB), "MB"),
            "operators.gc_s": (stage_sum("query", "jvmGcTime", 1e-3), "s"),
        })
        m |= layer(True, {
            "catalog.reuse_ratio": (reuse, "ratio"),
            "python.worker_cpu_s": (lambda p: p["python_worker_cpu_s"], "s"),
        })
        m |= layer("stream" in kinds, {
            "streaming.batches": (lambda p: len(batches(p)), "count"),
            "streaming.trigger_ms": (duration("triggerExecution"), "ms"),
            "streaming.query_planning_ms": (duration("queryPlanning"), "ms"),
            "streaming.add_batch_ms": (duration("addBatch"), "ms"),
            "streaming.wal_commit_ms": (duration("walCommit"), "ms"),
            "streaming.commit_offsets_ms": (duration("commitOffsets"), "ms"),
            "streaming.state_commit_ms": (lambda p: state_sum("commitTimeMs", batches(p)), "ms"),
            "streaming.state_rows": (final_state_rows, "count"),
            "streaming.state_mem_mb": (state_mem_mb, "MB"),
        })
        self_times = [self.tracer.self_time(p["span"]) for p in traced]
        for name in ("pass", "op", *PHASES, "batch", "stage"):
            m[f"self.{name}_s"] = (statistics.median(st.get(name, 0.0) for st in self_times), "s")
        return m


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _pass_summary(p: dict) -> dict:
    keep = ("index", "traced", "wall_s", "cpu_s", "python_worker_cpu_s", "input_mb", "scratch_mb", "failed")
    out = {k: p[k] for k in keep}
    out["ops"] = [
        {
            k: op.get(k)
            for k in ("name", "wall_s", "build_s", "plan_s", "exec_s", "drain_s", "collect_s", "builds", "error", "traceback")
        }
        for op in p["ops"]
    ]
    return out


def stop_engine() -> None:
    """Stop the session and the JVM it launched, and wait for every
    process this run started (JVM, Python workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = procstat.Tree().descendants
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of input
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(procstat.running, started)):
        time.sleep(0.1)
    for pid in filter(procstat.running, started):
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    sys.path.insert(0, ROOT)
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        if "pyspark" in sys.modules:
            stop_engine()
        shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(bench.detail, f, indent=1, default=str)
    for name, m in result["metrics"].items():
        print(f"# {name:34s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
