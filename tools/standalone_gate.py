"""Run the correctness gate on a REAL multi-process Spark cluster.

Every green result in rounds 1-12 came from one JVM (``local[32]``):
driver, "executors", and python workers all share a process and an
env. The reference's own harness is the opposite shape — one
coordinator plus 2-3 *separate worker processes* over a shared
filesystem (``src/main/test-mr.sh:87-96``, data plane crossing
processes in ``src/mr/worker.go:148-165``). This tool closes that
fidelity gap: it boots a local Spark STANDALONE cluster (one master +
N worker JVMs, each spawning its own executor process and python
workers), points the engine at it via ``SPARK_GRAFT_MASTER``, routes
all scratch through a shared ``SPARK_GRAFT_SCRATCH_DIR``,
and runs ``tools/check_correctness.py`` — the full 267-query gate —
across actual process boundaries. What this exercises that
``local[*]`` cannot:

* closure/function shipping: the MapReduce facade pickles map/reduce
  callables by reference — executors must IMPORT the package
  (``spark.executorEnv.PYTHONPATH``), not inherit the driver's
  modules;
* session artifacts (bucketed tables, IVF centroids, source
  round-trips, ``shared_persist`` checkpoints) written by executor
  processes into the driver's session dir on one shared scratch dir
  and read back by others;
* real shuffle data-plane between executor processes (netty fetch,
  not in-process handoff) and broadcast distribution to remote
  executors.

Committed result: see the RESULTS block at the end of this docstring
(updated per run).

``--crash`` adds the last reference-harness behavior this cluster can
reproduce (VERDICT r13 order #1): the reference's crash test kills
and respawns *worker processes* mid-job and requires golden-equal
output (``src/main/test-mr.sh:294-319``, ``src/mrapps/crash.go:20-32``
— there the workers kill themselves at a random rate; here the
harness is the killer, same observable contract: a worker vanishes
without cleanup while holding in-flight tasks and shuffle state).
Phase A runs a three-query gate (a shuffle-heavy relational query, a
shared-scratch artifact build, a streaming drain), waits until the
first query has PASSed and the next one has tasks in flight, then
SIGKILLs one worker's entire process group — worker JVM, its executor
JVM, and its python workers, the machine-died analog — and requires
the gate to finish 3/3 green on the survivor via Spark's task retry +
stage resubmission (lost map outputs recomputed on FetchFailed).
Phase B is the harness's respawn half (``test-mr.sh``'s
add-workers-in-a-loop): a fresh worker JVM registers with the live
master and a second gate subset must go green WITH the respawned
worker launching an executor for it (asserted from its daemon log).

Usage:
  python tools/standalone_gate.py                       # full gate, sf0.01
  python tools/standalone_gate.py /root/testdata/sf0.001 q1 q2
  python tools/standalone_gate.py --crash               # kill/respawn, sf0.01
  SPARK_GRAFT_STANDALONE_WORKERS=3 python tools/standalone_gate.py

The opt-in pytest twins live in tests/test_standalone_cluster.py
(set SPARK_GRAFT_STANDALONE=1 to run them).

RESULTS (updated per committed run):
* r13 subset smoke (sf0.001, 6 queries incl. streaming + bucketed):
  rc=0 in 38 s.
* r13 family sample via the pytest twin (sf0.001, 13 queries, one
  per family): green in 82 s.
* r13 FULL GATE (sf0.01, this machine, 2 workers x 8 cores / 16g,
  executor mem 8g, shared scratch): **267/267 PASS, 0 failures,
  339 s wall** — first multi-process run of the whole registry; no
  engine changes were needed beyond session.get_spark's non-local
  conf block (executor memory / executorEnv.PYTHONPATH / pyspark
  python), i.e. the closure-shipping, artifact-lock, and scratch
  contracts built under local[*] held across real process
  boundaries on the first try.
* r13 full gate at sf0.1 (same shape, 10x the data — real netty
  shuffle volume, executor-resident caches, the bucketed warehouse
  and IVF/centroid artifacts rebuilt on shared scratch): **267/267
  PASS, 0 failures, 667 s wall.**
* r14 CRASH GATE (sf0.01, 2026-08-16, this machine, --crash): worker0's
  process group SIGKILLed at t+8.7 s with the IVF artifact build's
  tasks in flight (passes_before_kill=0 — every phase-A query ran
  against the post-loss cluster); driver evidence "Lost executor";
  **phase A 3/3 PASS on the survivor in 28.3 s** (shuffle-heavy
  rel_q18, sim_ann_ivf_topk incl. its shared-scratch artifact
  publish, stream_error_rate_alerts' checkpointed drain); respawned
  worker registered with the live master and **phase B 2/2 PASS in
  23.9 s with BOTH workers launching executors** (respawn + survivor
  daemon logs). rc=0, 59 s total. Also green at sf0.001 (54 s).
* r14 FULL GATE at final HEAD (sf0.01, 2 workers x 8 cores / 16g):
  **267/267 PASS, 0 failures, rc=0 in 512 s** — reconfirms the
  multi-process contracts after the round's width/AQE-scope changes.
* r14 full gate at sf0.1, final HEAD: **267/267, rc=0 in 760 s**;
  crash/respawn pytest twin re-run green at final HEAD (89 s).
* r15 CRASH GATE at sf0.1 (2026-08-17, --crash, the VERDICT r14
  order: executor loss mid shuffle-fetch with real netty volume and
  cache re-computation, not just task re-queue): worker0's process
  group SIGKILLed at t+11.7 s with the IVF build's tasks in flight
  (passes_before_kill=0 — every phase-A query ran against the
  post-loss cluster); driver evidence "Lost executor"; **phase A 3/3
  PASS on the survivor in 39.9 s; respawned worker registered and
  phase B 2/2 PASS in 35.3 s with BOTH workers launching executors.
  rc=0, 85 s total.** First crash run through the r15 chunked \r/\n
  reader — the kill fired on a ConsoleProgressBar update, as
  intended.
* shared_persist reliable-checkpoint subset (sf0.001, 4-vCPU host,
  2 workers x 2 cores / 3g, executor mem 2g): graph_pagerank_trade,
  graph_personalized_pagerank, dedup_cluster_size_report,
  rel_trimmed_mean_acctbal **4/4 PASS, rc=0 in 70 s**, with the
  artifact checkpoints in the driver's session dir on shared scratch.
"""

from __future__ import annotations

import os
import re
import shutil
import signal
import socket
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_class() -> str:
    import pyspark

    return os.path.join(pyspark.__path__[0], "bin", "spark-class")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_for(predicate, timeout: float, what: str) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if predicate():
            return
        time.sleep(0.5)
    raise TimeoutError(f"timed out waiting for {what}")


def _contains(path: str, needle: str) -> bool:
    try:
        with open(path, errors="replace") as fh:
            return needle in fh.read()
    except OSError:
        return False


class StandaloneCluster:
    """Boot (and tear down) a master + N worker JVMs on this machine.

    Each process runs in its own process group so teardown kills the
    whole JVM tree (incl. executor children) even on a wedged exit.
    """

    def __init__(self, workers: int = 2, cores: int = 8, memory: str = "16g"):
        self.workers = workers
        self.cores = cores
        self.memory = memory
        self.workdir = tempfile.mkdtemp(prefix="mmrs_standalone_")
        self.port = _free_port()
        self.master_url = f"spark://127.0.0.1:{self.port}"
        self.procs: list[subprocess.Popen] = []
        #: set by callers when a run failed without raising (gate
        #: rc != 0) — keeps the daemon/executor logs for diagnosis
        self.keep_logs = False

    def _launch(self, name: str, args: list[str]) -> subprocess.Popen:
        log = os.path.join(self.workdir, f"{name}.log")
        env = dict(
            os.environ,
            SPARK_NO_DAEMONIZE="1",
            PYSPARK_PYTHON=sys.executable,
            PYTHONPATH=REPO,
            SPARK_WORKER_DIR=os.path.join(self.workdir, name),
            # keep the daemons off the driver's conf dir
            SPARK_LOG_DIR=os.path.join(self.workdir, "logs"),
        )
        logfh = open(log, "w")
        try:
            proc = subprocess.Popen(
                [_spark_class(), *args],
                stdout=logfh,
                stderr=subprocess.STDOUT,
                env=env,
                start_new_session=True,
            )
        finally:
            logfh.close()  # the child holds its own fd
        proc._log = log  # type: ignore[attr-defined]
        self.procs.append(proc)
        return proc

    def start(self) -> str:
        # on any launch/registration failure, kill whatever is already
        # up — a TimeoutError out of __enter__ never reaches __exit__,
        # and orphaned master/worker JVMs would otherwise accumulate
        try:
            return self._start()
        except BaseException:
            self.stop()
            print(f"# cluster startup failed; logs at {self.workdir}", file=sys.stderr)
            raise

    def _start(self) -> str:
        m = self._launch(
            "master",
            [
                "org.apache.spark.deploy.master.Master",
                "--host",
                "127.0.0.1",
                "--port",
                str(self.port),
                "--webui-port",
                "0",
            ],
        )
        _wait_for(
            lambda: _contains(m._log, "I have been elected leader"),
            90,
            "master ALIVE",
        )
        ws = [
            self._launch(
                f"worker{i}",
                [
                    "org.apache.spark.deploy.worker.Worker",
                    self.master_url,
                    "--cores",
                    str(self.cores),
                    "--memory",
                    self.memory,
                    "--webui-port",
                    "0",
                ],
            )
            for i in range(self.workers)
        ]
        for w in ws:
            _wait_for(
                lambda w=w: _contains(w._log, "Successfully registered with master"),
                90,
                "worker registration",
            )
        return self.master_url

    def add_worker(self, name: str) -> subprocess.Popen:
        """Register one more worker JVM with the live master (the
        respawn/elasticity half of the crash harness — the analog of
        test-mr.sh starting fresh workers while the job runs)."""
        w = self._launch(
            name,
            [
                "org.apache.spark.deploy.worker.Worker",
                self.master_url,
                "--cores",
                str(self.cores),
                "--memory",
                self.memory,
                "--webui-port",
                "0",
            ],
        )
        _wait_for(
            lambda: _contains(w._log, "Successfully registered with master"),
            90,
            f"{name} registration",
        )
        return w

    def kill_worker(self, proc: subprocess.Popen) -> None:
        """SIGKILL a worker's entire process group — the worker JVM,
        its executor JVM, and that executor's python workers all share
        the group (start_new_session at launch; Spark's ExecutorRunner
        children inherit it), so this is the machine-died analog: no
        shutdown hooks, no executor deregistration, in-flight tasks
        and served shuffle blocks simply vanish."""
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=30)

    def stop(self) -> None:
        # workers first (their executors die with the group), master last
        for proc in reversed(self.procs):
            try:
                os.killpg(proc.pid, signal.SIGTERM)
            except ProcessLookupError:
                continue
        deadline = time.monotonic() + 20
        for proc in self.procs:
            try:
                proc.wait(timeout=max(0.1, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait(timeout=10)
        self.procs.clear()

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()
        # keep logs on failure for diagnosis — both a raised exception
        # AND a non-zero gate rc (which raises nothing; callers set
        # keep_logs) — sweep only on a genuinely clean exit
        if exc == (None, None, None) and not self.keep_logs:
            shutil.rmtree(self.workdir, ignore_errors=True)
        else:
            print(f"# standalone cluster logs kept at {self.workdir}", file=sys.stderr)


def run_gate(sf_dir: str, only: list[str], cluster: StandaloneCluster) -> int:
    """Run check_correctness.py as a subprocess pointed at the cluster
    via SPARK_GRAFT_MASTER, with scratch on a shared dir every worker
    process resolves identically."""
    scratch = os.path.join(cluster.workdir, "scratch")
    os.makedirs(scratch, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=cluster.master_url,
        SPARK_GRAFT_SCRATCH_DIR=scratch,
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "check_correctness.py"),
            sf_dir,
            *only,
        ],
        env=env,
        cwd=REPO,
    )
    return proc.returncode


#: Phase-A subset: the three shapes the verdict names — a shuffle-heavy
#: relational query (real netty shuffle state to lose), a shared-scratch
#: artifact build (the session artifact write must survive an executor
#: process dying), and a streaming drain (micro-batch task retry against
#: a shared checkpoint). Order matters: the kill fires once query 1 has
#: PASSed and the artifact build has tasks in flight.
CRASH_PHASE_A = [
    "rel_q18_large_orders",
    "sim_ann_ivf_topk",
    "stream_error_rate_alerts",
]
#: Phase-B subset after the respawn: a shuffle aggregation plus the
#: pickled-closure facade path (closure shipping to a worker process
#: that did not exist when the package was first shipped).
CRASH_PHASE_B = [
    "rel_q9_product_profit",
    "mr_udtf_wordcount",
]

#: ConsoleProgressBar stage line — evidence that tasks are in flight.
_STAGE_RE = re.compile(r"\[Stage \d+:.*\(\d+ \+ \d+\) / \d+\]")
#: Driver-side evidence that the executor loss was actually experienced
#: by the app (WARN-level task/stage failure paths), not a quiet kill
#: between jobs.
_LOSS_RE = re.compile(
    r"ExecutorLostFailure|FetchFailed|Lost executor|Removing executor"
    r"|Executor app-\S+ (?:lost|removed)|Worker lost"
)


def run_crash_gate(sf_dir: str, cluster: StandaloneCluster) -> dict:
    """Kill a worker JVM mid-query, require green completion on the
    survivor, respawn, require the respawned worker to serve the next
    queries. Raises AssertionError with the failed invariant; returns
    an evidence dict for the committed RESULTS block."""
    scratch = os.path.join(cluster.workdir, "scratch")
    os.makedirs(scratch, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_MASTER=cluster.master_url,
        SPARK_GRAFT_SCRATCH_DIR=scratch,
    )
    master_proc, victim = cluster.procs[0], cluster.procs[1]
    assert len(cluster.procs) >= 3, "crash mode needs >= 2 workers"

    # ---- Phase A: kill one worker while the gate is mid-query ----
    t0 = time.monotonic()
    gate = subprocess.Popen(
        [
            sys.executable,
            os.path.join(REPO, "tools", "check_correctness.py"),
            sf_dir,
            *CRASH_PHASE_A,
        ],
        env=env,
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        errors="replace",
    )
    lines: list[str] = []
    passes_before_kill = 0
    killed_at = None
    kill_deadline = None
    assert gate.stdout is not None
    # Raw chunk reads split on BOTH \r and \n: Spark's
    # ConsoleProgressBar terminates its [Stage ...] updates with \r,
    # and text-mode line iteration holds a trailing \r back (universal
    # newlines must peek for a following \n before yielding), so the
    # in-flight match could degrade to the 30 s post-PASS deadline
    # fallback and fire the kill later than intended (r14 ADVICE).
    # os.read hands over each progress update the instant the pipe
    # does; pieces re-gain a \n so the PASS-count and _LOSS_RE logic
    # over "".join(lines) is unchanged.
    fd = gate.stdout.fileno()
    pending = ""
    eof = False
    while not eof:
        chunk = os.read(fd, 65536)
        if chunk:
            pending += chunk.decode("utf-8", errors="replace")
            pieces = re.split(r"[\r\n]", pending)
            pending = pieces.pop()
        else:
            eof = True
            pieces, pending = ([pending] if pending else []), ""
        for piece in pieces:
            if not piece:
                continue
            line = piece + "\n"
            lines.append(line)
            sys.stderr.write(line)
            if killed_at is not None:
                continue
            if line.startswith("PASS "):
                passes_before_kill += 1
                # fallback: if no query ever shows a progress line
                # (all too fast / bar suppressed), kill anyway soon
                kill_deadline = time.monotonic() + 30
            in_flight = _STAGE_RE.search(line) is not None
            overdue = kill_deadline is not None and time.monotonic() > kill_deadline
            # fire at the FIRST sign of tasks in flight so the
            # in-flight query and every query after it run against
            # the post-loss cluster (the reference's crash test kills
            # workers early and often, test-mr.sh:294-319)
            if in_flight or overdue:
                assert gate.poll() is None, "gate exited before the kill"
                cluster.kill_worker(victim)
                killed_at = time.monotonic() - t0
                sys.stderr.write(
                    f"# SIGKILLed worker pgid {victim.pid} at t+{killed_at:.1f}s "
                    f"({'tasks in flight' if in_flight else 'deadline fallback'})\n"
                )
    rc = gate.wait()
    out = "".join(lines)
    phase_a_wall = time.monotonic() - t0

    assert killed_at is not None, "kill never fired (no PASS line seen?)"
    assert passes_before_kill < len(CRASH_PHASE_A), (
        "kill fired after every query already passed — nothing was "
        "recovered; reorder the subset or kill earlier"
    )
    assert rc == 0, f"gate rc={rc} after worker kill — recovery failed"
    pass_total = sum(1 for l in lines if l.startswith("PASS "))
    assert pass_total == len(CRASH_PHASE_A), (
        f"{pass_total}/{len(CRASH_PHASE_A)} PASS lines after worker kill"
    )
    loss_evidence = _LOSS_RE.search(out)
    assert loss_evidence, (
        "no executor-loss evidence in driver output — the kill was a "
        "no-op for the app (did the victim host an executor?)"
    )
    victim_participated = _contains(victim._log, "Asked to launch executor")
    assert victim_participated, "victim worker never launched an executor"
    _wait_for(
        lambda: _contains(master_proc._log, "Removing worker"),
        30,
        "master to remove the dead worker",
    )

    # ---- Phase B: respawn a worker, require both to serve a new app ----
    t1 = time.monotonic()
    respawn = cluster.add_worker("worker_respawn")
    survivor = cluster.procs[2]
    launches_before_b = open(survivor._log, errors="replace").read().count(
        "Asked to launch executor"
    )
    rc_b = run_gate(sf_dir, CRASH_PHASE_B, cluster)
    phase_b_wall = time.monotonic() - t1
    assert rc_b == 0, f"post-respawn gate rc={rc_b}"
    assert _contains(respawn._log, "Asked to launch executor"), (
        "respawned worker never launched an executor — the second app "
        "did not use it"
    )
    launches_after_b = open(survivor._log, errors="replace").read().count(
        "Asked to launch executor"
    )
    assert launches_after_b > launches_before_b, (
        "survivor worker launched no executor for the post-respawn app — "
        "phase B did not use BOTH workers"
    )
    return {
        "phase_a": {
            "queries": CRASH_PHASE_A,
            "rc": rc,
            "passes_before_kill": passes_before_kill,
            "killed_at_s": round(killed_at, 1),
            "wall_s": round(phase_a_wall, 1),
            "loss_evidence": loss_evidence.group(0),
        },
        "phase_b": {
            "queries": CRASH_PHASE_B,
            "rc": rc_b,
            "wall_s": round(phase_b_wall, 1),
            "respawn_launched_executor": True,
            "survivor_launched_executor": True,
        },
    }


def main() -> None:
    args = sys.argv[1:]
    crash = "--crash" in args
    args = [a for a in args if a != "--crash"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]
    workers = int(os.environ.get("SPARK_GRAFT_STANDALONE_WORKERS", "2"))
    cores = int(os.environ.get("SPARK_GRAFT_STANDALONE_CORES", "8"))
    mem = os.environ.get("SPARK_GRAFT_STANDALONE_WORKER_MEM", "16g")
    t0 = time.monotonic()
    with StandaloneCluster(workers=workers, cores=cores, memory=mem) as cluster:
        print(
            f"# standalone cluster up: {cluster.master_url}, "
            f"{workers} workers x {cores} cores / {mem}",
            file=sys.stderr,
        )
        if crash:
            try:
                evidence = run_crash_gate(sf_dir, cluster)
            except AssertionError as exc:
                cluster.keep_logs = True
                print(f"# CRASH GATE FAILED: {exc}", file=sys.stderr)
                sys.exit(1)
            import json as _json

            print(_json.dumps({"crash_gate": evidence, "sf_dir": sf_dir}))
            rc = 0
        else:
            rc = run_gate(sf_dir, only, cluster)
            cluster.keep_logs = rc != 0
    print(f"# standalone gate rc={rc} in {time.monotonic() - t0:.0f}s", file=sys.stderr)
    sys.exit(rc)


if __name__ == "__main__":
    main()
