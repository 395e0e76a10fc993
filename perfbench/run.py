#!/usr/bin/env python3
"""Layer-attributed benchmark of the engine's public API.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 8 --trace 0

Run it from the repository root. One process, one SparkSession on
``local[<cpus>]``, one closed-loop client: each op starts when the
previous one has finished and been checked. The run has three phases:

1. prepare — generate the seeded inputs into the run's own directory
   and load the DuckDB oracle answers (cached in ``.perfbench/cache``);
   never timed;
2. set-up — session start plus the workload's warm-up rounds
   (``setup_s``);
3. measure — whole rounds until ``--seconds`` have passed (at least
   ``MIN_ROUNDS``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds (U T T U ...) and prints the per-layer
metrics of the traced ones, plus the tracing overhead (median traced
minus median untraced round time). Every run also prints a ``context``
line with the measurement protocol stamps; they are never used to
retry, drop or scale a run.

All files the run writes stay under ``.perfbench/`` in the repository.
The last stdout line is the result JSON; the exit code is 0 only if the
run completed (a wrong output is a failed op, not a crash).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "mapreduce_implementation_spark")
WORK = os.path.join(ROOT, ".perfbench")
MIN_ROUNDS = 3
DEADLINE_S = 175


def _configure_environment(run_dir: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside
    ``run_dir`` and pin the core count before Spark starts."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _kill_descendants() -> None:
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _start_watchdog() -> None:
    """A run that has not finished after ``DEADLINE_S`` is a failed run:
    kill every process it started and exit without a result."""

    def expire():
        print(f"run exceeded {DEADLINE_S} s; killing it", file=sys.stderr)
        _kill_descendants()
        os._exit(3)

    t = threading.Timer(DEADLINE_S, expire)
    t.daemon = True
    t.start()


# -- process memory ---------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc."""

    PERIOD_S = 0.5

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# -- session lifecycle -----------------------------------------------


def start_session():
    from mapreduce_implementation_spark import get_spark

    spark = get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    _kill_descendants()


def protocol_stamps(spark) -> dict:
    """measure_protocol's session stamp, calibration probe and HOF canary
    ratio — context only."""
    try:
        import measure_protocol as mp
    except ImportError:
        return {"measure_protocol": "unavailable"}
    canary = mp.hof_canary_seconds(spark)
    cal = mp.calibration_probe(spark, runs=1)
    return {
        **mp.session_stamp(spark),
        "calibration_s": cal,
        "hof_canary_s": canary,
        "hof_canary_ratio": canary / cal if cal else None,
    }


# -- measurement -------------------------------------------------------


@dataclass
class OpRecord:
    result: object  # workloads.OpResult
    op_id: int
    release_s: float
    jobs: list | None = None  # trace.JobRec, traced rounds only
    persisted_rdds: int = 0

    @property
    def latency_s(self) -> float:
        """What the client waits for: build, action and the release of
        the op's cached blocks."""
        return self.result.wall_s + self.release_s


@dataclass
class Round:
    traced: bool
    ops: list[OpRecord] = field(default_factory=list)
    # start to end of the round, including a traced round's status reads
    # between ops
    elapsed_s: float = 0.0

    @property
    def wall_s(self) -> float:
        """Summed op latency: the time the client waits on the engine."""
        return sum(o.latency_s for o in self.ops)


def run_round(workload, spark, order, tracer, traced=False) -> Round:
    from mapreduce_implementation_spark import caching
    from perfbench.workloads import OpResult

    rnd = Round(traced)
    t_round = time.perf_counter()
    if traced:
        tracer.drain()  # late events of an untraced round must not count here
    tracer.active = traced
    for name in order:
        op_id = tracer.start_op()
        first_job = tracer.next_job_id(spark) if traced else 0
        t0 = time.perf_counter()
        try:
            with tracer.span("op", name):
                res = workload.run_op(spark, name)
        except Exception as e:  # a raising op is a failed op; the loop goes on
            traceback.print_exc()
            res = OpResult(name, time.perf_counter() - t0, 0.0, False,
                           f"{type(e).__name__}: {e}"[:300])
        t_rel = time.perf_counter()
        with tracer.span("caching", "release_caches"):
            caching.release_caches()
        rec = OpRecord(res, op_id, time.perf_counter() - t_rel)
        if traced:
            rec.persisted_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
            rec.jobs = tracer.read_jobs(spark, first_job, tracer.next_job_id(spark))
        rnd.ops.append(rec)
        if not res.ok:
            print(f"op failed: {name}: {res.detail}", file=sys.stderr)
    tracer.active = False
    rnd.elapsed_s = time.perf_counter() - t_round
    return rnd


def quantile(xs, q: float) -> float:
    """Linear-interpolation quantile."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_medians(rounds) -> dict[str, float]:
    """Each op's median latency over the rounds."""
    by_op: dict[str, list[float]] = {}
    for rnd in rounds:
        for o in rnd.ops:
            by_op.setdefault(o.result.name, []).append(o.latency_s)
    return {name: statistics.median(v) for name, v in by_op.items()}


def end_to_end(workload, rounds, setup_s: float) -> dict:
    med = op_medians(rounds)
    round_s = sum(med.values())
    m = {
        "setup_s": (setup_s, "s"),
        "mix_round_s": (round_s, "s"),
        "query_p50_s": (quantile(med.values(), 0.5), "s"),
        "query_p90_s": (quantile(med.values(), 0.9), "s"),
        # the workload's documents through every op of a round
        "kernel_docs_per_s": (workload.docs / round_s, "docs/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"engine package not found under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _configure_environment(run_dir)
    try:
        workload = WORKLOADS[args.workload](args.seed, os.path.join(WORK, "cache"), run_dir)
        return _run(args, workload)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, workload) -> int:
    t0 = time.perf_counter()
    workload.prepare()
    prepare_s = time.perf_counter() - t0
    # after prepare: only the first run for a seed fills the input and
    # oracle caches, and that may take longer
    _start_watchdog()

    from perfbench import gen
    from perfbench.trace import Tracer

    tracer = Tracer()
    ops = workload.op_names()
    with RssSampler() as rss:
        t_session = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - t_session
        try:
            if args.trace:
                tracer.install(spark)
            t_setup = time.perf_counter()
            workload.setup(spark)
            warm = [run_round(workload, spark, ops, tracer) for _ in range(workload.WARMUP_ROUNDS)]
            setup_s = session_s + time.perf_counter() - t_setup

            rounds = []
            t_meas = time.perf_counter()
            i = 0
            min_rounds = MIN_ROUNDS * (2 if args.trace else 1)
            while i < min_rounds or time.perf_counter() - t_meas < args.seconds:
                order = gen.seeded_order(ops, args.seed, i)
                # untraced/traced in U T T U order, so neither side gets
                # the later, warmer rounds
                traced = bool(args.trace) and i % 4 in (1, 2)
                rounds.append(run_round(workload, spark, order, tracer, traced))
                i += 1
            measure_s = time.perf_counter() - t_meas
            if args.trace:
                from perfbench.layers import per_layer

                metrics = per_layer(
                    rounds, tracer, lambda sid: tracer.task_skew(spark, sid),
                    session_s, rss, cores=int(os.environ["SPARK_GRAFT_CPUS"]),
                )
            # last, so the canary cannot warm the JVM or seed the JIT
            # profile the measured rounds run on
            stamps = protocol_stamps(spark)
        finally:
            stop_session(spark)

    all_ops = [o.result for rnd in [*warm, *rounds] for o in rnd.ops]
    failed = sum(not o.ok for o in all_ops)
    plain = [r for r in rounds if not r.traced]
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(), f)
    else:
        metrics = end_to_end(workload, plain, setup_s)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": workload.inputs,
        "ops_per_round": len(ops),
        "rounds": len(plain),
        "traced_rounds": len(rounds) - len(plain),
        "op_samples": sum(len(r.ops) for r in plain),
        "round_s": [rnd.elapsed_s for rnd in plain],
        "op_median_s": op_medians(plain),
        "session_start_s": session_s,
        "peak_rss_mb": rss.peak_bytes / 1e6,
        "prepare_s": prepare_s,
        "measure_s": measure_s,
        "error_rate": failed / len(all_ops),
        **stamps,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
