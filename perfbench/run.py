#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload mr-manifest --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. One run is one fresh process with one
closed-loop client (one op at a time):

1. generate the seed's inputs (cached per seed, untimed);
2. set up: ``get_spark`` + ``ensure_shipped`` + one tiny job (below);
3. cold pass: the first run through the op schedule, results collected;
4. check every op's collected result (untimed);
5. warm passes, results to Spark's ``noop`` sink, for ``--seconds``; the
   first WARMUP_PASSES do not count, and at least MIN_COUNTED_PASSES do;
6. stop Spark and wait until its processes have exited.

Set-up is timed in SETUP_SAMPLES fresh processes started together (this
one and SETUP_SAMPLES - 1 children that only set up and exit); the
children have exited before the cold pass starts.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The exit code is non-zero when any
op failed or a check failed. ``perfbench/README.md`` documents the metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_SAMPLES = 3
# the JIT is still warming after the cold pass: the first warm pass runs
# 20-40% slower than the third, so it is run but not counted
WARMUP_PASSES = 1
MIN_COUNTED_PASSES = 2
DEADLINE_S = 170  # a run that has not finished by then is stopped



def pin_environment(fresh: bool = True) -> int:
    """Same environment on every run: one Spark slot per core, Spark and
    temp files under the work directory (emptied when ``fresh``)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):  # per-run scratch: the package zip, shuffle files
        if fresh:
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # no hsperfdata file: HotSpot writes it under /tmp regardless
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, ROOT)
    return cpus


def watchdog(seconds: float) -> None:
    """End the whole process tree if the run overruns: a wedged JVM must
    not outlive the run."""
    import procstat

    def fire():
        print(f"perfbench: run exceeded {seconds:.0f} s, stopping", file=sys.stderr)
        for p in procstat.tree_pids(os.getpid()):
            if p != os.getpid():
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()


def lock_work_dir():
    """One run at a time per checkout: runs share the work directory. The
    lock is held while the returned file stays open."""
    import fcntl

    fh = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        sys.exit("perfbench: another run is using this checkout")
    return fh


def set_up(extra_conf=None) -> tuple[object, dict]:
    from mapreduce_paper_implementation_spark.session import get_spark
    from mapreduce_paper_implementation_spark.shipping import ensure_shipped

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=extra_conf)
    t1 = time.perf_counter()
    ensure_shipped(spark)
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "ensure_shipped_s": t2 - t1, "setup_s": t3 - t0}


def shut_down(spark) -> None:
    """Stop Spark, end its JVM and wait until every descendant has exited."""
    import procstat
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while (pids := [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]):
        if time.time() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def setup_probe() -> int:
    spark, t = set_up()
    shut_down(spark)
    print(json.dumps(t))
    return 0


def spawn_setup_probe() -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )


def probe_result(child: subprocess.Popen) -> float:
    out, _ = child.communicate(timeout=150)
    if child.returncode:
        raise RuntimeError(f"set-up probe exited with {child.returncode}")
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


class Runner:
    def __init__(self, workload, tracer, rss, cpus: int, inject_failure: bool):
        import procstat
        from workloads import dir_bytes

        self.dir_bytes = dir_bytes
        self.w = workload
        self.rss = rss
        self.tracer = tracer
        self.cpus = cpus
        self.procstat = procstat
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops = list(workload.ops)
        if inject_failure:
            from workloads import Op

            def boom(collect):
                raise RuntimeError("injected failure")

            self.ops.append(Op("injected_failure", "query", boom))

    def run_pass(self, pass_no: int, collect: bool) -> dict:
        """One run through the schedule. Returns wall time, process-tree
        CPU, per-op times and (when collecting) per-op results."""
        sc = self.w.spark.sparkContext
        self.w.reset_state()
        self.tracer.pass_no = pass_no
        cpu0 = self.procstat.tree_cpu_s(os.getpid())
        self.rss.restart()
        t0 = time.perf_counter()
        op_s, results = {}, {}
        for op in self.ops:
            self.attempted += 1
            self.tracer.op = op.name
            sc.setJobGroup(f"p{pass_no}/{op.name}", f"perfbench {op.kind} op")
            s = time.perf_counter()
            try:
                with self.tracer.span("op", op.name, kind=op.kind):
                    results[op.name] = op.run(collect)
                op_s[op.name] = time.perf_counter() - s
            except Exception:
                self.failed += 1
                self.errors.append(f"pass {pass_no} {op.name}: {traceback.format_exc(limit=3)}")
        sc.setJobGroup("perfbench", "between ops")
        self.tracer.op = None
        return {
            "wall_s": time.perf_counter() - t0,
            "cpu_s": self.procstat.tree_cpu_s(os.getpid()) - cpu0,
            "rss_mb": self.rss.restart(),
            "state_mb": self.dir_bytes(self.w.state_root) / 2**20,
            "traced": self.tracer.enabled,
            "pass_no": pass_no,
            "op_s": op_s,
            "results": results,
        }

    def check(self, results: dict) -> None:
        for op in self.ops:
            if op.name not in results:
                continue  # already counted as failed when it raised
            try:
                err = op.check(results[op.name])
            except Exception:
                err = traceback.format_exc(limit=3)
            if err:
                self.failed += 1
                self.errors.append(f"check {op.name}: {err}")


def warm_passes(runner: Runner, seconds: float, before_pass=lambda i: None) -> list[dict]:
    """Warm passes for ``seconds``; returns the counted ones."""
    passes: list[dict] = []
    start = time.perf_counter()
    while True:
        before_pass(len(passes))
        p = runner.run_pass(1 + len(passes), collect=False)
        p.pop("results")
        passes.append(p)
        counted = passes[WARMUP_PASSES:]
        if len(counted) >= MIN_COUNTED_PASSES and (
            time.perf_counter() - start + statistics.median(q["wall_s"] for q in counted) > seconds
        ):
            return counted


def end_to_end(cold: dict, passes: list[dict], setup: list[float], kinds: dict) -> dict:
    med = statistics.median
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for name, s in p["op_s"].items():
            per_op.setdefault(name, []).append(s)

    def per_pass_mean(kind: str) -> float:
        return med(statistics.mean(s for n, s in p["op_s"].items() if kinds[n] == kind) for p in passes)

    values = {
        "setup_s": (med(setup), "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "pass_s": (med(p["wall_s"] for p in passes), "s"),
        "query_s_geomean": (statistics.geometric_mean(med(xs) for xs in per_op.values()), "s"),
        "cpu_s": (med(p["cpu_s"] for p in passes), "s"),
        "update_s_p50": (per_pass_mean("update"), "s"),
        "read_s_p50": (per_pass_mean("read"), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("mr-manifest", "neardup-release"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true", help="add an op that raises (self-test)")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.setup_probe:
        os.makedirs(WORK, exist_ok=True)
        lock = lock_work_dir()  # noqa: F841 (held until exit)
    watchdog(DEADLINE_S)
    cpus = pin_environment(fresh=not args.setup_probe)
    try:
        import data
        import procstat
        import spans
        import workloads
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.setup_probe:
        return setup_probe()
    if args.workload is None:
        ap.error("--workload is required")

    t_start = time.perf_counter()
    data_root = data.prepare(WORK, ROOT, args.seed, workloads.STREAM_BATCHES)
    t_data = time.perf_counter()
    tracer = spans.Tracer(enabled=bool(args.trace))
    extra_conf = None
    if args.trace:
        import layers

        extra_conf = layers.event_log_conf(WORK)
    # SETUP_SAMPLES fresh processes set up at the same moment: this one
    # and SETUP_SAMPLES - 1 children that exit once set up
    children = [] if args.trace else [spawn_setup_probe() for _ in range(SETUP_SAMPLES - 1)]
    spark, setup = set_up(extra_conf)
    setup_samples = [setup["setup_s"]] + [probe_result(c) for c in children]
    with procstat.RssSampler(os.getpid()) as rss:
        w = workloads.WORKLOADS[args.workload](spark, tracer, data_root, os.path.join(WORK, "state"))
        if args.trace:
            tracer.wrap_operators(workloads.PKG)
        runner = Runner(w, tracer, rss, cpus, args.inject_failure)
        cold = runner.run_pass(0, collect=True)
        t_cold = time.perf_counter()
        runner.check(cold.pop("results"))
        t_check = time.perf_counter()
        if args.trace:
            passes = warm_passes(runner, args.seconds, layers.alternate_tracing(tracer, WARMUP_PASSES))
            tracer.enabled = False
            report = layers.TracedRun(runner, passes)
        else:
            passes = warm_passes(runner, args.seconds)
        t_warm = time.perf_counter()
        shut_down(spark)

    kinds = {op.name: op.kind for op in runner.ops}
    if args.trace:
        metrics = report.metrics(
            setup, os.path.join(WORK, "eventlog"),
            os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json"),
        )
    else:
        metrics = end_to_end(cold, passes, setup_samples, kinds)
    share = runner.failed / runner.attempted
    for e in runner.errors:
        print(e, file=sys.stderr)
    t_end = time.perf_counter()
    phases = {"inputs": t_data - t_start, "set-up": t_cold - t_data - cold["wall_s"], "cold": cold["wall_s"],
              "checks": t_check - t_cold, "warm": t_warm - t_check, "stop": t_end - t_warm}
    print("phase s: " + " ".join(f"{k} {v:.1f}" for k, v in phases.items()), file=sys.stderr)
    if not args.trace:
        print("warm pass s: " + " ".join(f"{p['wall_s']:.2f}" for p in passes), file=sys.stderr)
        print("warm pass peak MB: " + " ".join(f"{p['rss_mb']:.0f}" for p in passes), file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"{'failed_op_share':40s} {share:.6g} ratio", file=sys.stderr)
    ok = runner.failed == 0
    print(json.dumps({"correct": ok, "attempted": runner.attempted, "failed": runner.failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
