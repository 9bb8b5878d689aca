"""Layer-attributed closed-loop benchmark of the engine.

Usage, from the root of a checkout:

    python3 layerbench/run.py --workload dedup_index --seed 1 --seconds 5 --trace 0

One client thread issues the operations of a workload one after another
on ``local[<cores>]``. A run generates (or reuses) its inputs, sets up a
session several times, makes one untimed warm-up pass (and repeats the
streaming operation, the slowest to warm up), then repeats timed
passes for ``--seconds``. Every operation's output is checked. Stdout ends
with one JSON line: end-to-end metrics with ``--trace 0``, per-layer
metrics (and the tracing overhead) with ``--trace 1``. See
``layerbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

PROCESS_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Set-up cycles per run; ``setup_s`` takes their median.
SETUP_CYCLES = 3
#: An operation running longer than this is cancelled and counted failed.
OP_TIMEOUT_S = 120.0
#: JVM heap: the program's default (8g) is sized for a dedicated host.
JVM_HEAP = "2g"
#: Fixed tail percentile of the pooled operation latencies. A run holds
#: 4-5 latencies, too few for ten samples beyond any percentile.
TAIL_Q = 0.9


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(work_dir: str, trace: bool) -> None:
    """Keep every file Spark, its workers and the program write inside
    the checkout, and bound the JVM heap. Must run before the JVM starts.
    Tasks get half the CPUs: the JVM's compiler and GC threads, the Python
    client and its workers use the rest. On all CPUs a pass was no faster,
    used more CPU, and spread wider from run to run.
    Only a traced run makes the status store keep every job, stage and
    SQL execution for the span harvest; an untraced run keeps Spark's
    defaults, so the store's memory does not grow into the timings."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(max(1, len(os.sched_getaffinity(0)) // 2))
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "spark.ui.retainedJobs=100000",
            "spark.ui.retainedStages=100000",
            "spark.sql.ui.retainedExecutions=100000",
        ]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_DRIVER_MEMORY": JVM_HEAP,
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
    })
    tempfile.tempdir = tmp


class Switch:
    """Routes ``span`` to the tracer only while tracing is on."""

    def __init__(self, tracer) -> None:
        self.tracer, self.on = tracer, tracer is not None

    def span(self, name):
        return self.tracer.span(name) if self.on else contextlib.nullcontext()


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Runner:
    def __init__(self, args, cache_dir: str, work_dir: str) -> None:
        from layerbench import procstat
        from layerbench.workloads import WORKLOADS

        self.args = args
        self.work_dir = work_dir
        self.spans_path = os.path.join(cache_dir, f"spans-{args.workload}-s{args.seed}.json")
        self.tracer = None
        if args.trace:
            from layerbench.spans import Tracer

            self.tracer = Tracer()
        self.switch = Switch(self.tracer)
        self.workload = WORKLOADS[args.workload](cache_dir, work_dir, args.seed, self.switch)
        self.procstat = procstat
        self.attempted = self.failed = 0
        self.spark = None
        self.op_latency: dict[str, list[float]] = {}

    # -- session ------------------------------------------------------
    def _new_session(self):
        from parcialbigdata_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark(f"layerbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.bind(self.spark)
        return self.spark

    def setup_cycle(self) -> float:
        t0 = time.perf_counter()
        spark = self._new_session()
        self.workload.register(spark)
        return time.perf_counter() - t0

    # -- passes -------------------------------------------------------
    def _run_op(self, op) -> tuple[float, float] | None:
        """Run one operation and check it. Returns its (latency, CPU
        seconds of the process tree), or None when it failed: it raised,
        timed out or produced a wrong output."""
        self.attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        c0 = self.procstat.tree_usage(os.getpid())[0]
        t0 = time.perf_counter()
        try:
            out = op.run()
            elapsed = time.perf_counter() - t0
            cpu = self.procstat.tree_usage(os.getpid())[0] - c0
        except Exception as exc:  # noqa: BLE001 - a failed operation is a result, not a crash
            self._fail(op.name, f"raised {type(exc).__name__}: {exc}", traceback.format_exc())
            return None
        finally:
            timer.cancel()
        try:
            problem = op.check(out)
        except Exception as exc:  # noqa: BLE001
            problem = f"check raised {type(exc).__name__}: {exc}"
        finally:
            self.spark.catalog.clearCache()
        if problem:
            self._fail(op.name, problem)
            return None
        return elapsed, cpu

    def _fail(self, name: str, problem: str, detail: str = "") -> None:
        self.failed += 1
        print(f"layerbench: operation {name} failed: {problem}\n{detail}", file=sys.stderr)

    def run_pass(self, pass_no: int) -> dict:
        """One pass: the wall and CPU time of its operations (their checks
        and the untimed reset excluded) and each operation's latency."""
        self.workload.before_pass()
        ops = self.workload.ops(pass_no)
        results = []
        for op in ops:
            r = self._run_op(op)
            if r is not None:
                results.append(r)
                self.op_latency.setdefault(op.name, []).append(r[0])
        if self.tracer is not None and self.switch.on:
            self.tracer.harvest()
        return {
            "ops": [lat for lat, _ in results],
            "pass_s": sum(lat for lat, _ in results),
            "cpu_s": sum(cpu for _, cpu in results),
            "complete": len(results) == len(ops),
        }

    def rewarm(self) -> None:
        """Run the workload's ``REWARM`` operations once more, untimed but
        checked. After one warm-up pass they still run about a fifth
        slower than in later passes, which made the first timed pass the
        noisiest figure of a run."""
        self.workload.before_pass()
        for op in self.workload.ops(0):
            if op.name in self.workload.REWARM:
                self._run_op(op)

    def timed_passes(self, seconds: float, first_pass_no: int) -> list[dict]:
        passes, t_end = [], time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(self.run_pass(first_pass_no + len(passes)))
        return passes

    # -- the run ------------------------------------------------------
    def run(self) -> dict:
        wl = self.workload
        wl.prepare()
        with self.procstat.PeakRssSampler(os.getpid()) as rss:
            if self.tracer is not None:
                self.tracer.instrument()
            cycles = [self.setup_cycle() for _ in range(SETUP_CYCLES)]
            t0 = time.perf_counter()
            expect0 = wl.expect_s
            self.run_pass(0)
            self.rewarm()
            warmup_s = time.perf_counter() - t0 - (wl.expect_s - expect0)
            setup_s = statistics.median(cycles) + warmup_s
            self.setup_detail = {
                "cycles": [round(c, 3) for c in cycles], "warmup_s": round(warmup_s, 3),
                "expect_s": round(wl.expect_s, 3),
            }
            if self.tracer is not None:
                setup_spans = list(self.tracer.spans)
                self.tracer.uninstrument()
                self.switch.on = False
                base = self.timed_passes(self.args.seconds / 2, 1)
                self.tracer.instrument()
                self.switch.on = True
                first = len(self.tracer.spans)
                traced = self.timed_passes(self.args.seconds / 2, 1 + len(base))
                self.tracer.uninstrument()
                result = self._layer_metrics(base, traced, first, setup_spans)
                self.tracer.dump(self.spans_path)
            else:
                rss.reset()
                passes = self.timed_passes(self.args.seconds, 1)
                result = self._end_to_end(passes, setup_s, rss.peak_mb)
            ratio = wl.stored_bytes_ratio()
            wl.close()
        result["_stored_bytes_ratio"] = ratio
        return result

    def _end_to_end(self, passes: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
        ops = [x for p in passes for x in p["ops"]]
        full = [p for p in passes if p["complete"]] or passes
        pass_s = statistics.median(p["pass_s"] for p in full)
        return {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "op_s_p50": (statistics.median(ops) if ops else float("nan"), "s"),
            "op_s_tail": (_percentile(ops, TAIL_Q) if ops else float("nan"), "s"),
            "rows_per_s": (self.workload.input_rows() / pass_s, "1/s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in full), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "_samples": {"passes": len(passes), "ops": len(ops)},
        }

    def _layer_metrics(self, base: list[dict], traced: list[dict], first: int, setup_spans: list) -> dict:
        from layerbench import layers

        overhead = statistics.median(p["pass_s"] for p in traced) / statistics.median(p["pass_s"] for p in base)
        out = layers.summarise(self.tracer.spans, first, len(traced), setup_spans, self.workload)
        out["tracing_overhead"] = (overhead, "ratio")
        return out

    def close(self) -> None:
        """Stop Spark and the JVM, wait for every child process, and
        remove the run's scratch directory."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            _stop_children()
            shutil.rmtree(self.work_dir, ignore_errors=True)


def _stop_children() -> None:
    from pyspark import SparkContext

    from layerbench import procstat

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                pass
        SparkContext._gateway = None
    deadline = time.time() + 30
    while True:
        kids = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parcialbigdata_spark")):
        print("layerbench: the engine package parcialbigdata_spark is not in this checkout", file=sys.stderr)
        return 2
    from layerbench.workloads import WORKLOADS  # noqa: F401 - fail fast on a broken program

    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # A terminated run still stops the JVM and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cache_dir = os.path.join(ROOT, ".layerbench")
    work_dir = os.path.join(cache_dir, f"work-{os.getpid()}")
    _configure_env(work_dir, bool(args.trace))
    runner = Runner(args, cache_dir, work_dir)
    try:
        result = runner.run()
    finally:
        runner.close()
    samples = result.pop("_samples", None)
    ratio = result.pop("_stored_bytes_ratio")
    if args.trace:
        result["stored_bytes_ratio"] = (ratio, "ratio")
    for name, (value, unit) in result.items():
        print(f"{args.workload:16s} {name:48s} {value:14.6g} {unit}")
    print(f"{args.workload:16s} {'op_fail_frac':48s} {runner.failed / max(runner.attempted, 1):14.6g} ratio")
    if not args.trace:
        print(f"{args.workload:16s} {'stored_bytes_ratio':48s} {ratio:14.6g} ratio")
    if samples:
        print(f"{args.workload:16s} samples: {samples} setup: {runner.setup_detail} "
              f"run wall: {time.time() - PROCESS_START:.1f} s")
    for name, lats in runner.op_latency.items():
        print(f"{args.workload:16s} op {name:45s} " + " ".join(f"{x:.3f}" for x in lats))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
