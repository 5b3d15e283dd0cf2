"""Closed-loop, single-client benchmark of the dashboard serving layer and of
the batch side (the flight ETL and the analytic registry).

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 8 --trace 0

Run it from the root of the repository. Each run is a fresh process with a
fresh JVM: it generates its inputs from ``--seed``, builds the Spark
session, loads the workload's inputs and runs the workload's warm-up ops.
``setup_s`` is the time from process start to the first timed op, less
input generation. Then it runs ops one at a time until
``--seconds`` have passed and the current round of ops is complete, checks
every output and prints one JSON result as the last line of standard
output (a detail line precedes it). Every op, warm-up ops and the once-per-run
output checks included, counts in ``ops_ok_frac``. With ``--trace 1``
every call into the program is a span with its own Spark job group, and
the run reports the per-layer metrics instead.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, geomean  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Warm-up has stopped drifting once a block of ops is no more than this
# share faster than the block before it.
DRIFT = 0.05


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric in BENCHMARK.json, with its unit. A traced run
    prints all of them; a layer the workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def host_env(work: str) -> dict[str, str]:
    """Host hygiene, identical on every side of a comparison: local
    parallelism = the cores this process may use, a driver heap sized from
    the host's RAM (a quarter, at most 4 GiB; the program's 24g default
    exceeds small hosts), and every scratch file inside ``work``."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(total_kb // 4 // 1024, 4096)}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    }


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_rss_peak_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session, shut the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


class Run:
    """One benchmark run: set-up, warm-up, the timed loop and the report."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.env = host_env(self.work)
        os.environ.update(self.env)
        self.tracer = Tracer(bool(args.trace))
        self.wl = WORKLOADS[args.workload](self.work, args.seed, self.tracer)
        self.op_ms: dict[str, list[float]] = {}
        self.gc_ms: list[float] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def setup(self, get_spark) -> None:
        """Build the session in a cold JVM and load the workload's inputs.
        The heap is committed at its full size from the start (-Xms = the
        driver memory): otherwise the collections between batch ops shrink
        it and the next op pays for growing it again, which made those ops
        about a quarter slower and less repeatable."""
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.env['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{self.env['SPARK_GRAFT_DRIVER_MEM']}"}
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        self.wl.load(self.spark)
        self.load_s = time.perf_counter() - t0 - self.get_spark_s

    def warm_up(self, ops) -> None:
        """Run the workload's blocks of warm-up ops. With two blocks or
        more, ``warmup_converged`` records whether the last block's total
        time is no more than ``DRIFT`` below the block before it."""
        self.warmup_blocks_ms: list[float] = []
        for _ in range(self.wl.warmup_blocks):
            block = [self.one(ops, timed=False) for _ in range(self.wl.warmup_block)]
            self.warmup_blocks_ms.append(sum(ms for ms in block if ms is not None))
        prev, last = ([None, None] + self.warmup_blocks_ms)[-2:]
        self.warmup_converged = prev is not None and last >= prev * (1 - DRIFT)

    def count(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def one(self, ops, timed: bool) -> float | None:
        """Run one op and check it; time only the calls into the program.
        Returns the op's time in ms, or None if it raised."""
        label, fn = next(ops)
        tr = self.tracer
        gc0 = tr.jvm_gc_ms() if tr.enabled else 0
        try:
            t0 = time.perf_counter()
            check = fn()
            ms = (time.perf_counter() - t0) * 1e3
            errs = check()
        except Exception as e:  # noqa: BLE001 - a failed op is counted and the run goes on
            traceback.print_exc(file=sys.stderr)
            ms, errs = None, [f"{label}: {type(e).__name__}: {e}"]
        if tr.enabled:
            self.gc_ms.append(tr.jvm_gc_ms() - gc0)
            tr.settle()
        self.wl.cleanup()
        self.count(errs if timed else [f"warm-up {e}" for e in errs])
        if timed and not errs:
            self.op_ms.setdefault(label, []).append(ms)
        return ms

    def execute(self) -> dict:
        sys.path.insert(0, ROOT)
        # Fails fast, before any generation, when the program is not there.
        from us_flight_bigdata_dashboard_spark.session import get_spark

        t0 = time.perf_counter()
        self.wl.generate()
        self.gen_s = time.perf_counter() - t0
        self.load_start = load1()
        self.spark = None
        try:
            self.setup(get_spark)
            ops = self.wl.ops()
            t0 = time.perf_counter()
            self.warm_up(ops)
            self.warmup_s = time.perf_counter() - t0
            self.warmup_ops = self.attempted
            self.tracer.open_window()
            self.wl.begin_timed()
            self.gc_ms.clear()
            t0 = time.perf_counter()
            self.setup_s = t0 - T_PROCESS - self.gen_s
            while not self.wl.done(time.perf_counter() - t0, self.args.seconds,
                                   self.attempted - self.warmup_ops):
                self.one(ops, timed=True)
            self.timed_s = time.perf_counter() - t0
            self.tracer.close_window()
            for errs in self.wl.final_checks():
                self.count(errs)
            self.rss_mb = jvm_rss_peak_mb(self.spark)
            self.layers = self.wl.layers() if self.tracer.enabled else {}
        finally:
            if self.spark is not None:
                stop_jvm(self.spark)
        result = self.report()
        shutil.rmtree(self.work, ignore_errors=True)
        return result

    def report(self) -> dict:
        # One op latency for every workload: the geometric mean, over the
        # kinds of op (refresh; or the rebuild and each registry entry), of
        # each kind's median.
        kinds = [statistics.median(v) for v in self.op_ms.values()]
        p50 = geomean(kinds) if kinds else float("nan")
        ok_frac = (self.attempted - self.failed) / self.attempted if self.attempted else 0.0
        detail = {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.args.trace,
            "host": {**{k: self.env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
                     "load1_start": self.load_start, "load1_end": load1()},
            "named": {**self.wl.named(self.op_ms), "jvm_rss_mb_peak": {"value": self.rss_mb, "unit": "MB"}},
            "gen_s": self.gen_s, "get_spark_s": self.get_spark_s, "load_s": self.load_s,
            "warmup_s": self.warmup_s, "warmup_ops": self.warmup_ops,
            "warmup_blocks_ms": self.warmup_blocks_ms, "warmup_converged": self.warmup_converged,
            "timed_s": self.timed_s, "op_ms": self.op_ms, "errors": self.errors[:20],
        }
        print(json.dumps({"detail": detail}))
        if self.tracer.enabled:
            units = per_layer_units()
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(self.layers)
            metrics["session.get_spark_s"] = self.get_spark_s
            metrics["jvm.gc_ms_per_op"] = statistics.mean(self.gc_ms) if self.gc_ms else 0.0
            metrics["jvm.rss_mb_peak"] = self.rss_mb
            metrics["trace.op_ms_p50"] = p50
            metrics["trace.bookkeeping_ms_per_op"] = self.tracer.bookkeeping_s * 1e3 / max(
                self.attempted, 1)
            out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            self.tracer.write(os.path.join(trace_dir, f"{self.args.workload}-{self.args.seed}.json"),
                              {"detail": detail, "metrics": metrics})
        else:
            out = {"setup_s": {"value": self.setup_s, "unit": "s"},
                   "ops_ok_frac": {"value": ok_frac, "unit": "frac"},
                   "op_ms_p50": {"value": p50, "unit": "ms"}}
        correct = not self.errors and self.attempted > 0 and not math.isnan(p50)
        return {"correct": correct, "attempted": self.attempted, "failed": self.failed,
                "metrics": out}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    result = Run(ap.parse_args()).execute()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
