#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh Python+JVM process.

    python3 perfbench/run.py --workload crmls_churn --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is the JSON result;
the lines before it print the workload's own metrics by name with
units. ``--trace 1`` installs span wrappers and prints the per-layer
metrics instead of the end-to-end ones. Scratch files live under
``.bench_build/perfbench`` in the current directory.
"""

from __future__ import annotations

import os
import time

T_START = time.perf_counter()


def _process_age() -> float:
    """Seconds since this process started (interpreter start-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_AGE = _process_age()

import argparse  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("crmls_churn", "corpus_dedup")
SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench")


class Ctx:
    """What a workload gets: the session, its probes, the seed and the
    measurement window. ``scale`` shrinks inputs for the self-test."""

    def __init__(self, spark, jvm, args, tracer, work):
        self.spark, self.jvm, self.tracer, self.work = spark, jvm, tracer, work
        self.seed, self.seconds, self.scale_factor = args.seed, args.seconds, args.scale
        self.setup_s = None

    def scale(self, n: int) -> int:
        return max(1, int(n * self.scale_factor))

    def setup_done(self) -> None:
        self.setup_s = T_AGE + time.perf_counter() - T_START
        self.tracer.reset()

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (self-test only)")
    return p.parse_args(argv)


def start_spark(work: str):
    """The program's own session factory, with every scratch directory
    kept inside the checkout and cores taken from nproc."""
    os.environ["SPARK_GRAFT_CPUS"] = str(common.effective_cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    from fink_joiner_spark.session import get_spark

    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    # launch-time confs the session factory does not set itself
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM itself, and wait until it exits
    (the gateway JVM ends when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import fink_joiner_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    load0, steal0 = os.getloadavg()[0], common.host_steal_s()
    work = os.path.join(SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark, session_s = start_spark(work)
    try:
        jvm = common.Jvm(spark)
        tracer = Tracer() if args.trace else NullTracer()
        ctx = Ctx(spark, jvm, args, tracer, work)
        if args.workload == "crmls_churn":
            from perfbench import crmls as mod
        else:
            from perfbench import corpus as mod
        probe = None
        if tracer.active:
            from perfbench.layers import LayerProbe
            probe = LayerProbe(tracer)
            probe.install()
        res = mod.run(ctx)
        if probe is not None:  # reads query progress: needs the JVM
            layer_metrics = probe.collect(res, jvm_delta=res["jvm"], session_s=session_s)
            tracer.unwrap_all()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    load1 = os.getloadavg()[0]

    ops = res["ops"]
    if not ops:
        print(f"perfbench: no {args.workload} op completed", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": ctx.setup_s,
        "op_s": common.median(ops),
        "cpu_per_op_s": common.median(res["op_cpu"]),
    }
    report = dict(res["report"])
    report.update({
        "setup_s": (ctx.setup_s, "s"),
        "failed_frac": (res["failed"] / max(1, res["attempted"]), "ratio"),
        "ops": (len(ops), "count"),
        "cores": (common.effective_cpus(), "count"),
        "load_start": (load0, "1/min"),
        "load_end": (load1, "1/min"),
        "host_steal_s": (common.host_steal_s() - steal0, "s"),
        "seed": (args.seed, "id"),
    })
    for name, (value, unit) in report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for err in res["errors"]:
        print(f"{args.workload} GATE FAILED: {err}")
    if probe is not None:
        metrics = layer_metrics
        tracer.dump(os.path.join(SCRATCH, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = common.PER_LAYER_UNITS
    else:
        metrics, units = e2e, common.E2E_UNITS
    common.emit(not res["errors"] and res["attempted"] > 0, max(1, res["attempted"]),
                res["failed"], metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
