"""Shared pieces: the metric catalogue, JVM/host probes, medians,
and the result line every workload prints."""

from __future__ import annotations

import json
import math
import os
import statistics
import time

# Every run prints exactly these; BENCHMARK.json lists the same names.
# One "op" is the workload's unit of work: a churn round (crmls_churn)
# or the one cold pass over the query mix (corpus_dedup).
E2E_UNITS = {
    "setup_s": "s",
    "op_s": "s",
    "cpu_per_op_s": "s",
}

QUERY_MIX = (
    "dedup_minhash_lsh", "dedup_jaccard_capped", "dedup_containment_prefix",
    "dedup_simhash", "dedup_winnowing_pairs", "dedup_cc_clusters",
    "text_boilerplate_scrub", "simsearch_topk_ivf",
)

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.op_s": "s",
    "pipeline.drain_s": "s",
    "pipeline.changelog_s": "s",
    "pipeline.result_rows": "count",
    "pipeline.delta_rows": "count",
    "pipeline.delta_frac": "ratio",
    "dedup_stream.replace_s": "s",
    "dedup_stream.upsert_s": "s",
    "dedup_stream.upsert_calls": "count",
    "dedup_stream.buckets_touched_frac": "ratio",
    "dedup_stream.rewrite_amp": "ratio",
    "versioned.commit_s": "s",
    "versioned.commits": "count",
    "stream.addBatch_ms": "ms",
    "stream.getBatch_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.batches": "count",
    "stream.rows_per_batch": "count",
    "stream.busy_frac": "ratio",
    "self.op_s": "s",
    "self.pipeline_s": "s",
    "self.await_s": "s",
    "self.upsert_s": "s",
    "self.replace_s": "s",
    "self.commit_s": "s",
    "self.changelog_s": "s",
    "self.query_build_s": "s",
    "self.query_exec_s": "s",
}
for _q in QUERY_MIX:
    PER_LAYER_UNITS[f"q.{_q}.s"] = "s"
    PER_LAYER_UNITS[f"q.{_q}.build_s"] = "s"
    PER_LAYER_UNITS[f"q.{_q}.cpu_s"] = "s"


def median(values) -> float:
    return statistics.median(values) if values else math.nan


def effective_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class Jvm:
    """The driver JVM seen from outside: CPU time from /proc, GC and JIT
    time from the java.lang.management beans."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tick

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1000.0

    def sample(self) -> dict:
        return {"cpu": self.cpu_s(), "gc": self.gc_s(), "jit": self.jit_s(),
                "wall": time.perf_counter()}


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, float],
         units: dict[str, str]) -> None:
    """The result line: last line of stdout, one JSON object."""
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    out = {name: {"value": float(metrics[name]), "unit": unit}
           for name, unit in units.items()}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}), flush=True)
