"""Per-layer metrics for a traced run: wrappers around the program's
public functions (installed only in this process), and the reduction
of their spans and counts to the names in ``common.PER_LAYER_UNITS``.
A layer the workload never calls reads 0."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from perfbench import common

STREAM_DURATIONS = ("addBatch", "getBatch", "latestOffset", "walCommit",
                    "commitOffsets", "queryPlanning")


def _rows_in(dirs) -> int:
    n = 0
    for d in dirs:
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
    return n


class LayerProbe:
    """Installs the wrappers and keeps what they capture beyond spans:
    the streaming queries started while traced."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.queries = []
        tracer.on_reset.append(self.queries.clear)

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

        from fink_joiner_spark import versioned
        from fink_joiner_spark.streaming import dedup_stream, pipeline

        tracer = self.tracer
        counted = set()  # (store, version): an upsert that commits nothing repeats one

        def after_upsert(out, args, kwargs, span):
            # which buckets this upsert rewrote, and how many rows they hold
            store = args[0]
            cur = store.current_version()
            if cur is None or (store.path, cur) in counted:
                return
            counted.add((store.path, cur))
            mine = [d for d in store.bucket_dirs() if f"/v{cur:06d}/" in d]
            tracer.count("upsert.buckets_touched", len(mine))
            tracer.count("upsert.buckets", store.n_buckets)
            tracer.count("upsert.rows_rewritten", _rows_in(mine))

        tracer.wrap(pipeline, "run_snapshot_join_pipeline", "pipeline")
        tracer.wrap(dedup_stream.SnapshotStore, "upsert", "upsert", after_upsert)
        tracer.wrap(dedup_stream.SnapshotStore, "replace", "replace")
        tracer.wrap(versioned.VersionedStore, "commit", "commit")
        tracer.wrap(StreamingQuery, "awaitTermination", "await")
        tracer.wrap(DataFrameWriter, "parquet", "changelog",
                    when=lambda args, kwargs: "changelog" in str(
                        args[1] if len(args) > 1 else kwargs.get("path")))
        tracer.wrap(DataStreamWriter, "start", "stream_start",
                    after=lambda q, args, kwargs, span: self.queries.append(q))

    def collect(self, res: dict, jvm_delta: dict, session_s: float) -> dict[str, float]:
        """Every per-layer metric of the timed phase; 0 where unused."""
        return _collect(res, self.tracer, self.queries, jvm_delta, session_s)


def _collect(res: dict, tracer, queries, jvm_delta: dict, session_s: float) -> dict[str, float]:
    m = {name: 0.0 for name in common.PER_LAYER_UNITS}
    m["session.start_s"] = session_s
    m["jvm.jit_s"] = jvm_delta["jit"]
    m["jvm.gc_s"] = jvm_delta["gc"]

    traced = tracer.durations("op")
    if traced:
        # what the after-hooks cost (span bookkeeping is microseconds);
        # compare trace.op_s with an untraced run's op_s for the total
        m["trace.overhead_frac"] = tracer.overhead_s / sum(traced)
        m["trace.op_s"] = common.median(traced)

    def med(name):
        xs = tracer.durations(name)
        return common.median(xs) if xs else 0.0

    # per call medians of each wrapped layer
    m["dedup_stream.upsert_s"] = med("upsert")
    m["dedup_stream.replace_s"] = med("replace")
    m["versioned.commit_s"] = med("commit")
    m["pipeline.changelog_s"] = med("changelog")
    n_traced = max(1, len(traced))
    m["dedup_stream.upsert_calls"] = len(tracer.named("upsert")) / n_traced
    m["versioned.commits"] = len(tracer.named("commit")) / n_traced
    c = tracer.counts
    if c.get("upsert.buckets"):
        m["dedup_stream.buckets_touched_frac"] = c["upsert.buckets_touched"] / c["upsert.buckets"]
    staged = c.get("staged_rows")
    if staged:
        m["dedup_stream.rewrite_amp"] = c.get("upsert.rows_rewritten", 0) / staged

    # drain: from pipeline start until its last stream query terminated
    awaits = tracer.named("await")
    drains = []
    for p in tracer.named("pipeline"):
        ends = [a["end"] for a in awaits if p["start"] <= a["start"] <= p["end"]]
        if ends:
            drains.append(max(ends) - p["start"])
    m["pipeline.drain_s"] = common.median(drains) if drains else 0.0

    # Spark's own StreamingQueryProgress of every query started while traced
    prog = [json.loads(p.json) for q in queries for p in q.recentProgress]
    prog = [p for p in prog if p["numInputRows"] > 0]
    if prog:
        for k in STREAM_DURATIONS:
            m[f"stream.{k}_ms"] = common.median([p["durationMs"].get(k, 0) for p in prog])
        m["stream.batches"] = len(prog) / n_traced
        # rows the benchmark staged, not numInputRows: Spark counts a
        # source row once per action that re-reads the batch
        if staged:
            m["stream.rows_per_batch"] = staged / len(prog)
        if traced:
            m["stream.busy_frac"] = (sum(p["durationMs"]["triggerExecution"] for p in prog)
                                     / 1000 / sum(traced))

    for name, t in tracer.self_times().items():
        key = f"self.{name}_s"
        if key in m:
            m[key] = t / n_traced
    m.update({k: v for k, v in res.get("layers", {}).items() if k in m})
    if m["pipeline.result_rows"]:
        m["pipeline.delta_frac"] = m["pipeline.delta_rows"] / m["pipeline.result_rows"]
    return m
