"""crmls_churn: closed loop of churn rounds over the six-topic CRMLS
topology. Each round stages one seeded churn file per topic, then one
``run_snapshot_join_pipeline`` call drains the six file streams into
their snapshots, re-derives the 11-edge LEFT JOIN and emits its retract
delta. The next round starts when the previous one returns."""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench import common, gate, gen

N_LISTINGS = 20_000
CHURN_FRAC = 0.01
WARMUP_ROUNDS = 1
# --seconds buys one timed round per ROUND_BUDGET_S (a round takes
# about 10 s on 4 cores). The count is fixed before the loop, so a
# faster program times the same rounds, not more and warmer ones.
ROUND_BUDGET_S = 10

# topic -> (column prefix, payload columns, dedup key)
TOPIC_SPEC = {
    "listings": ("l_", {"l_listing_key": "$.ListingKeyNumeric",
                        **{f"l_a{i + 1}": f"$.{r}" for i, r in enumerate(gen.AGENT_ROLES)},
                        **{f"l_f{i + 1}": f"$.{r}" for i, r in enumerate(gen.OFFICE_ROLES)}},
                 "l_uc_pk"),
    "agents": ("a_", {}, "a_uc_pk"),
    "offices": ("f_", {}, "f_uc_pk"),
    "openhouse": ("o_", {"o_listing_key": "$.ListingKeyNumeric"}, "o_listing_key"),
    "media": ("m_", {"m_resource_record_key": "$.ResourceRecordKeyNumeric"},
              "m_resource_record_key"),
    "history": ("h_", {"h_resource_record_key": "$.ResourceRecordKeyNumeric"},
                "h_resource_record_key"),
}

RESULT_COLS = (["l_uc_pk", "l_uc_created_ts"]
               + [f"a{i}_ts" for i in range(1, 5)] + ["o_uc_pk"]
               + [f"f{i}_ts" for i in range(1, 5)] + ["m_uc_pk", "h_uc_pk"])


def parsed(raw, topic):
    from fink_joiner_spark.operators import projections

    prefix, payload, _ = TOPIC_SPEC[topic]
    return projections.parse_envelope(raw, "value", payload_keys=payload, prefix=prefix)


def stream_defs(spark, stage):
    from fink_joiner_spark.streaming.pipeline import StreamDef

    defs = []
    for topic, (prefix, _, key) in TOPIC_SPEC.items():
        os.makedirs(os.path.join(stage, topic), exist_ok=True)
        raw = spark.readStream.schema("value STRING").text(os.path.join(stage, topic))
        defs.append(StreamDef(topic, parsed(raw, topic), [key],
                              f"{prefix}uc_created_ts", [f"{prefix}uc_pk"]))
    return defs


def join11(s):
    """listings ⟕ agents×4 ⟕ open-house ⟕ offices×4 ⟕ media ⟕ history
    (CRMLSJoiner.scala:471-487), projected to keys and versions so any
    entity's churn shows in the result."""
    from pyspark.sql import functions as F

    out = s["listings"].alias("l")
    for i in range(1, 5):
        out = out.join(s["agents"].alias(f"a{i}"),
                       F.col(f"l.l_a{i}") == F.col(f"a{i}.a_uc_pk"), "left")
    out = out.join(s["openhouse"].alias("o"),
                   F.col("o.o_listing_key") == F.col("l.l_listing_key"), "left")
    for i in range(1, 5):
        out = out.join(s["offices"].alias(f"f{i}"),
                       F.col(f"l.l_f{i}") == F.col(f"f{i}.f_uc_pk"), "left")
    out = out.join(s["media"].alias("m"),
                   F.col("l.l_uc_pk") == F.col("m.m_resource_record_key"), "left")
    out = out.join(s["history"].alias("h"),
                   F.col("l.l_uc_pk") == F.col("h.h_resource_record_key"), "left")
    return out.select(
        F.col("l.l_uc_pk").alias("l_uc_pk"),
        F.col("l.l_uc_created_ts").alias("l_uc_created_ts"),
        *[F.col(f"a{i}.a_uc_created_ts").alias(f"a{i}_ts") for i in range(1, 5)],
        F.col("o.o_uc_pk").alias("o_uc_pk"),
        *[F.col(f"f{i}.f_uc_created_ts").alias(f"f{i}_ts") for i in range(1, 5)],
        F.col("m.m_uc_pk").alias("m_uc_pk"),
        F.col("h.h_uc_pk").alias("h_uc_pk"),
    )


def expected(spark, stage):
    """Batch recomputation over everything staged: parse each topic,
    keep the latest version per key, join."""
    from fink_joiner_spark.operators.dedup import latest_per_key

    snaps = {}
    for topic, (prefix, _, key) in TOPIC_SPEC.items():
        raw = spark.read.schema("value STRING").text(os.path.join(stage, topic))
        snaps[topic] = latest_per_key(parsed(raw, topic), [key],
                                      f"{prefix}uc_created_ts", [f"{prefix}uc_pk"])
    return [tuple(r) for r in join11(snaps).collect()]


# topic -> payload field its dedup key comes from (None: the envelope's uc_pk)
MODEL_KEY = {"listings": None, "agents": None, "offices": None,
             "openhouse": "ListingKeyNumeric", "media": "ResourceRecordKeyNumeric",
             "history": "ResourceRecordKeyNumeric"}


class Model:
    """The expected join result, recomputed in plain Python from the
    staged envelope lines and sharing no code with the program: the
    latest version per dedup key (highest uc_created_ts, then uc_pk, the
    order ``latest_per_key`` uses), then the 11-edge LEFT JOIN."""

    def __init__(self):
        self.latest = {t: {} for t in TOPIC_SPEC}

    def apply(self, topic: str, lines) -> None:
        latest, field = self.latest[topic], MODEL_KEY[topic]
        for line in lines:
            env = json.loads(line)
            data = json.loads(env["data"])
            key = env["uc_pk"] if field is None else data.get(field)
            v = (env["uc_created_ts"], env["uc_pk"], data)
            if key not in latest or v[:2] > latest[key][:2]:
                latest[key] = v

    def snapshot(self) -> dict[str, tuple]:
        """l_uc_pk -> result row, columns in RESULT_COLS order."""
        t = self.latest

        def get(topic, key, i):  # i = 0: uc_created_ts, 1: uc_pk
            v = t[topic].get(key) if key is not None else None
            return None if v is None else v[i]

        out = {}
        for pk, (ts, _, d) in t["listings"].items():
            out[pk] = (pk, ts,
                       *[get("agents", d.get(r), 0) for r in gen.AGENT_ROLES],
                       get("openhouse", d.get("ListingKeyNumeric"), 1),
                       *[get("offices", d.get(r), 0) for r in gen.OFFICE_ROLES],
                       get("media", pk, 1), get("history", pk, 1))
        return out


def exact_deltas(stage: str, n_rounds: int) -> list[list]:
    """Per round, the exact changelog between the model's snapshots
    before and after it, from the files staged for that round."""
    model, prev, out = Model(), {}, []
    for idx in range(n_rounds):
        for topic in TOPIC_SPEC:
            with open(os.path.join(stage, topic, f"r{idx:06d}.json")) as f:
                model.apply(topic, f.read().splitlines())
        cur = model.snapshot()
        out.append(gate.exact_delta(prev, cur))
        prev = cur
    return out


def run(ctx) -> dict:
    from fink_joiner_spark.streaming import pipeline

    spark, tracer = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    topo = gen.CrmlsTopology(rng, ctx.scale(N_LISTINGS))
    stage, work = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "state")
    defs = stream_defs(spark, stage)
    result_dir = os.path.join(work, "result")
    changelogs = []

    def do_round(idx: int, files: dict[str, list[str]]) -> dict:
        for topic, lines in files.items():
            gen.write_lines(os.path.join(stage, topic, f"r{idx:06d}.json"), lines)
        j0 = ctx.jvm.sample()
        with tracer.op(f"round-{idx}"):
            tracer.count("staged_rows", sum(len(v) for v in files.values()))
            pipeline.run_snapshot_join_pipeline(spark, defs, join11, work)
        d = common.delta(j0, ctx.jvm.sample())
        ctx.log(f"round {idx}: {d['wall']:.2f} s, JVM cpu {d['cpu']:.1f} s, jit {d['jit']:.1f} s")
        changelogs.append(gate.read_changelog(os.path.join(result_dir, "changelog"), RESULT_COLS))
        return d

    # setup: base load, then untimed warm-up rounds
    do_round(0, topo.base())
    for i in range(1, WARMUP_ROUNDS + 1):
        do_round(i, topo.churn(CHURN_FRAC))
    ctx.setup_done()

    rounds, round_cpu, churn_rows, failed = [], [], 0, 0
    j0 = ctx.jvm.sample()
    first = WARMUP_ROUNDS + 1
    for idx in range(first, first + max(1, int(ctx.seconds // ROUND_BUDGET_S))):
        files = topo.churn(CHURN_FRAC)
        churn_rows += sum(len(v) for v in files.values())
        try:
            d = do_round(idx, files)
            rounds.append(d["wall"])
            round_cpu.append(d["cpu"])
        except Exception as e:  # a failed round counts against failed_frac
            failed += 1
            ctx.log(f"round {idx} failed: {e!r}")
    j1 = ctx.jvm.sample()

    from fink_joiner_spark.streaming.dedup_stream import SnapshotStore

    result = SnapshotStore(result_dir, [RESULT_COLS[0]], RESULT_COLS[0])
    final_rows = gate.read_rows(result.bucket_dirs())
    errors = gate.check(final_rows, expected(spark, stage), changelogs,
                        exact_deltas(stage, idx + 1))
    attempted = len(rounds) + failed
    busy = sum(rounds)
    d = common.delta(j0, j1)
    return {
        "errors": errors,
        "attempted": attempted,
        "failed": attempted if errors else failed,
        "ops": rounds,
        "op_cpu": round_cpu,
        "jvm": d,
        "report": {
            "round_s": (common.median(rounds), "s"),
            "round_n": (len(rounds), "count"),
            "churn_rows_per_s": (churn_rows / busy if busy else 0.0, "1/s"),
            "jvm_cpu_s": (d["cpu"], "s"),
        },
        "layers": {
            "pipeline.result_rows": len(final_rows),
            "pipeline.delta_rows": common.median([len(c) for c in changelogs[first:]]
                                                 or [0]),
        },
    }
