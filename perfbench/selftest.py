#!/usr/bin/env python3
"""Self-test of the benchmark, at a tiny input scale.

    python3 perfbench/selftest.py

Checks that BENCHMARK.json and the code name the same metrics, that
each correctness gate rejects a deliberately corrupted output, that
spans nest across threads, and that a small run of every listed
workload prints every metric with its unit in both the untraced and
the traced mode. Takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import common, corpus, gate  # noqa: E402

SCALE = "0.1"


def check_catalogue(bench: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == common.E2E_UNITS, f"end_to_end differs from code: {e2e}"
    assert per_layer == common.PER_LAYER_UNITS, "per_layer differs from code"


def check_gates() -> None:
    import pandas as pd

    rows = [(f"L{i}", 1000 + i, None if i % 3 else f"C{i}") for i in range(50)]
    newer = [(r[0], r[1] + 1, r[2]) for r in rows[:5]]
    final = newer + rows[5:]
    snaps = [{r[0]: r for r in rows}, {r[0]: r for r in final}]
    exact = [gate.exact_delta({}, snaps[0]), gate.exact_delta(*snaps)]
    logs = [[(r, False) for r in rows],
            [(r, True) for r in rows[:5]] + [(r, False) for r in newer]]
    assert gate.check(final, final, logs, exact) == [], "gate rejects a correct run"
    dropped = [logs[0], logs[1][:-1]]  # one changelog row lost
    assert gate.check(final, final, dropped, exact), "gate accepts a dropped changelog row"
    altered = final[:-1] + [(final[-1][0], final[-1][1] + 7, final[-1][2])]
    assert gate.check(altered, final, logs, exact), "gate accepts an altered snapshot row"
    # an unchanged row retracted and re-inserted: the replay still adds up
    redundant = [logs[0], logs[1] + [(rows[9], True), (rows[9], False)]]
    errs = gate.check(final, final, redundant, exact)
    assert errs and all("exact diff" in e for e in errs), f"redundant changelog: {errs}"

    pdf = pd.DataFrame({"doc_id": range(20), "score": [i / 7 for i in range(20)]})
    want = {"q": corpus.result_hash(pdf)}
    assert corpus.gate([("q", corpus.result_hash(pdf.iloc[::-1]))], want) == [], \
        "query gate depends on row order"
    bad = pdf.copy()
    bad.loc[3, "score"] += 0.001  # one altered query row
    assert corpus.gate([("q", corpus.result_hash(bad))], want), "query gate accepts an altered row"


def check_tracer() -> None:
    """A span opened on a callback thread nests under the span open on
    the op's thread, and self time excludes the children's interval."""
    import threading
    import time

    from perfbench.trace import Tracer

    t = Tracer()
    with t.op("r"), t.span("await"):
        def callback():
            with t.span("upsert"):
                time.sleep(0.05)
        th = threading.Thread(target=callback)
        th.start()
        th.join()
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["upsert"]["parent"] == by_name["await"]["id"], by_name
    assert t.self_times()["await"] < 0.04, t.self_times()


def check_run(workload: str, trace: int, units: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-2000:]}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] is True and out["attempted"] >= 1, out
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == units, f"{workload} trace={trace}: metrics {sorted(set(got) ^ set(units))}"
    print(f"ok  {workload} trace={trace}: {len(got)} metrics")


def main() -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_catalogue(bench)
    print("ok  metric catalogue")
    check_gates()
    print("ok  gates reject corrupted outputs")
    check_tracer()
    print("ok  span nesting across threads")
    for w in bench["workloads"]:
        check_run(w["name"], 0, common.E2E_UNITS)
        check_run(w["name"], 1, common.PER_LAYER_UNITS)
    return 0


if __name__ == "__main__":
    sys.exit(main())
