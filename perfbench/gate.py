"""Correctness gate of the streaming workload: the maintained snapshot
must equal a batch recomputation, the emitted changelog, replayed as a
multiset, must reproduce it, and each round's changelog must be the
exact difference between the expected snapshots around it. Files are
read with pyarrow, outside Spark and outside the timed region."""

from __future__ import annotations

import collections
import os

import pyarrow.parquet as pq


def _tables(path: str):
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                yield pq.read_table(os.path.join(path, name))


def read_rows(paths) -> list[tuple]:
    """Rows of the parquet files directly under each of ``paths``."""
    rows = []
    for p in paths:
        for t in _tables(p):
            rows.extend(zip(*t.to_pydict().values()))
    return rows


def read_changelog(path: str, cols=None) -> list[tuple[tuple, bool]]:
    """(row, is_retract) pairs of one emitted changelog directory;
    ``cols`` picks and orders the row columns."""
    out = []
    for t in _tables(path):
        d = t.select(list(cols) + ["is_retract"]).to_pydict() if cols else t.to_pydict()
        flags = d.pop("is_retract")
        out.extend(zip(zip(*d.values()), flags))
    return out


def replay(changelogs) -> collections.Counter:
    """Apply changelogs in order as a multiset: +1 per insert, -1 per
    retract. A retract of an absent row leaves a negative count."""
    c = collections.Counter()
    for log in changelogs:
        for row, is_retract in log:
            c[row] += -1 if is_retract else 1
    return c


def exact_delta(prev: dict, cur: dict) -> list[tuple[tuple, bool]]:
    """The minimal changelog between two keyed snapshots (key -> row):
    a retract of every row that changed or went, an insert of every row
    that changed or came."""
    out = []
    for k, row in cur.items():
        old = prev.get(k)
        if old != row:
            out.append((row, False))
            if old is not None:
                out.append((old, True))
    out += [(row, True) for k, row in prev.items() if k not in cur]
    return out


def check(final_rows, expected_rows, changelogs, exact_deltas) -> list[str]:
    """Errors found; empty when the snapshot and its changelog hold.
    ``changelogs`` and ``exact_deltas`` are per round, in order. Each
    round's changelog must equal the exact difference of the expected
    snapshots before and after it, so a round that retracts and
    re-inserts unchanged rows fails although the replay still adds up."""
    errors = []
    want = collections.Counter(expected_rows)
    if collections.Counter(final_rows) != want:
        errors.append("snapshot != batch latest_per_key recomputation")
    got = replay(changelogs)
    if any(v < 0 for v in got.values()):
        errors.append("changelog retracts a row never inserted")
    if +got != want:
        errors.append("changelog replay != batch recomputation")
    if len(changelogs) != len(exact_deltas):
        errors.append(f"{len(changelogs)} changelogs for {len(exact_deltas)} rounds")
    for i, (log, exact) in enumerate(zip(changelogs, exact_deltas)):
        if collections.Counter(log) != collections.Counter(exact):
            errors.append(f"round {i}: changelog != exact diff of the expected snapshots")
    return errors
