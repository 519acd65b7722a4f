"""Seeded input generators. Single-threaded numpy + plain file I/O,
never Spark, so the load generator stays off the executors.

Every generator takes a ``numpy.random.Generator``; the same seed gives
byte-identical files. Only the files these functions write reach the
program under test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# uc_created_ts of the first generated version; every later version
# gets a strictly larger stamp, so latest-per-key never ties.
TS0 = 1_700_000_000_000_000


class Clock:
    """Strictly increasing uc_created_ts source (epoch micros)."""

    def __init__(self, start: int = TS0):
        self.now = start

    def take(self, n: int) -> np.ndarray:
        out = self.now + np.arange(1, n + 1, dtype=np.int64) * 1000
        self.now = int(out[-1])
        return out


def zipf_pick(rng: np.random.Generator, n_keys: int, n: int, a: float = 1.2,
              perm: np.ndarray | None = None, distinct: bool = False) -> np.ndarray:
    """``n`` key indices in ``[0, n_keys)``, Zipf-skewed: rank r is drawn
    with weight ~ (r + 1)^-a, and ``perm`` (a seeded permutation) decides
    which keys are the hot ones. ``distinct`` draws without replacement,
    so every call touches exactly ``n`` keys."""
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -a
    ranks = rng.choice(n_keys, size=min(n, n_keys), replace=not distinct, p=w / w.sum())
    return ranks if perm is None else perm[ranks]


def envelope_lines(pks, created, payloads, uc_type: str) -> list[str]:
    """One CRMLS change-log envelope (FIXTURES.md §1) per row, as the
    JSON text a Kafka value would carry."""
    out = []
    for pk, ts, data in zip(pks, created, payloads):
        ts = int(ts)
        out.append(json.dumps({
            "data": json.dumps(data, separators=(",", ":")),
            "uc_pk": str(pk),
            "uc_update_ts": str(ts // 1000),
            "uc_version": str(ts),
            "uc_created_ts": ts,
            "uc_row_type": "row",
            "uc_type": uc_type,
            "uc_valid_day": ts // 86_400_000_000,
            "uc_valid_ts": ts,
        }, separators=(",", ":")))
    return out


def write_lines(path: str, lines: list[str]) -> None:
    """Write a text file atomically: a hidden temp name, then rename, so
    a file-stream source never lists a half-written file."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, path)


# -- CRMLS six-topic topology ------------------------------------------------

AGENT_ROLES = ("ListAgentKeyNumeric", "BuyerAgentKeyNumeric",
               "CoListAgentKeyNumeric", "CoBuyerAgentKeyNumeric")
OFFICE_ROLES = ("ListOfficeKeyNumeric", "BuyerOfficeKeyNumeric",
                "CoListOfficeKeyNumeric", "CoBuyerOfficeKeyNumeric")
TOPICS = ("listings", "agents", "offices", "openhouse", "media", "history")


class CrmlsTopology:
    """Listings (the orders analog) each reference four agents (customer
    analog) and four offices (supplier analog); open-house, media and
    history children reference a listing and are deduplicated by that
    foreign key. Key spaces are fixed by ``n_listings``; versions come
    from one shared :class:`Clock`."""

    def __init__(self, rng: np.random.Generator, n_listings: int):
        self.rng = rng
        self.n = {
            "listings": n_listings,
            "agents": max(8, n_listings // 10),
            "offices": max(8, n_listings // 150),
        }
        self.clock = Clock()
        self.next_child = 0
        # which keys are hot under Zipf churn, per topic
        self.perm = {t: rng.permutation(self.n[t]) for t in self.n}
        self.perm["children"] = self.perm["listings"]

    def _listing_payloads(self, keys: np.ndarray) -> list[dict]:
        na, no = self.n["agents"], self.n["offices"]
        ag = self.rng.integers(0, na, size=(len(keys), 4))
        of = self.rng.integers(0, no, size=(len(keys), 4))
        price = self.rng.integers(100, 5000, size=len(keys)) * 1000
        out = []
        for i, k in enumerate(keys):
            d = {"ListingKeyNumeric": f"L{k}", "ListPrice": int(price[i])}
            for j, role in enumerate(AGENT_ROLES):
                d[role] = f"A{ag[i, j]}"
            for j, role in enumerate(OFFICE_ROLES):
                d[role] = f"O{of[i, j]}"
            out.append(d)
        return out

    def rows(self, topic: str, keys: np.ndarray) -> list[str]:
        ts = self.clock.take(len(keys))
        if topic == "listings":
            return envelope_lines([f"L{k}" for k in keys], ts,
                                  self._listing_payloads(keys), "listing")
        if topic in ("agents", "offices"):
            p = "A" if topic == "agents" else "O"
            names = self.rng.integers(0, 1 << 30, size=len(keys))
            return envelope_lines([f"{p}{k}" for k in keys], ts,
                                  [{"Name": f"{p}name{n}"} for n in names], topic)
        # children: a fresh child id per row, keyed by the parent listing
        fk = "ListingKeyNumeric" if topic == "openhouse" else "ResourceRecordKeyNumeric"
        ids = range(self.next_child, self.next_child + len(keys))
        self.next_child += len(keys)
        return envelope_lines([f"C{i}" for i in ids], ts,
                              [{fk: f"L{k}"} for k in keys], topic)

    def base(self) -> dict[str, list[str]]:
        """Version 1 of every entity; about half the listings get each
        kind of child, some two (the FK dedup keeps the later)."""
        out = {t: self.rows(t, np.arange(self.n[t])) for t in ("listings", "agents", "offices")}
        nl = self.n["listings"]
        for t in ("openhouse", "media", "history"):
            out[t] = self.rows(t, self.rng.integers(0, nl, size=nl * 3 // 4))
        return out

    def churn(self, frac: float = 0.01) -> dict[str, list[str]]:
        """One round: ``frac`` of each topic's keys (at least one) get a
        new version, distinct keys chosen Zipf-skewed, so hot keys churn
        round after round."""
        out = {}
        for t in TOPICS:
            space = self.n.get(t, self.n["listings"])
            perm = self.perm.get(t, self.perm["children"])
            k = max(1, int(space * frac))
            out[t] = self.rows(t, zipf_pick(self.rng, space, k, perm=perm, distinct=True))
        return out


# -- corpus (documents + embeddings) ------------------------------------------

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def corpus_tables(rng: np.random.Generator, n_docs: int, n_vecs: int,
                  dim: int = 64, n_labels: int = 10) -> dict[str, pa.Table]:
    """``documents`` (doc_id, text, lang, source, n_chars) with a share
    of near-duplicates (a copy of an earlier document with a few words
    edited, tagged "dup"), and ``embeddings`` (vec_id, 64-d unit vector
    around one of ``n_labels`` centres, label) — the shapes the
    registered dedup/text/simsearch queries read."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            words.append("dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)], pa.string()),
        "source": pa.array([f"src{j % 5}" for j in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.6, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
