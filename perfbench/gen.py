"""Seeded input generators owned by the benchmark.

Everything the program under test reads is made here from ``--seed``:
the star-schema tables (the same schema and value domains as the
engine's fixture tables, see FIXTURES.md), the per-pass operation
orders and the planted document corpus for the streaming assembly. The
same seed gives byte-identical inputs.

The expected assembly funnel is derived here, from what was planted,
never from a recorded run.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star-schema tables -----------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en twice: ~40% / 15% each
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    """Midnight timestamps (µs) uniform over [lo, hi]."""
    span = (hi - lo).days
    return _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    ts_us = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, 8, n_part)
    noun = rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            ts_us,
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
            ts_us,
        ),
    })
    t0 = _micros(dt.datetime(2024, 1, 1))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev)), ts_us
        ),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a 31-word vocabulary; 5% are near-duplicates
    (another document's text plus the token ``dup``)."""
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_star(sf_dir: str, sf: float, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in star_tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# -- per-pass orders --------------------------------------------------------


def pass_orders(names: list[str], passes: int, seed: int) -> list[list[str]]:
    """One seeded shuffle of ``names`` per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


# -- planted assembly corpus ------------------------------------------------

# Tokens are 4-5 letters, so every planted text sits inside the quality
# battery's mean-word-length window; 80 tokens per document sits inside
# its word-count window. A 4000-word vocabulary keeps two unrelated
# documents' shingle sets disjoint in practice, so only planted pairs
# can collide in the near-dup gate.
ASSEMBLY_TOKENS = 80
_VOCAB = 4000


def _vocab(rng) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    while len(seen) < _VOCAB:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(4, 6)))])
        seen.add(w)
    return sorted(seen)


def assembly_corpus(
    input_dir: str, n_docs: int, n_files: int, seed: int
) -> dict:
    """Write the planted corpus as ``n_files`` JSON-lines files (drained
    in name order) and return the planted truth.

    Files ``0..n_files/4`` hold only unique documents; every later file
    mixes unique documents with 10% exact copies and 10% near copies
    (one extra token) of documents in files drained two or more files
    earlier, so with two files per trigger each copy meets its original
    in an EARLIER micro-batch's index. Returns the kinds and texts by
    doc_id so the checks can recompute the whole funnel."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    per_file = n_docs // n_files
    docs: list[tuple[int, str, str, int]] = []  # (doc_id, text, kind, file)
    uniq_by_file: list[list[int]] = []
    head = max(2, n_files // 4)
    for f in range(n_files):
        uniq_by_file.append([])
        older = [d for ff in range(0, f - 1) for d in uniq_by_file[ff]]
        for _ in range(per_file):
            doc_id = len(docs)
            roll = rng.random() if f >= head else 1.0
            if roll < 0.1 and older:
                src = docs[older[int(rng.integers(0, len(older)))]][1]
                docs.append((doc_id, src, "exact", f))
            elif roll < 0.2 and older:
                src = docs[older[int(rng.integers(0, len(older)))]][1]
                extra = vocab[int(rng.integers(0, _VOCAB))]
                docs.append((doc_id, f"{src} {extra}", "near", f))
            else:
                toks = rng.choice(_VOCAB, ASSEMBLY_TOKENS, replace=False)
                docs.append(
                    (doc_id, " ".join(vocab[i] for i in toks), "unique", f)
                )
                uniq_by_file[f].append(doc_id)
    os.makedirs(input_dir, exist_ok=True)
    base = 1_700_000_000
    for f in range(n_files):
        path = os.path.join(input_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            for doc_id, text, _, ff in docs:
                if ff == f:
                    fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        # the file source drains in modification-time order
        os.utime(path, (base + f, base + f))
    return {
        "kind": {d[0]: d[2] for d in docs},
        "text": {d[0]: d[1] for d in docs},
        "file": {d[0]: d[3] for d in docs},
        "n_docs": len(docs),
        "n_input_bytes": sum(
            os.path.getsize(os.path.join(input_dir, p))
            for p in os.listdir(input_dir)
        ),
    }


def expected_admitted(truth: dict, survivors: set[int], budget: int,
                      files_per_trigger: int) -> set[int]:
    """The budget stage's water level recomputed in Python: per source
    (doc_id mod 4), documents in (batch, doc_id) order are admitted while
    the running token total stays within ``budget``."""
    spent: dict[int, int] = {}
    admitted: set[int] = set()
    batches: dict[int, list[int]] = {}
    for d in sorted(survivors):
        batches.setdefault(truth["file"][d] // files_per_trigger, []).append(d)
    for b in sorted(batches):
        level = dict(spent)
        for d in batches[b]:
            src, n = d % 4, len(truth["text"][d].split())
            level[src] = level.get(src, 0) + n
            if level[src] <= budget:
                admitted.add(d)
                spent[src] = spent.get(src, 0) + n
    return admitted
