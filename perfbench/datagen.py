"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's operators and example projects
read (``region nation customer supplier part orders lineitem events
documents embeddings``) with the column names, types and value domains of
the engine's reference test data, so every registry query, its DuckDB
oracle and every example project run unchanged on them.  ``scale`` counts
in units of 0.001 of TPC-H scale factor: ``scale=1`` gives 6,000 lineitem
rows, ``scale=10`` gives 60,000.

The same ``seed`` and ``scale`` always give byte-identical files, and two
seeds give different ones:

    python3 perfbench/datagen.py --check
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.39, 0.16, 0.16, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_TPCH_START = dt.date(1995, 1, 1)
_EVENTS_START = dt.datetime(2024, 1, 1)


def _ts_us(days: np.ndarray, start: dt.date) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: int = 1) -> dict[str, pa.Table]:
    """Build every table in memory; deterministic in (seed, scale)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_users = 15 * scale
    n_docs, n_emb = 500, 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_days = rng.integers(0, 2404, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(order_days, _TPCH_START),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    # line numbers restart per order: rank of each row inside its order
    first = np.searchsorted(l_order, l_order, side="left")
    l_partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    perm = rng.permutation(n_line)
    ship_days = order_days[l_order] + rng.integers(1, 122, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], pa.int64()),
        "l_partkey": pa.array(l_partkey[perm], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)[perm], pa.int64()),
        "l_linenumber": pa.array(
            ((np.arange(n_line) - first) % 7 + 1)[perm], pa.int32()
        ),
        "l_quantity": qty[perm],
        "l_extendedprice": np.round(qty * retail[l_partkey] * rng.uniform(0.9, 1.1, n_line), 2)[perm],
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2)[perm],
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2)[perm],
        "l_returnflag": rng.choice(["A", "N", "R"], n_line)[perm],
        "l_linestatus": rng.choice(["F", "O"], n_line)[perm],
        "l_shipdate": _ts_us(ship_days[perm], _TPCH_START),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64(_EVENTS_START, "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    # one document in twenty is a near-duplicate of an earlier one, so the
    # dedup operators find real candidate pairs
    for i in range(20, n_docs, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, N_LABELS, n_emb)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(size=(n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, scale: int = 1) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _file_bytes(out_dir: str) -> dict[str, bytes]:
    out = {}
    for fn in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, fn), "rb") as f:
            out[fn] = f.read()
    return out


def check_determinism() -> list[str]:
    """Problems found: one seed must give byte-identical files, two must differ."""
    with tempfile.TemporaryDirectory(prefix="datagen-check-", dir=os.getcwd()) as tmp:
        a, b, c = (
            _file_bytes(write(os.path.join(tmp, sub), seed))
            for sub, seed in (("a", 1), ("b", 1), ("c", 2))
        )
    problems = []
    if a != b:
        problems.append("seed 1 gave two different sets of files")
    if a == c:
        problems.append("seeds 1 and 2 gave the same files")
    return problems


if __name__ == "__main__":
    if sys.argv[1:] != ["--check"]:
        sys.exit("usage: python3 perfbench/datagen.py --check")
    found = check_determinism()
    for p in found:
        print(f"FAIL {p}")
    print("ok" if not found else f"{len(found)} problem(s)")
    sys.exit(1 if found else 0)
