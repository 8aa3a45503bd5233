"""Seeded star-schema and corpus tables for the query workloads.

Writes the ten fixture tables the registered queries read
(``region nation customer supplier part orders lineitem events
documents embeddings``), one parquet file each, with the column names
and types of the engine's fixture contract (FIXTURES.md, family A).
Value domains follow that contract: TPC-H-ish keys, flags and prices;
an event stream over 30 days; word-soup documents from a 30-word
vocabulary with planted near-duplicates; unit-norm 64-d embeddings
around 10 labelled centres.

Row counts at ``scale`` 1.0 are those of the engine's sf0.1 fixture.
The same ``seed`` and ``scale`` give byte-identical files; the seed
also shuffles the row order, so the physical layout varies with it.

Run ``python3 perfbench/gen_tables.py --seed 1 --out tables`` to write
the tables the ``query_mix`` workload reads (``SCALE``).
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
# the scale the query_mix workload runs at
SCALE = 0.3
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = ["small", "new", "red", "blue", "old", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM, N_LABELS = 64, 10

_US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _shuffled(tbl: pa.Table, rng: np.random.Generator) -> pa.Table:
    return tbl.take(pa.array(rng.permutation(tbl.num_rows)))


def build(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = {t: max(50, int(r * scale)) for t, r in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": _choice(rng, SEGMENTS, len(k)),
    })
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
    })
    k = np.arange(n["part"], dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": _choice(rng, names, len(k)),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], len(k)),
        "p_type": _choice(rng, PTYPES, len(k)),
        "p_size": pa.array(rng.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
    })
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": _choice(rng, ["O", "F", "P"], len(k)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
        "o_orderdate": _days("1995-01-01", 2404, rng, len(k)),
        "o_orderpriority": _choice(rng, PRIORITIES, len(k)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _choice(rng, ["N", "A", "R"], m),
        "l_linestatus": _choice(rng, ["O", "F"], m),
        "l_shipdate": _days("1995-01-02", 2498, rng, m),
    })
    m = n["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, m)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(20, int(1500 * scale)), m),
        "event_type": _choice(rng, EVENT_TYPES, m),
        "value": np.round(rng.gamma(2.0, 25.0, m), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return {t: tbl if t in ("region", "nation") else _shuffled(tbl, rng)
            for t, tbl in out.items()}


def _documents(rng: np.random.Generator, m: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(m):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": np.arange(m, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, m),
        "source": _choice(rng, [f"src{i}" for i in range(20)], m),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, m: int) -> pa.Table:
    centres = rng.normal(size=(N_LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, m)
    x = 0.35 * centres[label] + rng.normal(scale=1.0 / np.sqrt(DIM), size=(m, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(seed: int, scale: float, out_dir: str) -> dict[str, dict[str, int]]:
    """Write ``<out_dir>/<table>.parquet``; return rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in build(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(write_tables(args.seed, SCALE, args.out), indent=1))


if __name__ == "__main__":
    main()
