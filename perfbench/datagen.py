"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog knows (``catalog.TABLES``)
as one Parquet file each, with the schemas and value distributions of
the engine's TPC-H-ish test fixtures (FIXTURES.md §B): uniform keys,
fixed categorical domains, a 30-word document vocabulary with 5% of
documents being a copy of another plus one ``dup`` token, and 64-d
unit-norm float embeddings with ten labels.

Row counts are given per table, so a workload generates only what it
reads and at the size it needs.  The same seed and sizes always give
byte-identical files.

Run as a script to generate into a directory::

    python3 perfbench/datagen.py OUT_DIR --seed 1 --rows lineitem=600000
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.1 of the fixtures (FIXTURES.md §B).
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_N_LABELS = 10
_US_PER_DAY = 86_400_000_000


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def _region(rng, n):
    return {"r_regionkey": pa.array(range(n), pa.int32()), "r_name": pa.array(_REGIONS[:n])}


def _nation(rng, n):
    k = np.arange(n, dtype=np.int32)
    return {
        "n_nationkey": pa.array(k),
        "n_name": pa.array([f"NATION_{i}" for i in k]),
        "n_regionkey": pa.array(k % 5),
    }


def _customer(rng, n):
    return {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    }


def _supplier(rng, n):
    return {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n)),
    }


def _part(rng, n):
    k = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    return {
        "p_partkey": pa.array(k),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (k % 1000) / 10, 1)),
    }


def _orders(rng, n, n_cust):
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    }


def _lineitem(rng, n, n_orders, n_part, n_supp):
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, n_part, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n),
    }


def _events(rng, n):
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(base + rng.integers(0, 30 * _US_PER_DAY, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # 5% near-duplicates: a copy of another document plus one token.
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n):
    centers = rng.normal(0.0, 0.07, (_N_LABELS, _EMB_DIM))
    labels = rng.integers(0, _N_LABELS, n, dtype=np.int32)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), _EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels),
    }


def generate(out_dir: str, seed: int, rows: dict[str, int]) -> dict[str, str]:
    """Write each table named in ``rows`` with that many rows; return
    table → path.  Foreign keys range over the sizes in ``rows`` (or
    the sf0.1 sizes for a referenced table that is not generated)."""
    os.makedirs(out_dir, exist_ok=True)
    size = {**SF01_ROWS, **rows}
    makers = {
        "region": _region,
        "nation": _nation,
        "customer": _customer,
        "supplier": _supplier,
        "part": _part,
        "orders": lambda r, n: _orders(r, n, size["customer"]),
        "lineitem": lambda r, n: _lineitem(r, n, size["orders"], size["part"], size["supplier"]),
        "events": _events,
        "documents": _documents,
        "embeddings": _embeddings,
    }
    paths = {}
    for i, (table, make) in enumerate(makers.items()):
        if table not in rows:
            continue
        # One independent stream per table, so a table's content does
        # not depend on which other tables are generated.
        rng = np.random.default_rng([seed, i])
        path = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(pa.table(make(rng, rows[table])), path, compression="snappy")
        paths[table] = path
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--rows",
        nargs="+",
        required=True,
        help="table=count pairs, e.g. lineitem=600000 orders=150000",
    )
    args = ap.parse_args()
    rows = {}
    for kv in args.rows:
        table, _, n = kv.partition("=")
        if table not in SF01_ROWS:
            raise SystemExit(f"unknown table {table!r}")
        rows[table] = int(n)
    generate(args.out_dir, args.seed, rows)


if __name__ == "__main__":
    main()
