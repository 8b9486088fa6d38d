"""Seeded input generation for the benchmark.

Everything the engine reads during a run is produced here from the run's
``--seed``: the star schema plus ``events`` and the ``documents`` and
``embeddings`` corpora (query_mix), and the customer dimension,
changesets and Bronze batches (lakehouse_etl). The tables keep
the column names, types and value distributions of the engine's test
data, so every catalog row and its DuckDB oracle run unchanged on them.

Files are written with pyarrow and no wall-clock metadata, so one seed
always yields byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400_000_000
# 1995-01-01 and 2024-01-01 as epoch microseconds
_EPOCH_1995 = 788_918_400_000_000
_EPOCH_2024 = 1_704_067_200_000_000


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, table/cycle) stream, so adding
    a table or a cycle never shifts the draws of another."""
    return np.random.default_rng([seed, *stream])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


def star_schema(out_dir: str, seed: int, sf: float) -> None:
    """TPC-H-shaped tables plus ``events`` at scale factor ``sf``
    (sf=1 ≈ 6M lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    r = _rng(seed, 1)
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")

    r = _rng(seed, 3)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part, dtype="int64")
    _write(pa.table({
        "p_partkey": keys,
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")

    r = _rng(seed, 4)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    r = _rng(seed, 5)
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2499, n_line) * _DAY_US),
    }), f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 6)
    # strictly increasing timestamps over 30 days: no ties, so every
    # window ordering is total
    gaps = 1 + np.floor(r.exponential(30 * _DAY_US / max(n_ev, 1), n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype("int64")),
        "user_id": r.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``documents`` (about 5% near-duplicates: another document's text
    plus " dup") and unit-norm 64-d ``embeddings`` with 10 labels and
    5% planted near-duplicates."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 7)
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(WORDS), int(r.integers(10, 101)))]))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), f"{out_dir}/documents.parquet")

    r = _rng(seed, 8)
    v = r.standard_normal((n_vecs, 64))
    # plant n_vecs // 20 near-duplicate pairs (cosine about 0.93): a
    # fixed count of disjoint pairs, so every seed gives semantic dedup
    # the same component structure to resolve
    n_dup = n_vecs // 20
    src, dst = np.split(r.permutation(n_vecs)[: 2 * n_dup], 2)
    v[dst] = v[src] / np.linalg.norm(v[src], axis=1, keepdims=True) * 8.0
    v[dst] += 0.4 * r.standard_normal((n_dup, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vecs).astype("int32"),
    }), f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------- lakehouse

DIM_SCHEMA = pa.schema([
    ("cust_id", pa.int64()),
    ("name", pa.string()),
    ("segment", pa.string()),
    ("nation", pa.int32()),
    ("balance", pa.float64()),
    ("version", pa.int32()),
])


def dimension(seed: int, n: int) -> pa.Table:
    """The Silver customer dimension's initial load (version 0)."""
    r = _rng(seed, 20)
    return _dim_rows(r, np.arange(n, dtype="int64"), 0)


def _dim_rows(r, keys: np.ndarray, version: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "cust_id": keys,
        "name": [f"Customer#{k:09d}" for k in keys],
        "segment": np.array(SEGMENTS)[r.integers(0, 5, n)],
        "nation": r.integers(0, 25, n).astype("int32"),
        "balance": _money(r, -999.99, 9999.99, n),
        "version": np.full(n, version, dtype="int32"),
    }, schema=DIM_SCHEMA)


def changeset(seed: int, cycle: int, n_keys: int, n_rows: int) -> pa.Table:
    """Cycle ``cycle``'s merge source against a dimension that currently
    holds keys ``0..n_keys-1``: 80% updates of distinct existing keys and
    20% inserts of new keys — one row per key, as ``txlog.merge``
    requires. Rows are in key order."""
    r = _rng(seed, 21, cycle)
    n_upd = n_rows * 4 // 5
    upd = np.sort(r.choice(n_keys, n_upd, replace=False)).astype("int64")
    ins = np.arange(n_keys, n_keys + n_rows - n_upd, dtype="int64")
    return _dim_rows(r, np.concatenate([upd, ins]), cycle + 1)


def bronze_batch(seed: int, cycle: int, first_id: int, n_rows: int,
                 n_keys: int) -> pa.Table:
    """Cycle ``cycle``'s raw events for the append-only Bronze table."""
    r = _rng(seed, 22, cycle)
    ts0 = _EPOCH_2024 + cycle * _DAY_US
    return pa.table({
        "event_id": np.arange(first_id, first_id + n_rows, dtype="int64"),
        "cust_id": r.integers(0, n_keys, n_rows).astype("int64"),
        "ts": _ts(ts0 + np.sort(r.integers(0, _DAY_US, n_rows))),
        "kind": np.array(EVENT_TYPES)[r.integers(0, 5, n_rows)],
        "amount": np.round(r.exponential(50.0, n_rows), 2),
    })


def write(table: pa.Table, path: str) -> str:
    """Write one generated table; returns ``path``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return _write(table, path)
