"""Output checks for the benchmark's untimed warm-up pass.

Catalog rows with an oracle are hash-compared against DuckDB over the
same generated parquet files; rows-only requests get their schema
contract and a non-empty check; the lakehouse Silver table is compared
with a pandas replay of the seed's changesets. All comparisons use the
hashing rules of ``tools/check_correctness.py``.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd
import pyarrow as pa

from tools.check_correctness import ROWS_ONLY_CONTRACTS, TABLES, compare_entry, frame_hash


class Oracle:
    """Expected results of catalog rows, computed by DuckDB over one
    generated data directory. The oracle queries run on one background
    thread while Spark warms up; :meth:`check` waits for the one it
    needs. Close the oracle before anything is timed."""

    def __init__(self, data_dir: str, names: list[str], oracles: dict[str, str]):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.pool = ThreadPoolExecutor(max_workers=1)
        self.expected = {
            n: self.pool.submit(lambda sql: frame_hash(self.con.execute(sql).df()), oracles[n])
            for n in names if n in oracles
        }

    def check(self, name: str, df) -> str | None:
        """Collect ``df`` and return None when it matches, else why not."""
        dtypes = dict(df.dtypes)
        got = df.toPandas()
        if name not in self.expected:
            contract = ROWS_ONLY_CONTRACTS.get(name)
            if contract is not None and dtypes != contract:
                return f"schema {dtypes} != contract {contract}"
            return None if len(got) else "rows-only request returned 0 rows"
        _, why = compare_entry(name, frame_hash(got), self.expected[name].result())
        return why

    def close(self) -> None:
        self.pool.shutdown(wait=True, cancel_futures=True)
        self.con.close()


def replay_silver(initial: pa.Table, changesets: list[pa.Table]) -> pd.DataFrame:
    """The Silver dimension after applying ``changesets`` in order:
    matched keys take the changeset row, new keys are inserted."""
    cur = initial.to_pandas().set_index("cust_id")
    for cs in changesets:
        upd = cs.to_pandas().set_index("cust_id")
        cur = pd.concat([cur.drop(upd.index, errors="ignore"), upd])
    return cur.reset_index()


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same rows (order-insensitive)."""
    g, w = frame_hash(got), frame_hash(want)
    if g[0] != w[0]:
        return f"rowcount {g[0]} != expected {w[0]}"
    if g[1] != w[1]:
        return f"columns {g[1]} != expected {w[1]}"
    return None if g[2] == w[2] else f"value hash mismatch ({g[0]} rows)"
