"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digests(seed: int, out_dir: str) -> dict[str, str]:
    gen.star_schema(out_dir, seed, 0.001)
    gen.corpus(out_dir, seed, 50, 40)
    gen.write(gen.dimension(seed, 1000), f"{out_dir}/dim.parquet")
    for c in range(2):
        gen.write(gen.changeset(seed, c, 1000 + 4 * c, 20), f"{out_dir}/changes_{c}.parquet")
        gen.write(gen.bronze_batch(seed, c, 100 * c, 100, 1000), f"{out_dir}/bronze_{c}.parquet")
    out = {}
    for f in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _digests(11, str(tmp_path / "a"))
    b = _digests(11, str(tmp_path / "b"))
    assert len(a) == 10 + 1 + 4
    assert a == b


def test_different_seeds_give_different_inputs(tmp_path):
    a = _digests(11, str(tmp_path / "a"))
    b = _digests(12, str(tmp_path / "b"))
    # region and nation are fixed reference tables; everything else moves
    differ = {f for f in a if a[f] != b[f]}
    assert differ == set(a) - {"region.parquet", "nation.parquet"}


@pytest.mark.parametrize("cycle", [0, 3])
def test_changeset_has_one_row_per_key_and_an_80_20_split(cycle):
    n_keys = 5000
    cs = gen.changeset(7, cycle, n_keys, 1000).to_pandas()
    assert cs.cust_id.is_unique
    assert (cs.cust_id < n_keys).sum() == 800
    assert sorted(cs.cust_id[cs.cust_id >= n_keys]) == list(range(n_keys, n_keys + 200))
    assert (cs.version == cycle + 1).all()


def test_event_timestamps_strictly_increase(tmp_path):
    gen.star_schema(str(tmp_path), 3, 0.002)
    import pyarrow.parquet as pq

    ts = pq.read_table(tmp_path / "events.parquet").column("ts").to_numpy()
    assert np.all(np.diff(ts.astype("int64")) > 0)
