"""Sequential pattern matching over ordered event streams — the engine
behind KQL's ``scan`` operator (dialect subset, see sources/kql.py).

Reference parity: the reference's telemetry pipelines detect multi-step
ticket/device state sequences in Kusto (the ``scan``/``partition``
family adjacent to ``daily_eval.py:158``'s revision queries); this
module re-expresses the core single-active-match semantics Spark-first.

Semantics (documented dialect, pinned in tests/test_scan_operator.py):
greedy, single-active, non-overlapping sequence matching. Rows are
visited in the given order within each key group, driving a state
machine over the K step predicates:

- state ``j`` means steps ``0..j-1`` matched; the FIRST subsequent row
  satisfying step ``j``'s predicate advances the state (each step
  matches exactly one row; rows satisfying earlier steps are ignored
  while a sequence is open — Kusto's full ``scan`` keeps concurrent
  matches and per-step runs, which this subset deliberately drops);
- completing step ``K-1`` closes the match: its K rows are emitted
  with a per-key 0-based ``match_id``, and the machine resets to idle;
- rows not part of a completed match are dropped (Kusto emits only
  matched rows when every step is unconditional-output, as here).

For K = 2 these semantics have a closed form — step-2 row matches the
FIRST step-1 row after the previous step-2 row — which is what the
catalog row's DuckDB oracle exploits (any step-2 row forces the
machine idle, matched or not).

Scale shape: predicates are compiled JVM-side into boolean columns
(whole-stage codegen; arbitrary Spark SQL expressions). The sequential
pass itself is inherently ordered, so it runs per key group via
``grouped_apply_packed`` (one hash shuffle on the keys, packed Arrow
batches, AQE-coalescing-proof explicit fan-out). A scan WITHOUT keys
is a single sequential task by definition (same as Kusto's serialized
engine) — supported, but the keyed form is the 100-TB path.

HOT-KEY CEILING (probed, SCALING.md "scan hot key"): one key's entire
history flows through ONE Python task — that is the semantic floor of
a serialized state machine, no salting can split it. The per-group
pass is therefore candidate-jump, not per-row: the machine state only
ever advances on a row matching the CURRENT step, so the matcher
walks per-step candidate index lists (``np.flatnonzero`` per step,
vectorized) with monotonic pointers. Python-level cost is
O(predicate hits), NOT O(group rows): matcher-only at 10M rows, 2%
hits: 0.04 s vs 0.61 s for the per-row sweep (15x); dense
every-row-matches worst case: 1.8 s vs 1.25 s (the one shape the
jump pass loses, accepted for the 15x on the realistic shape).
End-to-end probe (tools/probe_scan_hotkey.py, removed; see commit
9a752ac; 20M events, 50% on one key): selective funnel 15.0 s = ~670k hot-rows/s through the single
task — Arrow transfer + the group's pandas sort now dominate, not
the matcher; dense 22.3 s (~450k rows/s). That is the hot-key
ceiling. For groups beyond what one task should hold, pass
``max_group_rows`` to fail loudly instead of silently running a
multi-minute task (and consider pre-filtering the input to candidate
events — the state machine never looks at rows matching no step).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scan_steps(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[tuple[str, bool]],
    steps: Sequence[Column],
    match_col: str = "match_id",
    max_group_rows: int | None = None,
    step_col: str | None = None,
) -> DataFrame:
    """Emit rows participating in completed step sequences.

    ``order_by``: [(column_name, ascending), ...] — the serialized
    order within each key group (ties make the row visit order, and
    therefore matching, nondeterministic — same caveat as KQL
    ``serialize``). ``steps``: one boolean Column per step (nulls are
    non-matches). Output = the input columns + ``match_col`` (long,
    0-based per key group, in match-completion order).

    ``max_group_rows``: optional hot-key guard — a key group larger
    than this raises loudly inside the task instead of silently
    running one giant sequential pass (see the module docstring's
    hot-key ceiling).

    ``step_col``: optionally also emit each row's 0-based STEP index
    within its match (row j of a match satisfied step j by
    construction — each step matches exactly one row). The KQL
    ``scan declare`` compilation keys its post-hoc state-variable
    windows on this column."""
    from azuredataengineering_deeplearning_spark.operators.timeseries import (
        grouped_apply_packed,
    )

    if not steps:
        raise ValueError("scan_steps needs at least one step predicate")
    if not order_by:
        raise ValueError("scan_steps needs an explicit order_by")
    import numpy as np

    k = len(steps)
    orig = df.columns
    pred_cols = [f"__scanp{i}" for i in range(k)]
    work = df.select(
        "*",
        *[
            F.coalesce(p.cast("boolean"), F.lit(False)).alias(pc)
            for p, pc in zip(steps, pred_cols)
        ],
    )
    drop_key = False
    if not keys:
        work = work.withColumn("__scank", F.lit(0))
        keys = ["__scank"]
        drop_key = True
    names = [c for c, _ in order_by]
    ascending = [asc for _, asc in order_by]

    out_schema = T.StructType(
        [f for f in work.schema.fields if f.name not in pred_cols]
        + [T.StructField(match_col, T.LongType(), True)]
        + (
            [T.StructField(step_col, T.IntegerType(), True)]
            if step_col
            else []
        )
    )
    keep_cols = [f.name for f in work.schema.fields if f.name not in pred_cols]

    def matcher(g):
        n = len(g)
        if max_group_rows is not None and n > max_group_rows:
            key_desc = {kk: g[kk].iloc[0] for kk in keys}
            raise ValueError(
                f"scan_steps: key group {key_desc} has {n} rows, over "
                f"max_group_rows={max_group_rows}. A scan group is one "
                "sequential task by semantics — pre-filter to candidate "
                "events, split the key, or raise the guard."
            )
        g = g.sort_values(
            by=names, ascending=ascending, kind="mergesort"
        ).reset_index(drop=True)
        # Candidate-jump pass: the machine in state `nxt` only reacts
        # to rows matching step `nxt`, so walk per-step candidate index
        # lists with monotonic pointers (pos only grows, so skipped
        # candidates are never needed again). Equivalent to the per-row
        # sweep but costs O(predicate hits), not O(n), python work —
        # a no-candidate group exits without touching its rows.
        idx = [
            np.flatnonzero(
                g[pc].to_numpy(dtype=bool, na_value=False)
            ).tolist()
            for pc in pred_cols
        ]
        lens = [len(a) for a in idx]
        ptr = [0] * k
        matched: list[int] = []
        mids: list[int] = []
        pos, m, nxt, cur = -1, 0, 0, []
        while True:
            a, p, ln = idx[nxt], ptr[nxt], lens[nxt]
            while p < ln and a[p] <= pos:
                p += 1
            if p >= ln:
                ptr[nxt] = p
                break
            ptr[nxt] = p + 1
            i = a[p]
            cur.append(i)
            pos = i
            if nxt == k - 1:
                matched.extend(cur)
                mids.extend([m] * k)
                m += 1
                cur, nxt = [], 0
            else:
                nxt += 1
        mid = np.full(n, -1, dtype=np.int64)
        if matched:
            mid[np.asarray(matched)] = np.asarray(mids)
        sel = mid >= 0
        out = g.loc[sel, keep_cols].copy()
        out[match_col] = mid[sel]
        if step_col:
            sid = np.full(n, -1, dtype=np.int32)
            if matched:
                # cur is appended in step order, so each match's rows
                # carry steps 0..k-1 in sequence
                sid[np.asarray(matched)] = np.tile(
                    np.arange(k, dtype=np.int32), len(matched) // k
                )
            out[step_col] = sid[sel]
        return out

    result = grouped_apply_packed(work, list(keys), matcher, out_schema)
    return result.drop("__scank") if drop_key else result
