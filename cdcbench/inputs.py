"""Seeded input generators for the CDC benchmark.

Inputs are made here with numpy and written with pyarrow, so they depend
only on the seed and the parameters below, never on engine code under
test. The mutation-log model follows the engine's own generator
(``sources/generator.py``): weighted op mix, uniform (conv, turn) keys,
writetimes that are unique yet inverted across a bounded window of log
positions, sparse UPDATE cells and occasional cell tombstones.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WT_BASE = 1_700_000_000_000_000  # epoch micros
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)


def _cell(value_type: pa.DataType) -> pa.StructType:
    return pa.struct(
        [("value", value_type), ("deletion_ts", pa.int64()), ("set", pa.bool_())]
    )


_BOUND = pa.struct([("method", pa.string()), ("turn_idx", pa.int32())])
# the engine's MUTATION_LOG_SCHEMA minus the segment_id partition column
LOG_FILE_SCHEMA = pa.schema(
    [
        ("position", pa.int64()),
        ("log_partition", pa.int32()),
        ("op", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("writetime", pa.int64()),
        (
            "cells",
            pa.struct(
                [
                    ("role", _cell(pa.string())),
                    ("text", _cell(pa.string())),
                    ("tool", _cell(pa.string())),
                    ("ts", _cell(pa.timestamp("us", tz="UTC"))),
                ]
            ),
        ),
        ("range_start", _BOUND),
        ("range_end", _BOUND),
        ("schema_version", pa.int32()),
        ("snapshot", pa.bool_()),
    ]
)


def gen_log(
    seed: int,
    n_events: int,
    *,
    first_id: int = 0,
    n_convs: int = 200,
    max_turns: int = 40,
    events_per_segment: int = 1000,
    n_log_partitions: int = 4,
    op_weights: tuple[int, int, int, int, int] = (62, 18, 8, 4, 8),
    wt_jitter_events: int = 500,
) -> pd.DataFrame:
    """Mutation-log rows ``first_id .. first_id+n_events-1`` as a pandas
    frame with nested ``cells``/``range_*`` dicts (the shape
    ``tests/oracle.py`` replays). ``op_weights`` weighs (i, u, d, p, r).
    Writetimes are ``BASE + (id + jitter)*1024 + id % 1024`` with
    ``|jitter| <= wt_jitter_events < 512``: unique, yet out of log order."""
    if not 0 <= wt_jitter_events <= 511:
        raise ValueError("wt_jitter_events must be in [0, 511]")
    rng = np.random.default_rng([seed, first_id, n_events])
    ids = np.arange(first_id, first_id + n_events, dtype=np.int64)
    w = np.asarray(op_weights, dtype=float)
    op = np.array(["i", "u", "d", "p", "r"], dtype=object)[
        rng.choice(5, size=n_events, p=w / w.sum())
    ]
    conv_n = rng.integers(0, n_convs, n_events)
    turn = rng.integers(0, max_turns, n_events).astype(np.int32)
    jitter = rng.integers(-wt_jitter_events, wt_jitter_events + 1, n_events)
    wt = WT_BASE + (ids + jitter) * 1024 + ids % 1024
    segment = ids // events_per_segment
    position = (ids % events_per_segment) * 16

    is_ins = op == "i"
    bits = rng.integers(0, 8, n_events)
    role_set = is_ins | (bits % 2 == 1)
    text_set = is_ins | ((bits // 2) % 2 == 1) | (bits == 0)
    tool_set = is_ins | ((bits // 4) % 2 == 1)
    tool_present = rng.integers(0, 3, n_events) == 0
    tool_del = tool_set & (rng.integers(0, 20, n_events) == 0)
    role_val = ROLES[rng.integers(0, 4, n_events)]
    tool_k = rng.integers(0, 8, n_events)
    lo = rng.integers(0, max_turns, n_events)
    hi = np.minimum(lo + rng.integers(0, 8, n_events), max_turns - 1)
    lo_incl = rng.integers(0, 2, n_events) == 0
    hi_incl = rng.integers(0, 2, n_events) == 0

    cells, rstart, rend, turns = [], [], [], []
    for k in range(n_events):
        o = op[k]
        conv = f"conv_{conv_n[k]}"
        turns.append(int(turn[k]) if o in ("i", "u", "d") else None)
        if o in ("i", "u"):
            tw = int(wt[k])
            tool = f"tool_{tool_k[k]}" if tool_present[k] else None
            cells.append(
                {
                    "role": {"value": role_val[k] if role_set[k] else None,
                             "deletion_ts": None, "set": bool(role_set[k])},
                    "text": {"value": f"msg {conv} t{turn[k]} e{ids[k]}" if text_set[k] else None,
                             "deletion_ts": None, "set": bool(text_set[k])},
                    "tool": {"value": tool if tool_set[k] and not tool_del[k] else None,
                             "deletion_ts": tw if tool_del[k] else None,
                             "set": bool(tool_set[k])},
                    "ts": {"value": tw if text_set[k] else None,
                           "deletion_ts": None, "set": bool(text_set[k])},
                }
            )
        else:
            cells.append(None)
        if o == "r":
            rstart.append({"method": "INCL_START_BOUND" if lo_incl[k] else "EXCL_START_BOUND",
                           "turn_idx": int(lo[k])})
            rend.append({"method": "INCL_END_BOUND" if hi_incl[k] else "EXCL_END_BOUND",
                         "turn_idx": int(hi[k])})
        else:
            rstart.append(None)
            rend.append(None)
    return pd.DataFrame(
        {
            "segment_id": segment,
            "position": position,
            "log_partition": (segment % n_log_partitions).astype(np.int32),
            "op": op,
            "conv_id": np.char.add("conv_", conv_n.astype(str)).astype(object),
            "turn_idx": pd.array(turns, dtype="Int32"),
            "writetime": wt,
            "cells": cells,
            "range_start": rstart,
            "range_end": rend,
            "schema_version": np.ones(n_events, dtype=np.int32),
            "snapshot": np.zeros(n_events, dtype=bool),
        }
    )


def write_segments(log: pd.DataFrame, root: str) -> list[int]:
    """Write each segment as ``root/segment_id=N/part-0.parquet`` (the
    commit-log directory layout the engine tails). Returns segment ids."""
    seg_ids = []
    for seg, part in log.groupby("segment_id", sort=True):
        d = os.path.join(root, f"segment_id={int(seg)}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pandas(
            part.drop(columns=["segment_id"]), schema=LOG_FILE_SCHEMA, preserve_index=False
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        seg_ids.append(int(seg))
    return seg_ids


EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)


def write_events(seed: int, n_events: int, sf_dir: str) -> str:
    """An ``events.parquet`` in the shape of the repository's ``events``
    test data (event_id, ts, user_id, event_type, value, props): 30 days
    of strictly increasing timestamps, users and types uniform. The entry
    queries derive their mutation log from it."""
    rng = np.random.default_rng([seed, 0xE7])
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n_events)) + np.arange(n_events)
    ts = pd.Timestamp("2024-01-01").value // 1000 + offs
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_events * 15 // 1000, 2), n_events)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)], type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path
