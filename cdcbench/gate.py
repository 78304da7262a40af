"""Correctness gate: digests of engine outputs against independent oracles.

A digest is the row count plus a SHA-256 over the rows in canonical form
(sorted, NULLs unified, timestamps as epoch micros), so an expected digest
can be cached per workload and seed instead of recomputed.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd

STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


_PLAIN = frozenset((str, int, bool))  # already canonical: the common case


def _canon(v):
    """One cell in a form both engines agree on: integral floats as ints,
    other floats to 6 places, timestamps as epoch micros, bytes as hex."""
    if type(v) in _PLAIN:
        return v
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**53 else round(v, 6)
    if isinstance(v, datetime.datetime):
        return pd.Timestamp(v).value // 1000
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    return v


def digest(df: pd.DataFrame, cols: list[str] | None = None) -> dict:
    cols = sorted(df.columns) if cols is None else cols
    rows = sorted(
        json.dumps([_canon(v) for v in row], default=str, separators=(",", ":"))
        for row in df[cols].itertuples(index=False, name=None)
    )
    blob = "\n".join(rows).encode()
    return {"rows": len(rows), "sha256": hashlib.sha256(blob).hexdigest()}


def state_digest(state_df) -> dict:
    """Digest of an engine state read (``CdcTarget.read_transcripts()``)."""
    pdf = state_df.toPandas()
    if "ts" in pdf.columns and pd.api.types.is_datetime64_any_dtype(pdf["ts"]):
        pdf["ts"] = [None if pd.isna(t) else pd.Timestamp(t).value // 1000 for t in pdf["ts"]]
    return digest(pdf, STATE_COLS)


def oracle_state_digest(log: pd.DataFrame) -> dict:
    """Digest of the sequential pandas replay (``tests/oracle.py``)."""
    from tests.oracle import replay

    return digest(replay(log, cols=["role", "text", "tool", "ts"]), STATE_COLS)


class DigestCache:
    """Expected digests on disk, keyed by workload, seed and input shape,
    and by the source of the input generators, the oracles and this gate
    (a change to any of them starts a fresh cache)."""

    SOURCES = ("cdcbench/inputs.py", "cdcbench/gate.py", "tests/oracle.py", "__spark_entry__.py")

    def __init__(self, root: str, repo: str):
        h = hashlib.sha256()
        for rel in self.SOURCES:
            with open(os.path.join(repo, rel), "rb") as f:
                h.update(f.read())
        self.root = os.path.join(root, h.hexdigest()[:12])

    def get(self, key: str, compute) -> dict:
        path = os.path.join(self.root, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        os.makedirs(self.root, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value
