"""Order-insensitive canonical hash of a result table.

The cell canonicalisation is the one scripts/check_oracle.py uses to
compare Spark output with the DuckDB oracle: columns sorted by name,
list-valued cells turned into JSON lists, every cell then stringified by
pandas. Rows are then sorted, so the hash does not depend on row order.
"""
import hashlib
import json

import pandas as pd


def _plain(v):
    """numpy scalars and arrays, dicts and lists as plain Python values."""
    if hasattr(v, "item") and not hasattr(v, "__len__"):
        return v.item()
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
        return [_plain(x) for x in v]
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    for c in df.columns:
        if df[c].map(lambda v: hasattr(v, "__len__") and not isinstance(v, (str, bytes, dict))).any():
            df[c] = df[c].map(lambda v: json.dumps(_plain(v))
                              if hasattr(v, "__len__") and not isinstance(v, (str, bytes, dict)) else v)
    return df.astype(str)


def digest(df: pd.DataFrame) -> dict:
    c = canon(df)
    rows = sorted("\x1f".join(r) for r in c.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def digest_parquet(path: str) -> dict:
    return digest(pd.read_parquet(path))
