"""Order-insensitive result fingerprint of a catalog query.

Like ``tools/oracle_check.py --strict`` the canonical form is
dtype-faithful and order-insensitive: columns sorted by name, floats
rounded to 9 decimals and never bridged to ints, rows sorted.  It is
vectorized (numeric columns hash as float64/int64 bytes) so that a
600k-row result fingerprints in about a second.  Integer widths and
float widths are normalized (int32 and int64 hash alike), as are NaN
payloads and negative zero; timestamps hash as epoch microseconds.
The fingerprint is the row count plus a sha256 over the canonical
table; ``build_lists.py`` records it for results it has cross-checked
against the DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _norm(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        return str([_norm(x) for x in v.tolist()])
    return str(v)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    cols = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_bool_dtype(s) and not s.isna().any():
            cols[c] = s.to_numpy(dtype=np.int64)
        elif pd.api.types.is_float_dtype(s):
            v = np.round(s.to_numpy(dtype=np.float64), 9) + 0.0  # -0.0 -> 0.0
            v[np.isnan(v)] = np.nan
            cols[c] = v
        elif pd.api.types.is_integer_dtype(s) and not s.isna().any():
            cols[c] = s.to_numpy(dtype=np.int64)
        elif pd.api.types.is_datetime64_any_dtype(s):
            cols[c] = s.to_numpy(dtype="datetime64[us]").astype(np.int64)
        else:
            cols[c] = s.map(_norm).to_numpy(dtype=object)
    out = pd.DataFrame(cols)
    if not len(out.columns):
        return out
    return out.sort_values(by=list(out.columns), kind="mergesort",
                           na_position="last").reset_index(drop=True)


def fingerprint(df: pd.DataFrame) -> dict:
    """{"rows": n, "sha256": hex} of a result frame."""
    canon = canonical(df)
    h = hashlib.sha256()
    for c in canon.columns:
        col = canon[c].to_numpy()
        h.update(f"\x1d{c}:{col.dtype.kind}\x1e".encode())
        if col.dtype.kind in "fi":
            h.update(col.tobytes())
        else:
            h.update("\x1f".join(col).encode())
    return {"rows": len(canon), "sha256": h.hexdigest()}
