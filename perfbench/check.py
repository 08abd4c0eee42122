"""Exact, order-insensitive comparison of two result frames."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[ns]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            s = s.astype("float64") if s.isna().any() else s.astype("int64")
        else:
            s = s.map(lambda v: None if v is None or v is pd.NA else str(v))
        out[c] = s.reset_index(drop=True)
    res = pd.DataFrame(out)
    if len(res):
        res = res.sort_values(by=list(res.columns), kind="mergesort", na_position="first")
    return res.reset_index(drop=True)


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows (exact values, NaN == NaN,
    same column names); else a one-line description of the first
    difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            x, y = av.astype("float64").to_numpy(), bv.astype("float64").to_numpy()
            eq = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            eq = ((av == bv) | (av.isna() & bv.isna())).to_numpy()
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"column {c}: {int((~eq).sum())} rows differ, first {av.iloc[i]!r} != {bv.iloc[i]!r}"
    return None
