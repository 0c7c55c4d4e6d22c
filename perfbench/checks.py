"""Output checks: Spark results against DuckDB twins, with the
normalisation of ``scripts/check_contract.py`` (columns sorted by name,
object columns as strings, rows sorted by every column, floats equal
within 1e-6, NULL equal to NULL, coarse dtype classes must agree),
done column-wise so large results check quickly."""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd


def duck_for(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _kind(s: pd.Series) -> str:
    if np.issubdtype(s.dtype, np.floating):
        return "float"
    if np.issubdtype(s.dtype, np.integer):
        return "int"
    if s.dtype == bool:
        return "bool"
    if str(s.dtype).startswith("datetime"):
        return "datetime"
    for v in s:
        if v is None or (isinstance(v, float) and pd.isna(v)):
            continue
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        return "str"
    return "empty"


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else the first difference found."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        gk, wk = _kind(got[c]), _kind(want[c])
        if "empty" not in (gk, wk) and gk != wk:
            return f"dtype of {c}: {gk} vs {wk}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        x, y = a[c], b[c]
        xna, yna = x.isna().to_numpy(), y.isna().to_numpy()
        if (xna != yna).any():
            return f"nulls differ in {c}"
        live = ~xna
        if _kind(x) == "float" or _kind(y) == "float":
            xf, yf = x.to_numpy(float)[live], y.to_numpy(float)[live]
            dev = np.abs(xf - yf)
            # within 1e-6, counting the representation error of the two
            # doubles: a mean that lands exactly on a rounding tie (say
            # 0.0496875 under round(x, 6)) comes out one step apart when
            # the engines sum in different orders, and 0.049688 - 0.049687
            # is a hair above 1e-6 in double arithmetic
            slack = 4 * np.spacing(np.maximum(np.abs(xf), np.abs(yf)))
            if (dev > 1e-6 + slack).any():
                return f"values differ in {c} (max dev {dev.max():.3g})"
        elif not (x.to_numpy()[live] == y.to_numpy()[live]).all():
            return f"values differ in {c}"
    return None
