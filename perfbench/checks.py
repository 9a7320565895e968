"""Independent pandas references the benchmark checks the program against.

Each function recomputes, directly from the raw rows the benchmark
generated, what a call into the program must return; ``diff`` compares
two frames and names the first difference. None of this runs inside a
timed operation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MEASURES = ["n_points", "sum_tok", "min_tok", "max_tok"]
UNIT = {"1m": "min", "1h": "h", "1d": "D"}


def rollup(raw: pd.DataFrame, res: str, cap: float | None = None) -> pd.DataFrame:
    """count/sum/min/max of n_tok per (source, bucket) — a row whose
    n_tok exceeds ``cap`` is flagged: kept, but its value is NULL."""
    v = raw["n_tok"].astype("float64")
    if cap is not None:
        v = v.where(v <= cap)
    df = pd.DataFrame({"source": raw["source"].to_numpy(),
                       "bucket": raw["ts"].dt.floor(UNIT[res]).to_numpy(),
                       "v": v.to_numpy()})
    g = df.groupby(["source", "bucket"], sort=True)["v"]
    out = pd.DataFrame({"n_points": g.count(), "sum_tok": g.sum(min_count=1),
                        "min_tok": g.min(), "max_tok": g.max()}).reset_index()
    return out


def cascade(tier: pd.DataFrame, res: str) -> pd.DataFrame:
    b = tier["bucket"].dt.floor(UNIT[res])
    g = tier.assign(bucket=b).groupby(["source", "bucket"], sort=True)
    return pd.DataFrame({"n_points": g["n_points"].sum(),
                         "sum_tok": g["sum_tok"].sum(min_count=1),
                         "min_tok": g["min_tok"].min(),
                         "max_tok": g["max_tok"].max()}).reset_index()


def in_days(df: pd.DataFrame, col: str, d0: str, d1: str) -> pd.DataFrame:
    day = df[col].dt.floor("D")
    return df[(day >= pd.Timestamp(d0)) & (day <= pd.Timestamp(d1))]


def gap_fill(tier: pd.DataFrame) -> pd.DataFrame:
    """Per source: every minute between its first and last bucket, the
    last observed measures carried forward, ``gap_filled`` marking the
    minutes that had no row."""
    parts = []
    for src, g in tier.sort_values("bucket").groupby("source"):
        spine = pd.date_range(g["bucket"].iloc[0], g["bucket"].iloc[-1],
                              freq="min")
        d = g.set_index("bucket")[MEASURES].reindex(spine)
        filled = d["n_points"].isna().to_numpy()
        d = d.ffill()
        d["gap_filled"] = filled
        d["source"] = src
        parts.append(d.rename_axis("bucket").reset_index())
    if not parts:
        return pd.DataFrame(columns=["source", "bucket", *MEASURES,
                                     "gap_filled"])
    return pd.concat(parts, ignore_index=True)


def unpacked(tier_1m: pd.DataFrame, measures: list[str]) -> pd.DataFrame:
    """The long (source, measure, bucket, value) rows a Gorilla
    round trip of ``measures`` of the 1m tier must give back."""
    return pd.concat(
        [pd.DataFrame({"source": tier_1m["source"], "measure": m,
                       "bucket": tier_1m["bucket"],
                       "value": tier_1m[m].astype("float64")})
         for m in measures], ignore_index=True)


def diff(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when equal as sets of rows (numbers compared exactly, NULL
    equals NULL); otherwise the first difference."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a = _canon(got[cols], keys)
    b = _canon(want[cols], keys)
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype.kind in "fiub" or y.dtype.kind in "fiub":
            x = x.astype("float64").to_numpy()
            y = y.astype("float64").to_numpy()
            bad = ~((np.isnan(x) & np.isnan(y)) | (x == y))
        else:
            bad = (x.astype(str) != y.astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return (f"{c} differs at {a.loc[i, keys].to_dict()}: "
                    f"{a[c].iloc[i]!r} != {b[c].iloc[i]!r} "
                    f"({int(bad.sum())} rows)")
    return None


def _canon(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and c in keys:
            df[c] = df[c].astype(str)
    return df.sort_values(keys).reset_index(drop=True)
