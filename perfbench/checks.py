"""Output checks: engine results against independent references.

- the turn-grain feature matrix against ``fte.pandas_ref`` (allclose
  for numbers, byte-equal strings) on a seeded conversation sample;
- as-of matches against ``fte.pandas_ref.ref_asof``;
- catalog queries against their DuckDB oracle (``oracle_sql``), with
  the repository's own comparison, ``tools.check_oracle.compare``.

Each function returns a list of error strings; empty means the check passed.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from fte import pandas_ref as ref

KEY = ["conv_id", "turn_idx"]


def _naive_us(s: pd.Series) -> pd.Series:
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]")


def compare_keyed(ours: pd.DataFrame, want: pd.DataFrame, label: str, keys: list[str]) -> list[str]:
    """Same columns and rows, matched on the unique ``keys``; numbers
    ``numpy.isclose`` with its defaults, everything else equal (NULL ==
    NULL, timestamps as UTC-naive micros)."""
    if sorted(ours.columns) != sorted(want.columns):
        return [f"{label}: columns {sorted(ours.columns)} != {sorted(want.columns)}"]
    if len(ours) != len(want):
        return [f"{label}: rows {len(ours)} != {len(want)}"]
    a, b = (df.sort_values(keys, kind="mergesort").reset_index(drop=True) for df in (ours, want))
    errs = []
    for c in sorted(ours.columns):
        x, y = a[c], b[c]
        if pd.api.types.is_datetime64_any_dtype(x):
            x, y = _naive_us(x), _naive_us(y)
        numeric = all(pd.api.types.is_numeric_dtype(v) and not pd.api.types.is_bool_dtype(v) for v in (x, y))
        if numeric:
            xa, ya = (pd.to_numeric(v, errors="coerce").to_numpy(dtype=float) for v in (x, y))
            ok = np.isclose(xa, ya, equal_nan=True)
        else:
            ok = (x.astype(str).where(x.notna(), "<NULL>") == y.astype(str).where(y.notna(), "<NULL>")).to_numpy()
        bad = int((~ok).sum())
        if bad:
            i = int(np.argmax(~ok))
            errs.append(f"{label}.{c}: {bad} mismatches, first {x.iloc[i]!r} vs {y.iloc[i]!r}")
    return errs


def reference_matrix(turns: pd.DataFrame) -> pd.DataFrame:
    """The serve-time feature matrix computed by ``fte.pandas_ref``,
    plus the per-turn scalar features in plain pandas."""
    out = ref.ref_sessionize(turns)
    for fn in (ref.ref_rolling_counts, ref.ref_lag_lead, ref.ref_backfill,
               ref.ref_rolling_text_stats, ref.ref_role_freq):
        add = fn(turns)
        new = [c for c in add.columns if c not in out.columns]
        out = out.merge(add[KEY + new], on=KEY, how="left")
    text = out["text"]
    ts = _naive_us(out["ts"])
    out["hour_of_day"] = ts.dt.hour.astype("int64")
    out["is_weekend"] = ts.dt.dayofweek.isin([5, 6]).astype("int64")
    # Spark: size(split(trim(text), '\s+')); trim strips spaces only and
    # Java's \s is ASCII whitespace
    out["word_count"] = text.map(lambda t: len(re.split(r"\s+", t.strip(" "), flags=re.ASCII)))
    out["has_question"] = text.str.contains("?", regex=False).astype("int64")
    out["upper_ratio"] = text.map(lambda t: len(re.sub("[^A-Z]", "", t)) / max(len(t), 1))
    return out.drop(columns=["role", "text", "tool", "lead_role_1"])


def check_matrix(got: pd.DataFrame, turns: pd.DataFrame) -> list[str]:
    want = reference_matrix(turns)
    missing = sorted(set(want.columns) ^ set(got.columns))
    if missing:
        return [f"matrix: columns differ from the reference: {missing}"]
    return compare_keyed(got, want[got.columns], "matrix", KEY)


def check_asof_sample(got: pd.DataFrame, anchors: pd.DataFrame, turns: pd.DataFrame) -> list[str]:
    """``got`` holds anchor_id, f_turn_idx, f_ts for the sampled anchors."""
    want = ref.ref_asof(anchors, turns, right_cols=("turn_idx", "ts"), prefix="f_")
    return compare_keyed(got, want[["anchor_id", "f_turn_idx", "f_ts"]], "asof", ["anchor_id"])
