"""Property-based as-of join check (hypothesis): random tiny
anchor/turn tables → both engine impls must equal pandas merge_asof.
Catches boundary semantics (empty sides, all-ties, identical ts,
anchors before/after everything) that fixed fixtures can miss."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from fte import pandas_ref as R
from fte.operators.asof import asof_join_merge, asof_join_window
from fte.schema import ANCHORS_SCHEMA, TRANSCRIPTS_SCHEMA

BASE = pd.Timestamp("2025-01-01")

# offsets intentionally tiny so ts collisions across rows are frequent
offsets = st.integers(min_value=0, max_value=5)


@st.composite
def tables(draw):
    n_turns = draw(st.integers(min_value=0, max_value=8))
    n_anchors = draw(st.integers(min_value=1, max_value=6))
    convs = ["a", "b"]
    turns = []
    per_conv: dict[str, int] = {}
    for _ in range(n_turns):
        c = draw(st.sampled_from(convs))
        idx = per_conv.get(c, 0)
        per_conv[c] = idx + 1
        turns.append(
            (c, idx, "user", f"t{idx}", None, BASE + pd.Timedelta(seconds=draw(offsets)))
        )
    anchors = [
        (i, draw(st.sampled_from(convs + ["zz-unknown"])), BASE + pd.Timedelta(seconds=draw(offsets)))
        for i in range(n_anchors)
    ]
    tp = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    tp["turn_idx"] = tp["turn_idx"].astype("int32")
    ap = pd.DataFrame(anchors, columns=["anchor_id", "conv_id", "ts"])
    return tp, ap


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(tables())
def test_asof_impls_match_pandas(spark, data):
    tp, ap = data
    tdf = spark.createDataFrame(tp, schema=TRANSCRIPTS_SCHEMA)
    adf = spark.createDataFrame(ap, schema=ANCHORS_SCHEMA)
    ref = R.ref_asof(ap, tp) if len(tp) else None
    for impl in (asof_join_window, asof_join_merge):
        got = impl(adf, tdf).toPandas().sort_values("anchor_id").reset_index(drop=True)
        assert len(got) == len(ap)
        if ref is None:
            assert got["r_turn_idx"].isna().all()
            continue
        for c in ["r_turn_idx", "r_role", "r_text", "r_ts"]:
            g = got[c].where(got[c].notna(), None)
            e = ref[c].where(ref[c].notna(), None)
            same = [
                (x == y) or (x is None and y is None) or (pd.isna(x) and pd.isna(y))
                for x, y in zip(g, e)
            ]
            assert all(same), f"{c}: {list(zip(g, e))}\nturns=\n{tp}\nanchors=\n{ap}"
