"""Property-based sessionize check (hypothesis): random tiny turn
tables with frequent ts collisions and gap-boundary values → engine
labels must equal a direct pandas recomputation of the gap rule, and
must be invariant to input row order and partition count."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from fte.operators.sessionize import sessionize
from fte.schema import TRANSCRIPTS_SCHEMA

BASE = pd.Timestamp("2025-01-01")
GAP = 10  # seconds — tiny so boundaries are hit constantly

# offsets cluster around multiples of GAP so gap==GAP (not a split) and
# gap==GAP+1 (a split) both occur often
offsets = st.integers(min_value=0, max_value=3 * (10 + 1))


@st.composite
def turn_tables(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    convs = ["a", "b"]
    rows = []
    per_conv: dict[str, int] = {}
    for _ in range(n):
        c = draw(st.sampled_from(convs))
        idx = per_conv.get(c, 0)
        per_conv[c] = idx + 1
        rows.append(
            (c, idx, "user", f"t{idx}", None,
             BASE + pd.Timedelta(seconds=draw(offsets)))
        )
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


def ref_sessionize(pdf: pd.DataFrame, gap: int) -> pd.DataFrame:
    """Direct restatement of the rule: new session when the floored-
    seconds gap to the previous turn (ts, turn_idx order) exceeds gap."""
    out = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort")
        sid = 0
        prev = None
        for _, r in g.iterrows():
            t = int(r["ts"].value // 1_000_000_000)
            if prev is None or (t - prev) > gap:
                sid += 1
            prev = t
            out.append((conv, r["turn_idx"], sid))
    return pd.DataFrame(out, columns=["conv_id", "turn_idx", "session_id"])


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(turn_tables(), st.integers(min_value=1, max_value=4))
@pytest.mark.slow
def test_sessionize_property(spark, pdf, n_parts):
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).repartition(n_parts)
    got = (
        sessionize(df, gap_seconds=GAP)
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    ref = (
        ref_sessionize(pdf, GAP)
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(ref)
    assert got["session_id"].astype(int).tolist() == ref["session_id"].tolist()
