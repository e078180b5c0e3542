"""As-of join: impl cross-check, pandas parity, edge semantics (M2)."""

from __future__ import annotations

import pandas as pd
import pytest

from fte import pandas_ref as R
from fte.operators.asof import asof_join_merge, asof_join_window
from fte.schema import ANCHORS_SCHEMA, TRANSCRIPTS_SCHEMA

RCOLS = ["r_turn_idx", "r_role", "r_text", "r_tool", "r_ts"]


def _sorted(pdf):
    return pdf.sort_values("anchor_id", kind="mergesort").reset_index(drop=True)


@pytest.fixture(scope="module")
def results(spark, anchors_df, transcripts_df, anchors_pdf, transcripts_pdf):
    w = _sorted(asof_join_window(anchors_df, transcripts_df).toPandas())
    m = _sorted(asof_join_merge(anchors_df, transcripts_df).toPandas())
    ref = R.ref_asof(anchors_pdf, transcripts_pdf)
    return w, m, ref


def test_impls_agree(results):
    w, m, _ = results
    pd.testing.assert_frame_equal(w, m, check_dtype=False)


def test_matches_pandas_merge_asof(results):
    w, _, ref = results
    assert len(w) == len(ref)
    for c in RCOLS:
        x = w[c].where(w[c].notna(), None)
        y = ref[c].where(ref[c].notna(), None)
        bad = [
            (i, a, b) for i, (a, b) in enumerate(zip(x, y))
            if not (a == b or (a is None and b is None) or (pd.isna(a) and pd.isna(b)))
        ]
        assert not bad, f"{c}: first mismatches {bad[:3]}"


def test_left_semantics_unknown_convs(results, anchors_pdf):
    """Anchors for unknown conv_ids keep their rows with NULL match."""
    w, _, _ = results
    unknown = anchors_pdf[anchors_pdf.conv_id.str.startswith("conv-unknown")]
    assert len(unknown) > 0
    sub = w[w.conv_id.str.startswith("conv-unknown")]
    assert len(sub) == len(unknown)
    assert sub["r_turn_idx"].isna().all()


def test_inclusive_bound_and_tiebreak(spark):
    """Anchor exactly at a turn ts matches it; ts ties → max turn_idx."""
    t0 = pd.Timestamp("2025-01-01 00:00:00")
    turns = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": pd.array([0, 1, 2], dtype="int32"),
            "role": ["user", "assistant", "user"],
            "text": ["a", "b", "c"],
            "tool": [None, None, None],
            "ts": [t0, t0 + pd.Timedelta(seconds=10), t0 + pd.Timedelta(seconds=10)],
        }
    )
    anchors = pd.DataFrame(
        {
            "anchor_id": [1, 2, 3],
            "conv_id": ["c"] * 3,
            "ts": [t0 + pd.Timedelta(seconds=10), t0 + pd.Timedelta(seconds=5), t0 - pd.Timedelta(seconds=1)],
        }
    )
    tdf = spark.createDataFrame(turns, schema=TRANSCRIPTS_SCHEMA)
    adf = spark.createDataFrame(anchors, schema=ANCHORS_SCHEMA)
    for fn in (asof_join_window, asof_join_merge):
        got = _sorted(fn(adf, tdf).toPandas())
        # anchor 1 at ts=10s: two turns tie at 10s → turn_idx 2 wins
        assert got.loc[0, "r_turn_idx"] == 2
        # anchor 2 at 5s → turn 0
        assert got.loc[1, "r_turn_idx"] == 0
        # anchor 3 before first turn → null, row kept
        assert pd.isna(got.loc[2, "r_turn_idx"])


def test_tolerance(spark, anchors_df, transcripts_df):
    w = asof_join_window(anchors_df, transcripts_df, tolerance_seconds=60).toPandas()
    m = _sorted(asof_join_merge(anchors_df, transcripts_df, tolerance_seconds=60).toPandas())
    w = _sorted(w)
    pd.testing.assert_frame_equal(w, m, check_dtype=False)
    # matches older than 60s must be nulled
    age = (w["ts"] - w["r_ts"]).dt.total_seconds()
    assert ((age <= 60) | w["r_ts"].isna()).all()
