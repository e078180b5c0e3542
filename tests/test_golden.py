"""Golden micro-fixture (FIXTURES.md §6): 3 conversations covering a
ts tie, a session gap, null tools, an unknown-conv anchor and a
pre-first-turn anchor, with hand-computed expected outputs committed
as CSV. Catches silent semantic drift that statistical parity tests
could rationalize away."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from fte.operators.asof import asof_join_merge, asof_join_window
from fte.operators.sessionize import sessionize
from fte.operators.windows import (
    with_backfill,
    with_lag_lead,
    with_rolling_counts,
    with_rolling_role_freq,
    with_rolling_text_stats,
)
from fte.schema import ANCHORS_SCHEMA, TRANSCRIPTS_SCHEMA

GOLD = Path(__file__).parent / "golden"
KEY = ["conv_id", "turn_idx"]


def _load_transcripts():
    pdf = pd.read_csv(GOLD / "transcripts.csv", dtype={"tool": "object"})
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["tool"] = pdf["tool"].where(pdf["tool"].notna(), None)
    return pdf


@pytest.fixture(scope="module")
def gdf(spark):
    return spark.createDataFrame(_load_transcripts(), schema=TRANSCRIPTS_SCHEMA)


@pytest.fixture(scope="module")
def gadf(spark):
    pdf = pd.read_csv(GOLD / "anchors.csv")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ANCHORS_SCHEMA)


def test_golden_features(spark, gdf):
    out = sessionize(gdf)
    out = with_rolling_counts(out)
    out = with_lag_lead(out, ["role"], offsets=(1,), include_lead=True)
    out = out.withColumnRenamed("lag_role_1", "lag_role_1_")  # keep both
    out = out.withColumnRenamed("lag_role_1_", "lag_role_1")
    from pyspark.sql import Window, functions as F

    from fte.functions import epoch_seconds

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    out = out.withColumn(
        "gap_prev_s",
        (epoch_seconds("ts") - F.lag(epoch_seconds("ts"), 1).over(w)).cast("double"),
    ).withColumn("lag_textlen_1", F.lag(F.length("text"), 1).over(w))
    out = with_backfill(out, ["tool"])
    out = with_rolling_role_freq(out)
    out = with_rolling_text_stats(out)

    got = out.toPandas().sort_values(KEY).reset_index(drop=True)
    exp = pd.read_csv(GOLD / "expected_features.csv").sort_values(KEY).reset_index(drop=True)

    for c in exp.columns:
        if c in KEY:
            continue
        g, e = got[c], exp[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ga = pd.to_numeric(g, errors="coerce").to_numpy(dtype=float)
            ea = pd.to_numeric(e, errors="coerce").to_numpy(dtype=float)
            ok = np.isclose(ga, ea, rtol=1e-12, atol=1e-12) | (np.isnan(ga) & np.isnan(ea))
        else:
            gs = g.astype("object").where(g.notna(), None)
            es = e.astype("object").where(e.notna(), None)
            ok = np.array([str(a) == str(b) or (a is None and b is None) for a, b in zip(gs, es)])
        assert ok.all(), f"golden mismatch in {c}: rows {np.where(~ok)[0].tolist()} got={g[~ok].tolist()} want={e[~ok].tolist()}"


@pytest.mark.parametrize("impl", [asof_join_window, asof_join_merge])
def test_golden_asof(spark, gdf, gadf, impl):
    got = impl(gadf, gdf).toPandas().sort_values("anchor_id").reset_index(drop=True)
    exp = pd.read_csv(GOLD / "expected_asof.csv", dtype={"r_tool": "object", "r_text": "object", "r_role": "object"})
    exp["ts"] = pd.to_datetime(exp["ts"]).astype("datetime64[us]")
    exp["r_ts"] = pd.to_datetime(exp["r_ts"]).astype("datetime64[us]")
    exp = exp.sort_values("anchor_id").reset_index(drop=True)
    for c in ["r_turn_idx", "r_role", "r_text", "r_tool", "r_ts"]:
        g = got[c].where(got[c].notna(), None)
        e = exp[c].where(exp[c].notna(), None)
        same = [
            (a == b) or (a is None and b is None) or (pd.isna(a) and pd.isna(b))
            for a, b in zip(g, e)
        ]
        assert all(same), f"asof golden mismatch {c}: {list(zip(g, e))}"
