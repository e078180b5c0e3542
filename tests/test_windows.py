"""Window operator parity vs the single-node pandas reference
(SURVEY.md §5.2 check 1: allclose at every (conv_id, turn_idx) key)."""

from __future__ import annotations

from fte import pandas_ref as R
from fte.operators.sessionize import sessionize
from fte.operators.windows import (
    with_backfill,
    with_lag_lead,
    with_rolling_counts,
    with_rolling_role_freq,
    with_rolling_text_stats,
)
from tests.util import assert_allclose_frames


def test_sessionize_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = sessionize(transcripts_df).toPandas()
    # Spark cumsum is 1-based on first-row flag, same as reference
    ref = R.ref_sessionize(transcripts_pdf)
    assert_allclose_frames(got, ref, ["session_id"])


def test_rolling_counts_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = with_rolling_counts(transcripts_df).toPandas()
    ref = R.ref_rolling_counts(transcripts_pdf)
    assert_allclose_frames(got, ref, ["turns_so_far", "turns_last_300s"])


def test_lag_lead_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = with_lag_lead(transcripts_df, ["role"], offsets=(1,), include_lead=True).toPandas()
    ref = R.ref_lag_lead(transcripts_pdf)
    assert_allclose_frames(got, ref, ["lag_role_1", "lead_role_1"])


def test_backfill_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = with_backfill(transcripts_df, ["tool"]).toPandas()
    ref = R.ref_backfill(transcripts_pdf, "tool")
    assert_allclose_frames(got, ref, ["ffill_tool"])


def test_rolling_text_stats_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = with_rolling_text_stats(transcripts_df).toPandas()
    ref = R.ref_rolling_text_stats(transcripts_pdf)
    assert_allclose_frames(
        got, ref,
        ["textlen", "textlen_mean", "textlen_std", "textlen_min", "textlen_max", "textlen_sum"],
        rtol=1e-9, atol=1e-9,
    )


def test_role_freq_matches_pandas(spark, transcripts_df, transcripts_pdf):
    got = with_rolling_role_freq(transcripts_df).toPandas()
    ref = R.ref_role_freq(transcripts_pdf)
    cols = [f"cnt_{r}" for r in ("user", "assistant", "system", "tool")]
    cols += [f"frac_{r}" for r in ("user", "assistant", "system", "tool")]
    assert_allclose_frames(got, ref, cols)


def test_text_byte_equality(spark, transcripts_df, transcripts_pdf):
    """Per-turn text equality under stable ordering (input_hint)."""
    got = sessionize(transcripts_df).toPandas()
    assert_allclose_frames(got, transcripts_pdf, ["text"])


def test_ewma_matches_pandas(spark, transcripts_df, transcripts_pdf):
    from fte.operators.windows import with_ewma

    from pyspark.sql import functions as F

    df = transcripts_df.withColumn("val", F.length("text").cast("double"))
    got = with_ewma(df, "val", alpha=0.3).toPandas()

    pdf = transcripts_pdf.copy()
    pdf["val"] = pdf["text"].str.len().astype("float64")
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    pdf["ewma_val"] = (
        pdf.groupby("conv_id", sort=False)["val"]
        .transform(lambda s: s.ewm(alpha=0.3, adjust=True).mean())
    )
    assert_allclose_frames(got, pdf, ["ewma_val"], rtol=1e-9, atol=1e-9)


def test_time_bucket_counts(spark, transcripts_df, transcripts_pdf):
    from fte.operators.windows import with_time_bucket_counts

    got = with_time_bucket_counts(transcripts_df, "1 hour").toPandas()
    ref = (
        transcripts_pdf.assign(b=transcripts_pdf["ts"].dt.floor("h"))
        .groupby(["conv_id", "b"])
        .size()
    )
    assert len(got) == len(ref)
    assert got["n"].sum() == len(transcripts_pdf)


def test_ewma_bucket_invariance(spark, transcripts_df):
    """Bucketed grouped-map EWMA must be invariant to the bucket
    count and input partitioning (values come from per-conv pandas
    ewm inside each bucket, so bucketing is pure transport)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fte.operators.windows import with_ewma

    base = transcripts_df.withColumn("textlen", F.length("text").cast("double"))
    a = (
        with_ewma(base, "textlen")
        .select("conv_id", "turn_idx", "ewma_textlen")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        with_ewma(base.repartition(17), "textlen")
        .select("conv_id", "turn_idx", "ewma_textlen")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert np.array_equal(a["ewma_textlen"].to_numpy(), b["ewma_textlen"].to_numpy())
    # explicit n_buckets (> cores, and tiny) both reproduce the default
    for nb in (3, 257):
        c = (
            with_ewma(base, "textlen", n_buckets=nb)
            .select("conv_id", "turn_idx", "ewma_textlen")
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        assert np.array_equal(a["ewma_textlen"].to_numpy(), c["ewma_textlen"].to_numpy())
