"""Built-in feature extractor library.

Each extractor is a registered builder ``(transcripts) -> transcripts +
feature cols`` — the engine-provided replacement for the ad-hoc pandas
code FeatureHub users wrote inside feature functions [U: user feature
code executed by featurehub/evaluation/client.py]. All are leakage-safe
(frames end at currentRow) unless flagged ``leaky=True``.

Every extractor here shares the SAME window partitioning+ordering
(conv_id / ts,turn_idx), so applying the whole library costs ONE
shuffle + ONE sort total — Catalyst merges identical WindowSpecs into
a single WindowExec chain. `.explain()` on the assembled matrix shows
exactly one Exchange for all window features. That property is the
core scale win vs per-feature passes.

Each builder is ONE projection (one analysis of the growing plan),
except ``f_role_freq``: its ratios read its counts, so two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fte.functions import epoch_seconds
from fte.operators.sessionize import sessionize
from fte.operators.windows import (
    DEFAULT_ORDER,
    _wt,
    with_backfill,
    with_rolling_counts,
    with_rolling_role_freq,
    with_rolling_text_stats,
)
from fte.registry import FeatureRegistry


def build_default_registry() -> FeatureRegistry:
    reg = FeatureRegistry()

    @reg.feature(outputs=("session_id",), tags=("window", "session"))
    def f_session(df: DataFrame) -> DataFrame:
        """Session id from 1800s ts-gap splits."""
        return sessionize(df)

    @reg.feature(outputs=("turns_so_far", "turns_last_300s"), tags=("window",))
    def f_rolling_counts(df: DataFrame) -> DataFrame:
        """Expanding turn count + trailing 5-minute turn count."""
        return with_rolling_counts(df)

    @reg.feature(
        outputs=tuple(f"cnt_{r}" for r in ("user", "assistant", "system", "tool"))
        + tuple(f"frac_{r}" for r in ("user", "assistant", "system", "tool")),
        tags=("window", "role"),
    )
    def f_role_freq(df: DataFrame) -> DataFrame:
        """Running per-role counts and fractions."""
        return with_rolling_role_freq(df)

    @reg.feature(
        outputs=("textlen_mean", "textlen_std", "textlen_min", "textlen_max", "textlen_sum"),
        tags=("window", "text"),
    )
    def f_text_stats(df: DataFrame) -> DataFrame:
        """Running text-length stats."""
        return with_rolling_text_stats(df)

    @reg.feature(outputs=("ffill_tool",), tags=("window", "backfill"))
    def f_tool_ffill(df: DataFrame) -> DataFrame:
        """Last tool used so far (forward-fill)."""
        return with_backfill(df, ["tool"])

    @reg.feature(
        outputs=("lag_role_1", "gap_prev_s", "lag_textlen_1"),
        tags=("window", "lag"),
    )
    def f_prev_turn(df: DataFrame) -> DataFrame:
        """Previous turn's role, ts gap (seconds), text length — one
        WindowExec pass; Catalyst projects the lag inputs below the
        shuffle, so text stays out of it."""
        w = _wt("conv_id", DEFAULT_ORDER)
        tl = F.col("textlen") if "textlen" in df.columns else F.length("text")
        es = epoch_seconds("ts")
        return df.select(
            "*",
            F.lag("role", 1).over(w).alias("lag_role_1"),
            (es - F.lag(es, 1).over(w)).cast("double").alias("gap_prev_s"),
            F.lag(tl, 1).over(w).alias("lag_textlen_1"),
        )

    @reg.feature(outputs=("hour_of_day", "is_weekend"), tags=("scalar", "time"))
    def f_time_of_day(df: DataFrame) -> DataFrame:
        """Anchor-time scalar features (no window)."""
        return df.select(
            "*",
            F.hour("ts").alias("hour_of_day"),
            F.dayofweek("ts").isin(1, 7).cast("int").alias("is_weekend"),
        )

    @reg.feature(
        outputs=("textlen", "word_count", "has_question", "upper_ratio"),
        tags=("scalar", "text"),
    )
    def f_text_scalars(df: DataFrame) -> DataFrame:
        """Per-turn text scalars — pure JVM expressions, projected at
        the scan (scalar stage) so `text` never reaches the shuffle."""
        text = F.col("text")
        return df.select(
            "*",
            F.length(text).alias("textlen"),
            F.size(F.split(F.trim(text), r"\s+")).alias("word_count"),
            text.contains("?").cast("int").alias("has_question"),
            (
                F.length(F.regexp_replace(text, "[^A-Z]", ""))
                / F.greatest(F.length(text), F.lit(1))
            ).cast("double").alias("upper_ratio"),
        )

    @reg.feature(outputs=("lead_role_1",), leaky=True, tags=("window", "lead"))
    def f_next_role(df: DataFrame) -> DataFrame:
        """NEXT turn's role — train-time target helper, LEAKY."""
        w = _wt("conv_id", DEFAULT_ORDER)
        return df.select("*", F.lead("role", 1).over(w).alias("lead_role_1"))

    return reg
