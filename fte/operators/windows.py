"""Windowed per-turn operators: lag/lead, backfill, rolling aggregates.

These are the engine's feature core (SURVEY.md §2.B-windows), one
implementation per window feature: the feature library and the catalog
(so its DuckDB oracle) both call them. All are single-pass Window ops over
``Window.partitionBy(conv).orderBy(ts, order)`` — one shuffle on
conv_id total, shared by every window in the same plan (Spark reuses
the sort for windows with identical partitioning/ordering), so adding
features is marginal-cost-zero in shuffles.

Each operator adds its columns in one projection, except
``with_rolling_role_freq``, which needs two (see its docstring).

Leakage rule (BASELINE.json:6): every frame's upper bound is
``currentRow`` (or a trailing range) — never ``unboundedFollowing``;
``running_window`` is the one running frame. ``lead`` is provided for
train-time targets only and is explicitly marked leaky; the
feature-matrix pipeline refuses it at serve time.

Scale notes: a window partitioned by conv_id never materializes more
than one conversation per task buffer; the whale conversation
(>=5000 turns) is still far below executor memory. Skew across
conversations is handled upstream by AQE partition coalescing/splitting
on the shuffle.

FeatureHub parity: these replace the pandas calls users wrote inside
feature functions (df.groupby(...).shift/ffill/rolling/expanding)
[U: user feature code driven by src/featurehub/evaluation/client.py].
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F
from pyspark.sql import types as T

from fte.functions import epoch_seconds

# Stable total order within a conversation: event time, then turn_idx
# to break the ~1% ts ties deterministically (FIXTURES.md §1).
DEFAULT_ORDER = ("ts", "turn_idx")


def _wt(conv_col: str, order_cols: Sequence[str]):
    return Window.partitionBy(conv_col).orderBy(*order_cols)


def running_window(conv_col: str, order_cols: Sequence[str]) -> WindowSpec:
    """Rows from the conversation's first turn to the current one: the
    frame of every cumulative feature, ending at currentRow."""
    return _wt(conv_col, order_cols).rowsBetween(Window.unboundedPreceding, Window.currentRow)


def with_lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
    include_lead: bool = False,
) -> DataFrame:
    """Add lag_{c}_{n} (and optionally lead_{c}_{n}) columns.

    All offsets/cols are emitted in ONE select → one WindowExec pass
    (a withColumn chain would leave Catalyst N Window nodes to merge).

    lead looks at future turns → train-time only (leakage); callers in
    the serving pipeline must keep include_lead=False.
    """
    w = _wt(conv_col, order_cols)
    new_cols = []
    for c in cols:
        for n in offsets:
            new_cols.append(F.lag(c, n).over(w).alias(f"lag_{c}_{n}"))
            if include_lead:
                new_cols.append(F.lead(c, n).over(w).alias(f"lead_{c}_{n}"))
    return df.select("*", *new_cols)


def with_backfill(
    df: DataFrame,
    cols: Sequence[str],
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
    prefix: str = "ffill_",
) -> DataFrame:
    """Forward-fill: carry the last non-null value up to the current
    turn. pandas equivalent: groupby(conv).ffill(). Frame ends at
    currentRow → leakage-safe by construction."""
    w = running_window(conv_col, order_cols)
    return df.select(
        "*", *[F.last(c, ignorenulls=True).over(w).alias(prefix + c) for c in cols]
    )


def with_rolling_counts(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
    ts_col: str = "ts",
    last_seconds: Sequence[int] = (300,),
) -> DataFrame:
    """turns_so_far (expanding count) + turns_last_{N}s (trailing time
    range count). pandas equivalent: expanding().count() /
    rolling('Ns').count()."""
    w_rows = running_window(conv_col, order_cols)
    # rangeBetween needs a numeric ordering column; cast ts → epoch secs
    w_time_base = Window.partitionBy(conv_col).orderBy(epoch_seconds(ts_col))
    return df.select(
        "*",
        F.count(F.lit(1)).over(w_rows).alias("turns_so_far"),
        *[
            F.count(F.lit(1)).over(w_time_base.rangeBetween(-n, 0)).alias(f"turns_last_{n}s")
            for n in last_seconds
        ],
    )


def with_rolling_role_freq(
    df: DataFrame,
    roles: Sequence[str] = ("user", "assistant", "system", "tool"),
    role_col: str = "role",
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
) -> DataFrame:
    """Running per-role counts and ratios at each turn.

    Conditional sums over one shared window — Catalyst evaluates all of
    them in a single WindowExec pass (same partition/order/frame), so
    the bounded role domain costs no extra shuffles. The ratios are a
    second projection over the counts: in one ``select`` they would
    repeat each ``sum(...) OVER w`` and the total, and Catalyst plans
    every repeat as one more window function.
    """
    w = running_window(conv_col, order_cols)
    counts = [f"cnt_{r}" for r in roles]
    counted = df.select(
        "*",
        F.count(F.lit(1)).over(w).alias("_cum_total"),
        *[
            F.sum(F.when(F.col(role_col) == r, 1).otherwise(0)).over(w).alias(c)
            for r, c in zip(roles, counts)
        ],
    )
    return counted.select(
        *df.columns,
        *counts,
        *[
            (F.col(c) / F.col("_cum_total")).cast("double").alias(f"frac_{r}")
            for r, c in zip(roles, counts)
        ],
    )


def with_rolling_text_stats(
    df: DataFrame,
    text_col: str = "text",
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
) -> DataFrame:
    """Running mean/std/min/max/sum of text length up to the current
    turn. stddev is sample-stddev (matches pandas .expanding().std())."""
    w = running_window(conv_col, order_cols)
    # window exprs reference a projected narrow int column (never
    # length(text) directly), so Catalyst's column pruning keeps the
    # fat text column below the conv_id Exchange. Reuse an existing
    # textlen column (projected in the scalar stage, i.e. below every
    # window) when present.
    projected = (
        df if "textlen" in df.columns
        else df.select("*", F.length(text_col).alias("textlen"))
    )
    ln = F.col("textlen")
    return projected.select(
        "*",
        F.avg(ln).over(w).alias("textlen_mean"),
        F.stddev_samp(ln).over(w).alias("textlen_std"),
        F.min(ln).over(w).alias("textlen_min"),
        F.max(ln).over(w).alias("textlen_max"),
        F.sum(ln).over(w).alias("textlen_sum"),
    )


def with_ewma(
    df: DataFrame,
    value_col: str,
    alpha: float = 0.3,
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
    out_col: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Exponentially weighted moving average of a numeric column per
    conversation (pandas ewm(adjust=True) semantics — the form
    FeatureHub users reached for in feature functions).

    EWMA is a recursion, which Catalyst windows can't express without
    numeric blow-up (a^-i overflows for long convs), so this is the
    one grouped-map operator in the window family. Groups are HASH
    BUCKETS of conversations, not single conversations: per-conv
    groups mean billions of tiny Arrow round-trips at 10^12 turns
    (the same floor measured for the as-of cogroup — see
    asof_join_merge); bucketing amortizes the JVM↔Python transfer to
    ``n_buckets`` big batches while pandas' C groupby-ewm does the
    per-conv recursions inside. Leakage-safe: ewm only looks backward.

    ``n_buckets`` bounds BOTH parallelism and per-worker memory: each
    bucket is ~N/n_buckets rows concatenated into one pandas frame, so
    n_buckets must be large enough that a bucket fits a Python worker
    (rows/bucket × row width « worker heap) and at least the cluster's
    core count or the tail tasks idle. Default scales with the session
    (max(shuffle.partitions, defaultParallelism×4)) instead of a fixed
    constant — a hard-coded 128 caps a 1000-executor cluster at 128
    tasks of ~1/128th of the corpus each, an OOM at 10^12 turns.
    Results are bucket-count-independent (each conversation's recursion
    is self-contained; regression-tested across n_buckets).

    Semantics match pandas ewm(adjust=True) exactly (and the engine's
    DuckDB oracle replicates its float-op order bit-for-bit — see
    SQL_EWMA in fte/queries_extra.py).
    """
    import pandas as pd

    out_col = out_col or f"ewma_{value_col}"
    if n_buckets is None:
        spark = df.sparkSession
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        n_buckets = max(shuffle_parts, spark.sparkContext.defaultParallelism * 4)
    bucketed = df.withColumn(
        "_ewma_bkt", F.pmod(F.xxhash64(F.col(conv_col).cast("string")), F.lit(n_buckets))
    )
    fields = bucketed.schema.fields
    out_schema = T.StructType(list(fields) + [T.StructField(out_col, T.DoubleType(), True)])
    order = [conv_col, *order_cols]

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        vals = pdf[value_col].astype("float64")
        pdf[out_col] = vals.groupby(pdf[conv_col], sort=False).transform(
            lambda s: s.ewm(alpha=alpha, adjust=True).mean()
        )
        return pdf

    return (
        bucketed.groupBy("_ewma_bkt")
        .applyInPandas(ewma, schema=out_schema)
        .drop("_ewma_bkt")
    )


def with_time_bucket_counts(
    df: DataFrame,
    bucket: str = "1 hour",
    conv_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows (F.window): events per (conv,
    bucket)."""
    return (
        df.groupBy(conv_col, F.window(ts_col, bucket).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            conv_col,
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "n",
        )
    )


def dedup_turns(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str] = ("ts",),
) -> DataFrame:
    """Keep exactly one row per key (first by order_cols): late-data /
    replay dedup via row_number — one shuffle on the key."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
