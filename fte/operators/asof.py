"""Point-in-time (as-of) join — the engine's flagship operator.

Semantics (BASELINE.json:6,14): for each anchor row ``(conv_id, ts)``,
attach the latest transcript turn with the same ``conv_id`` and
``turn.ts <= anchor.ts`` (inclusive bound; ties on ts broken by the
highest ``turn_idx``). Anchors with no qualifying turn (unknown conv,
or ts before the first turn) keep NULL right-side columns — left-join
semantics, rows are never dropped.

Spark SQL has no native DataFrame as-of join, so we provide two
independent implementations that are cross-checked in tests:

1. ``asof_join_window`` (default, pure Catalyst): union anchors and
   turns into one stream per conv_id, sort by
   ``(ts, side, turn_idx)`` — turns sort BEFORE anchors at equal ts so
   the inclusive bound holds — and carry the last non-null packed turn
   struct forward with ``F.last(ignorenulls=True)`` over a
   running frame; then keep only anchor rows. One shuffle, one sort,
   whole plan stays in the JVM (WholeStageCodegen around the union and
   projections; WindowExec for the carry). This is the preferred path
   at 100 TB: no Python workers, spill-safe sort, AQE-managed
   partitioning.

2. ``asof_join_merge`` ("broadcast-pruned sort-merge", the
   spec-named strategy): (a) broadcast the per-conv anchor ts range to
   semi-join-prune the turns scan — at 10^12 turns the anchor set is
   typically orders of magnitude smaller, so pruning cuts the scan to
   the convs (and ts prefix) that can possibly match; (b) cogroup
   anchors × turns on conv_id and run Arrow-vectorized
   ``pandas.merge_asof`` per conversation. Python boundary, but
   partition-parallel and memory-bounded (one conv per group; the
   5000-turn whale is ~MBs).

The pandas single-node reference for parity is
``pd.merge_asof(..., by='conv_id', direction='backward',
allow_exact_matches=True)``; the SQL oracle is DuckDB ``ASOF JOIN``.

FeatureHub itself has no temporal join — features were row-aligned by
position on a frozen entity table [U: featurehub/evaluation/client.py];
the as-of join is what replaces that alignment with explicit
point-in-time correctness.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

DEFAULT_RIGHT_COLS = ("turn_idx", "role", "text", "tool", "ts")

# seq_col is the right-side column that breaks ts ties (highest wins):
# turn_idx for transcripts, event_id for the driver's events table.


def _out_schema(anchors: DataFrame, turns: DataFrame, right_cols: Sequence[str], prefix: str) -> T.StructType:
    fields = list(anchors.schema.fields)
    tfields = {f.name: f for f in turns.schema.fields}
    for c in right_cols:
        f = tfields[c]
        fields.append(T.StructField(prefix + c, f.dataType, nullable=True))
    return T.StructType(fields)


def asof_join_window(
    anchors: DataFrame,
    turns: DataFrame,
    by: str = "conv_id",
    ts_col: str = "ts",
    right_cols: Sequence[str] = DEFAULT_RIGHT_COLS,
    prefix: str = "r_",
    tolerance_seconds: int | None = None,
    seq_col: str = "turn_idx",
) -> DataFrame:
    """Pure-Catalyst as-of join via union + last-value carry-forward."""
    right_cols = list(right_cols)
    a_cols = anchors.columns

    # side flag orders turns before anchors at equal ts → inclusive bound
    t = turns.select(
        F.col(by),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(seq_col).cast("long").alias("_tidx"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_payload"),
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(f"_a_{c}") for c in a_cols if c != by],
    )
    a = anchors.select(
        F.col(by),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(2**63 - 1).cast("long").alias("_tidx"),
        F.lit(None).cast(t.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c).alias(f"_a_{c}") for c in a_cols if c != by],
    )
    unioned = t.unionByName(a)

    w = (
        Window.partitionBy(by)
        .orderBy("_ts", "_side", "_tidx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("_m", F.last("_payload", ignorenulls=True).over(w))

    matched = F.col("_m")
    if tolerance_seconds is not None:
        # microsecond-exact, matching pandas merge_asof's Timedelta
        # tolerance (inclusive bound)
        age_us = F.unix_micros(F.col("_ts").cast("timestamp")) - F.unix_micros(
            matched[ts_col].cast("timestamp")
        )
        matched = F.when(age_us <= int(tolerance_seconds) * 1_000_000, matched)

    out = carried.filter(F.col("_side") == 1).select(
        F.col(by),
        F.col("_ts").alias(ts_col),
        *[F.col(f"_a_{c}").alias(c) for c in a_cols if c not in (by, ts_col)],
        *[matched[c].alias(prefix + c) for c in right_cols],
    )
    return out.select(*a_cols, *[prefix + c for c in right_cols])


def asof_join_merge(
    anchors: DataFrame,
    turns: DataFrame,
    by: str = "conv_id",
    ts_col: str = "ts",
    right_cols: Sequence[str] = DEFAULT_RIGHT_COLS,
    prefix: str = "r_",
    tolerance_seconds: int | None = None,
    prune: bool = True,
    seq_col: str = "turn_idx",
    n_buckets: int | None = None,
) -> DataFrame:
    """Broadcast-pruned sort-merge as-of join (spec-named strategy).

    Prune: per-conv max anchor ts is broadcast and inner-joined into
    the turns scan, eliminating (i) convs with no anchors and (ii)
    turns after the last anchor — both can never match. The predicate
    lands below the cogroup shuffle, and the conv_id set participates
    in parquet row-group skipping where stats allow.

    Cogroup granularity is a HASH BUCKET of conversations, not a single
    conversation: at 10^12 turns a per-conv cogroup would mean billions
    of tiny Arrow round-trips (the JVM↔Python hop dominates), while a
    bucket-level group amortizes it and `pd.merge_asof(by=conv)` keeps
    per-conversation semantics inside the batch. ``n_buckets`` defaults
    to spark.sql.shuffle.partitions; size it so one bucket of anchors +
    pruned turns fits a Python worker (buckets ≈ input_rows × row_width
    / target_batch_bytes).
    """
    right_cols = list(right_cols)
    a_cols = anchors.columns
    if n_buckets is None:
        n_buckets = int(
            anchors.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )

    pruned = turns
    if prune:
        # rename the key on the broadcast side: anchors/turns often
        # derive from the same base relation (self-asof), which trips
        # Spark's ambiguous-self-join detection on shared column names
        ranges = (
            anchors.select(F.col(by).alias("_rng_key"), F.col(ts_col).alias("_rng_ts"))
            .groupBy("_rng_key")
            .agg(F.max("_rng_ts").alias("_max_ats"))
        )
        pruned = (
            turns.join(
                F.broadcast(ranges), F.col(by) == F.col("_rng_key"), "inner"
            )
            .filter(F.col(ts_col) <= F.col("_max_ats"))
            .drop("_rng_key", "_max_ats")
        )
    # shadow-rename the right side: in the common self-asof case both
    # inputs descend from the same relation and cogroup would trip the
    # ambiguous-self-join analyzer check on shared attribute names
    pruned = pruned.select(
        F.col(by).alias("_rkey"),
        *[F.col(c).alias(f"_rc_{c}") for c in right_cols if c != by],
    )

    schema = _out_schema(anchors.select(*a_cols), turns, right_cols, prefix)
    out_names = [f.name for f in schema.fields]
    r_ts = ts_col  # right-side ts column name inside the payload

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.drop(columns=["_bkt"], errors="ignore")
        if left.empty:
            return pd.DataFrame(columns=out_names)
        right = right.rename(
            columns={"_rkey": by, **{f"_rc_{c}": c for c in right_cols if c != by}}
        )
        # merge_asof requires global sort on the ON key; `by=` handles
        # the per-conversation matching inside the bucket
        sort_left = [ts_col, "anchor_id"] if "anchor_id" in left else [ts_col]
        left = left.sort_values(sort_left, kind="mergesort")
        if right.empty:
            res = left.copy()
            for c in right_cols:
                res[prefix + c] = None
            return res[out_names]
        # right sorted by (ts, seq_col): merge_asof takes the LAST
        # qualifying row in sort order → ts ties resolve to max seq_col
        right = right.sort_values([r_ts, seq_col], kind="mergesort")
        rren = right.rename(columns={c: prefix + c for c in right.columns if c != by})
        kw = {}
        if tolerance_seconds is not None:
            kw["tolerance"] = pd.Timedelta(seconds=tolerance_seconds)
        res = pd.merge_asof(
            left,
            rren,
            left_on=ts_col,
            right_on=prefix + r_ts,
            left_by=by,
            right_by=by,
            direction="backward",
            allow_exact_matches=True,
            **kw,
        )
        return res[out_names]

    bkt = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets)).cast("int")  # noqa: E731
    a_b = anchors.withColumn("_bkt", bkt(by))
    p_b = pruned.withColumn("_bkt2", bkt("_rkey"))
    cg = a_b.groupBy("_bkt").cogroup(p_b.groupBy("_bkt2"))
    return cg.applyInPandas(lambda l, r: merge(l, r), schema=schema)


def asof_join(
    anchors: DataFrame,
    turns: DataFrame,
    strategy: str = "window",
    **kw,
) -> DataFrame:
    """Dispatch: 'window' (pure-JVM default) or 'merge'
    (broadcast-pruned cogroup merge_asof)."""
    if strategy == "window":
        return asof_join_window(anchors, turns, **kw)
    if strategy == "merge":
        return asof_join_merge(anchors, turns, **kw)
    raise ValueError(f"unknown asof strategy: {strategy!r}")
