"""Incremental aggregate maintenance: mergeable per-key statistics so
a daily-ingest pipeline updates its rollups from the NEW batch only —
the corpus is never rescanned (the aggregate twin of
fte/operators/dedup.py's incremental_dedup / incremental_neardup).

The state row per key is the classic mergeable summary
(n, Σ decimal, min, max): counts/min/max merge exactly by
construction, and the sum is accumulated in DECIMAL so merge order
cannot change it — therefore ``merge_stats`` over any partitioning of
the data is BIT-IDENTICAL to a full recompute, and the catalog row
proves exactly that against a full-data SQL oracle.

Scale shape: building state over a batch is one map-side-combined
hash aggregate on the key; merging is a union of two key-keyed frames
followed by the same aggregate (state frames are |keys| rows — tiny
next to the corpus). Persist the state as a parquet/Iceberg table
partitioned by key-hash bucket and the daily job touches only
|keys| + |batch| rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

_SUM_DEC = "decimal(38,6)"


def stats_state(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Mergeable per-key summary of a batch: (keys…, n, s DECIMAL(38,6),
    mn, mx). NULL values reduce n (and never poison s — sum skips
    NULLs); an all-NULL key keeps n=0 with NULL s/mn/mx."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).cast("long").alias("n"),
        F.sum(v.cast(_SUM_DEC)).alias("s"),
        F.min(v.cast("double")).alias("mn"),
        F.max(v.cast("double")).alias("mx"),
    )


def merge_stats(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two state frames (associative + commutative + exact):
    n adds, s adds in DECIMAL, min/max fold. The output schema equals
    the input schema, so merges chain across any number of ingests."""
    keys = [c for c in state.columns if c not in ("n", "s", "mn", "mx")]
    both = state.unionByName(delta)
    return both.groupBy(*keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast(_SUM_DEC).alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


def finalize_stats(state: DataFrame) -> DataFrame:
    """Derive serving columns from the mergeable state: sum as double
    and mean = s/n on bit-identical operands (the repo oracle
    pattern). Keys with n=0 (all-NULL batches) yield NULL sum/mean."""
    keys = [c for c in state.columns if c not in ("n", "s", "mn", "mx")]
    return state.select(
        *keys,
        "n",
        F.col("s").cast("double").alias("sum"),
        "mn",
        "mx",
        F.when(F.col("n") > 0, F.col("s").cast("double") / F.col("n").cast("double")).alias("mean"),
    )
