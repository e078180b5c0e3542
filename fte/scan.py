"""Scan-parallelism helper (optimization guide §2.2/§2.4/§6).

The sandbox testdata (and the driver's generated benchmark data) is one
parquet file per table with a SINGLE row group. Spark assigns split
ownership per row group, so every scan of such a table plans as ONE
task: all scan-side compute — regex scoring, explode+partial-aggregate
token work, mapInArrow GEMMs — runs on one core of local[32] while 31
idle. That, not the operators, dominated the round-5 driver bench at
its generated sf1.0 (e.g. pii_redact 7.9 s, lang_id 6.3 s: pure-map
regex queries with zero exchanges = zero parallelism).

``spread`` repartitions such a scan by a deterministic key column the
downstream aggregation/window already uses, so:

- the heavy per-row work runs on every core;
- the downstream groupBy/window on the same key REUSES the exchange
  (EnsureRequirements sees matching hash partitioning — net new
  exchanges for keyed queries: ZERO, the shuffle just moves below the
  heavy compute instead of above it);
- results are bit-identical: hash partitioning is deterministic, and
  with a single upstream scan task each reduce partition receives its
  rows in scan order, so even order-sensitive-in-the-last-ulp float
  partials are stable (the catalog's oracle discipline makes sums
  decimal/integer anyway).

Scale-awareness (the round rule: no local[32]-only constants): the
repartition fires only when the estimated scan-task count is BELOW the
session's shuffle parallelism — a real cluster scan of many files /
row groups is left untouched, and paths we cannot stat locally (object
stores) are left untouched. Both the trigger threshold and the target
partition count derive from session confs, not literals.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

# below this input size the per-task scheduling overhead of a 32-way
# exchange outweighs the parallelism (tiny dimension tables, and the
# sf0.001/sf0.01 oracle-gate corpora — the correctness gates see
# byte-identical plans)
MIN_SPREAD_BYTES = 256 << 10

# deterministic spread keys: the entity key each table's queries
# group/window/join on, so the spread exchange is the SAME exchange
# the query needed anyway. Dimension tables (customer/part/supplier/
# nation/region) are deliberately absent: they are broadcast sides,
# and an exchange below a BroadcastExchange is pure overhead.
TABLE_KEYS: dict[str, tuple[str, ...]] = {
    "events": ("user_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
}


def _local_size_bytes(path: str) -> int | None:
    """Total bytes of a local file/dir; None when not stat-able (e.g.
    an object-store URI on a cluster — those scans are already split
    by the source's own listing)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(
                e.stat().st_size for e in os.scandir(path) if e.is_file()
            )
    except OSError:
        return None
    return None


def _shuffle_parallelism(spark: SparkSession) -> int:
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    except Exception:
        return max(spark.sparkContext.defaultParallelism, 1)


def spread(
    df: DataFrame, spark: SparkSession, path: str, *keys: str,
    min_bytes: int = MIN_SPREAD_BYTES,
) -> DataFrame:
    """Hash-repartition ``df`` by ``keys`` when its source scan would
    underfill the session's parallelism; identity otherwise.

    ``min_bytes`` is the break-even input volume below which the
    exchange costs more than the parallelism buys. The default suits
    pure-map compute (regex scoring: wins from ~0.5 MB of text up);
    aggregate-bound token pipelines (multi-exchange explode+groupBy
    chains) amortize the extra stage only above ~2 MB — their call
    sites raise it (r6 same-window A/B at sf0.1 vs the x10 replica).
    """
    if os.environ.get("FTE_NO_SPREAD"):  # measurement A/B kill-switch
        return df
    n_bytes = _local_size_bytes(path)
    if n_bytes is None or n_bytes < min_bytes:
        return df
    target = _shuffle_parallelism(spark)
    max_pb = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    est_tasks = max(1, math.ceil(n_bytes / max_pb))
    if est_tasks >= target:
        return df
    return df.repartition(target, *keys)


_spread = spread  # read_table's ``spread`` flag shadows the function


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True,
    min_bytes: int | None = None,
) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet``, spread by the table's entity
    key (``TABLE_KEYS``) when the scan would underfill the session.

    This is the catalog's one scan reader. Below ``min_bytes`` (default
    ``MIN_SPREAD_BYTES``) and on cluster scans it is a plain read.
    ``spread=False`` opts out for queries whose scan-side compute is
    trivial (metadata-only columns, brute dot products): for those the
    added exchange is pure tax (r6 same-window A/B, see
    OPTIMIZATION_r06.md). Tables with no registered key (broadcast-side
    dimensions) are never spread.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    keys = TABLE_KEYS.get(name)
    if not (spread and keys):
        return df
    return _spread(df, spark, path, *keys, min_bytes=min_bytes or MIN_SPREAD_BYTES)
