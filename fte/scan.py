"""Scan-parallelism policy for catalog reads and engine inputs
(optimization guide §2.2/§2.4/§6).

The test data and the generated benchmark inputs (catalog tables and
transcripts) are one parquet file per table with a SINGLE row group.
Spark assigns split ownership per row group, so every scan of such a
table plans as ONE task: all scan-side compute — regex
scoring, explode+partial-aggregate token work, mapInArrow GEMMs, the
feature matrix's scalar extractors — runs on one core while the rest
idle. That, not the operators, dominated the round-5 driver bench at
its generated sf1.0 (e.g. pii_redact 7.9 s, lang_id 6.3 s: pure-map
regex queries with zero exchanges = zero parallelism).

``spread`` repartitions such a frame by a key column the downstream
aggregation/window already uses, so:

- the heavy per-row work runs on every core;
- the downstream groupBy/window on the same key REUSES the exchange
  (EnsureRequirements sees matching hash partitioning — net new
  exchanges for keyed queries: ZERO, the shuffle just moves below the
  heavy compute instead of above it).

It decides from the frame itself (``DataFrame.inputFiles()``), so the
same policy serves the catalog's table reads (``read_table``) and the
DataFrames the engine is handed (``fte.pipeline.build_matrix`` spreads
its transcripts by ``conv_id``; ``jobs/run_curation.py`` its documents).

Determinism: hash partitioning is deterministic, and with a SINGLE
upstream scan task each reduce partition receives its rows in scan
order, so even order-sensitive-in-the-last-ulp float partials are
stable. With several upstream tasks (1 < est_tasks < target: a
multi-file or multi-row-group input) the rows of a reduce partition
arrive in mapper-completion order, which varies run to run; a float
aggregate downstream can then move in the last ulp (the catalog's
oracle discipline makes its sums decimal/integer). The window features
are safe in either case: every frame orders by the total order
``(ts, turn_idx)`` within a ``conv_id`` partition, so arrival order
never reaches a result.

Scale-awareness (no local[32]-only constants): the repartition fires
only when the estimated scan-task count is BELOW the session's shuffle
parallelism — a real cluster scan of many files / row groups is left
untouched, and files we cannot stat locally (object stores, HDFS) or
in-memory frames are left untouched. Both the trigger threshold and
the target partition count derive from session confs, not literals.
``FTE_NO_SPREAD`` (any non-empty value) disables every spread, for
same-window A/Bs.
"""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

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


def _file_bytes(uri: str) -> int | None:
    """Bytes of one leaf file of ``DataFrame.inputFiles()`` (a ``file:``
    URI or a bare path); None for any other scheme or an unstatable
    file (an object-store or HDFS scan is split by its source's own
    listing)."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    try:
        return os.path.getsize(unquote(parsed.path) if parsed.scheme else uri)
    except OSError:
        return None


def _shuffle_parallelism(spark: SparkSession) -> int:
    try:
        return max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    except Exception:
        return max(spark.sparkContext.defaultParallelism, 1)


def spread(df: DataFrame, *keys: str, min_bytes: int | None = None) -> DataFrame:
    """Hash-repartition ``df`` by ``keys`` when the scan of its leaf
    files would underfill the session's parallelism; identity otherwise.

    The estimate is ``max(files, ceil(bytes / maxPartitionBytes))``
    scan tasks over ``df.inputFiles()``; an in-memory frame (no files)
    or one with a file that is not local is returned unchanged.

    ``min_bytes`` (default ``MIN_SPREAD_BYTES``) is the break-even
    input volume below which the exchange costs more than the
    parallelism buys. The default suits pure-map compute (regex
    scoring: wins from ~0.5 MB of text up); aggregate-bound token
    pipelines (multi-exchange explode+groupBy chains) amortize the
    extra stage only above ~2 MB — their call sites raise it (r6
    same-window A/B at sf0.1 vs the x10 replica).
    """
    if os.environ.get("FTE_NO_SPREAD"):  # measurement A/B kill-switch
        return df
    files = df.inputFiles()
    sizes = [_file_bytes(f) for f in files]
    if not sizes or None in sizes:
        return df
    n_bytes = sum(sizes)
    if n_bytes < (MIN_SPREAD_BYTES if min_bytes is None else min_bytes):
        return df
    spark = df.sparkSession
    target = _shuffle_parallelism(spark)
    max_pb = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    est_tasks = max(len(files), math.ceil(n_bytes / max_pb))
    if est_tasks >= target:
        return df
    return df.repartition(target, *keys)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread_scan: bool = True,
    min_bytes: int | None = None,
) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet``, spread by the table's entity
    key (``TABLE_KEYS``) when the scan would underfill the session.

    This is the catalog's one scan reader. Below ``min_bytes`` (default
    ``MIN_SPREAD_BYTES``) and on cluster scans it is a plain read.
    ``spread_scan=False`` opts out for queries whose scan-side compute
    is trivial (metadata-only columns, brute dot products): for those
    the added exchange is pure tax (r6 same-window A/B, see
    OPTIMIZATION_r06.md). Tables with no registered key (broadcast-side
    dimensions) are never spread.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    keys = TABLE_KEYS.get(name)
    if not (spread_scan and keys):
        return df
    return spread(df, *keys, min_bytes=min_bytes)
