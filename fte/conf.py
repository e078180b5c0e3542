"""SparkSession construction with scale-aware defaults.

Design point is a 1000-executor cluster reading ~100 TB of transcript
parquet/Iceberg; the sandbox proxy is local[N]. Every setting below is
chosen for the big cluster and merely *sized* for local mode:

- AQE on (runtime partition coalescing + skew-join splitting): long
  conversations are hot keys, AQE splits the skewed sort-merge
  partitions without manual intervention.
- Arrow on, batch-capped: transcript `text` rows are fat (up to 20 kB);
  unbounded Arrow batches would balloon Python-worker memory.
- UTC session timezone: parity with the DuckDB oracle and with the
  pandas reference (FIXTURES.md, BASELINE.md R5).
- shuffle partitions default to the core count locally; on a real
  cluster this should be ~2-3x total cores (set via spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Iceberg is the design-point table format (hidden partitioning by
# days(ts) x bucket(conv_id)); the runtime jar is not available offline
# in this sandbox, so TableIO (fte.io) falls back to hive-partitioned
# parquet with dynamic partition overwrite, which preserves the same
# layout and idempotent-overwrite semantics.
DEFAULT_CONFS: dict[str, str] = {
    # local mode: driver heap IS the executor heap; the 1g default
    # OOMs 32 concurrent window/sort buffers over fat text rows, while
    # an oversized heap (48g) with the default Parallel GC measured
    # 10-30x slowdowns from full-GC pauses. 16g + G1 is the sweet
    # spot for local[32]. Applied at builder time (before JVM launch);
    # under spark-submit pass --driver-memory explicitly instead.
    "spark.driver.memory": "16g",
    "spark.driver.extraJavaOptions": "-XX:+UseG1GC",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Joins: sort-merge preference deliberately KEPT at default (r6
    # measured preferSortMergeJoin=false + AQE SMJ→SHJ rewrite: the
    # lineitem⨝orders join gained only ~0.2 s while the LSH band
    # self-joins — duplicate-heavy keys, byte-small partitions that
    # always pass the local-map threshold — lost 4-6 s to hash-map
    # builds over giant buckets; see OPTIMIZATION_r06.md).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fat text rows: cap Arrow batch size so pandas-UDF workers stay
    # within memory at 20kB/row x batch
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # idempotent per-partition re-writes for checkpoint/resume
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # parquet scans: 128MB splits is the right granularity for both
    # local[32] and a 1000-executor cluster
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.shuffle.partitions": str(max(os.cpu_count() or 8, 8)),
}


def get_spark(
    app_name: str = "fte",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults.

    Under spark-submit leave ``master`` None and let the submitter's
    ``--master`` decide — the confs still apply.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
