"""TableIO — table-format seam (SURVEY.md §7-R1).

Design point: the transcripts table is Iceberg, hidden-partitioned by
``days(ts) × bucket(conv_id, N)`` with within-file sort order
``(conv_id, turn_idx)`` — at 10^12 turns that layout gives (a) ts-range
partition pruning for incremental/backfill jobs, (b) conv-bucket
pruning for anchor-driven as-of joins, (c) presorted files so the
conv_id window shuffle reads nearly-clustered input.

The Iceberg runtime jar is not available offline in this sandbox, so
the default backend is hive-style partitioned parquet with the SAME
layout (`ts_day=YYYY-MM-DD/conv_bucket=K/`) and dynamic partition
overwrite, which preserves both the pruning behavior and the
idempotent per-partition rewrite that checkpoint/resume relies on.
``IcebergIO`` activates when a catalog is configured
(`spark.sql.catalog.<name>` set and the jar on the classpath).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_BUCKETS = 8

PARTITION_COLS = ("ts_day", "conv_bucket")


def with_partition_cols(df: DataFrame, conv_col: str = "conv_id", ts_col: str = "ts",
                        n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Derive the physical partition columns: days(ts) × bucket(conv).

    conv_bucket uses a stable hash (xxhash64) so the same conversation
    always lands in the same bucket across runs and batches — required
    for idempotent overwrite and bucket-pruned as-of joins.
    """
    return df.withColumn("ts_day", F.date_format(F.col(ts_col), "yyyy-MM-dd")).withColumn(
        "conv_bucket", F.pmod(F.xxhash64(F.col(conv_col)), F.lit(n_buckets)).cast("int")
    )


@dataclass
class ParquetIO:
    """Hive-partitioned parquet backend (offline default)."""

    n_buckets: int = DEFAULT_BUCKETS

    def write(self, df: DataFrame, path: str, mode: str = "overwrite") -> None:
        """Partitioned write; with mode='overwrite' and the session's
        dynamic partitionOverwriteMode (fte.conf), only the partitions
        present in ``df`` are replaced — the idempotent-resume
        primitive."""
        out = df
        missing = [c for c in PARTITION_COLS if c not in df.columns]
        if missing:
            out = with_partition_cols(df, n_buckets=self.n_buckets)
        (
            out.repartition(*[F.col(c) for c in PARTITION_COLS])
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.partitionBy(*PARTITION_COLS)
            .mode(mode)
            .parquet(path)
        )

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    def overwrite_partitions(self, df: DataFrame, path: str) -> None:
        self.write(df, path, mode="overwrite")


@dataclass
class IcebergIO:
    """Iceberg backend: same logical layout via hidden partitioning.

    Requires the iceberg-spark-runtime jar and a configured catalog;
    unavailable offline in this sandbox (SURVEY.md §0), kept as the
    production path.
    """

    catalog: str = "local"
    n_buckets: int = DEFAULT_BUCKETS

    def create_table_ddl(self, table: str) -> str:
        return (
            f"CREATE TABLE IF NOT EXISTS {self.catalog}.{table} ("
            "conv_id STRING NOT NULL, turn_idx INT NOT NULL, role STRING NOT NULL, "
            "text STRING NOT NULL, tool STRING, ts TIMESTAMP NOT NULL) USING iceberg "
            f"PARTITIONED BY (days(ts), bucket({self.n_buckets}, conv_id))"
        )

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        writer = df.writeTo(f"{self.catalog}.{table}")
        if mode == "overwrite":
            writer.overwritePartitions()
        else:
            writer.append()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.format("iceberg").load(f"{self.catalog}.{table}")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...] = ("conv_id",),
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Persist as a BUCKETED table (Hive-style bucket metadata in the
    session catalog): both sides of a join bucketed by the same key
    and count sort-merge WITHOUT an Exchange — the co-located-join
    layout for repeated joins on conv_id (feature matrix ⋈ labels,
    anchors ⋈ turns) at 100 TB, where re-shuffling the fact table per
    job IS the job. Iceberg's bucket(conv_id, N) hidden partitioning
    (IcebergIO) carries the same property via storage-partitioned
    joins; this is the builtin-catalog twin that works offline.
    """
    (
        df.write.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def table_io(spark: SparkSession, prefer_iceberg: bool = True):
    """Pick the backend: Iceberg when a catalog is live, else parquet."""
    if prefer_iceberg:
        try:
            for k in spark.sparkContext.getConf().getAll():
                if k[0].startswith("spark.sql.catalog.") and "iceberg" in k[1].lower():
                    return IcebergIO(catalog=k[0].split(".", 3)[3])
        except Exception:  # noqa: BLE001
            pass
    return ParquetIO()
