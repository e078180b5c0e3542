"""fte/scan.py spread gates (r6): the helper must be scale-adaptive —
repartition only when a LOCAL scan would underfill the session's
parallelism — and must never change results."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def big_small(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("scan")
    big = str(base / "big.parquet")
    small = str(base / "small.parquet")
    # ~1 MB+ single-file parquet (incompressible string column — the
    # zstd codec would shrink a constant pad below the spread floor)
    spark.range(20000).select(
        F.col("id"),
        F.concat(
            *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(i))), 256)
              for i in range(4)]
        ).alias("s"),
    ).coalesce(1).write.mode("overwrite").parquet(big)
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(small)
    return big, small


def test_spread_fires_on_big_local_file(spark, big_small):
    from fte.scan import spread

    big, _ = big_small
    df = spark.read.parquet(big)
    out = spread(df, spark, big, "id")
    assert "REPARTITION_BY_NUM" in out._jdf.queryExecution().toString()
    # results identical (same rows, spread is partitioning-only)
    assert out.count() == 20000
    assert out.agg(F.sum("id")).head()[0] == df.agg(F.sum("id")).head()[0]


def test_spread_noop_below_min_bytes(spark, big_small):
    from fte.scan import spread

    _, small = big_small
    df = spark.read.parquet(small)
    out = spread(df, spark, small, "id")
    assert out is df


def test_spread_noop_on_unstatable_path(spark, big_small):
    from fte.scan import spread

    big, _ = big_small
    df = spark.read.parquet(big)
    out = spread(df, spark, "s3://no-such-bucket/table", "id")
    assert out is df


def test_spread_respects_min_bytes_override(spark, big_small):
    from fte.scan import spread

    big, _ = big_small
    df = spark.read.parquet(big)
    out = spread(df, spark, big, "id", min_bytes=1 << 30)
    assert out is df


@pytest.mark.parametrize("max_partition_bytes", ["4096", "4k"])
def test_spread_noop_when_scan_already_parallel(spark, big_small, max_partition_bytes):
    from fte.scan import spread

    big, _ = big_small
    df = spark.read.parquet(big)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny splits -> estimated scan tasks >= shuffle parallelism;
        # a byte string ("4k") must parse like the plain byte count
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        out = spread(df, spark, big, "id")
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
