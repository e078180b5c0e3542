"""fte/scan.py spread gates (r6): the helper must be scale-adaptive —
repartition only when a LOCAL scan would underfill the session's
parallelism — and must never change results. It decides from the
frame's own leaf files, so in-memory frames, non-local files, inputs
already split into enough files and ``FTE_NO_SPREAD`` runs are left
as they are."""

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
    out = spread(df, "id")
    assert "REPARTITION_BY_NUM" in out._jdf.queryExecution().toString()
    # results identical (same rows, spread is partitioning-only)
    assert out.count() == 20000
    assert out.agg(F.sum("id")).head()[0] == df.agg(F.sum("id")).head()[0]


def test_spread_noop_below_min_bytes(spark, big_small):
    from fte.scan import spread

    _, small = big_small
    df = spark.read.parquet(small)
    out = spread(df, "id")
    assert out is df


def test_spread_noop_on_unstatable_path(spark, big_small):
    from fte.scan import _file_bytes, spread

    assert _file_bytes("s3://no-such-bucket/table/part-0.parquet") is None
    assert _file_bytes("file:///no/such/file.parquet") is None
    big, _ = big_small
    df = spark.read.parquet(big)
    # one leaf file on an object store: the whole frame is left as is
    files = [*df.inputFiles(), "s3://no-such-bucket/table/part-0.parquet"]
    df.inputFiles = lambda: files
    out = spread(df, "id")
    assert out is df


def test_spread_respects_min_bytes_override(spark, big_small):
    from fte.scan import spread

    big, _ = big_small
    df = spark.read.parquet(big)
    out = spread(df, "id", min_bytes=1 << 30)
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
        out = spread(df, "id")
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_noop_on_in_memory_frame(spark):
    from fte.scan import spread

    df = spark.range(20000).selectExpr("id", "sha2(cast(id AS string), 256) AS s")
    assert df.inputFiles() == []
    assert spread(df, "id", min_bytes=0) is df


def test_spread_noop_when_files_fill_the_session(spark, big_small, tmp_path):
    from fte.scan import spread

    big, _ = big_small
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    path = str(tmp_path / "many")
    spark.read.parquet(big).repartition(n).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= n
    assert spread(df, "id") is df


def test_spread_noop_under_kill_switch(spark, big_small, monkeypatch):
    from fte.scan import spread

    monkeypatch.setenv("FTE_NO_SPREAD", "1")
    big, _ = big_small
    df = spark.read.parquet(big)
    assert spread(df, "id") is df


def test_spread_fires_on_partitioned_directory(spark, big_small, tmp_path):
    """A hive-partitioned directory is sized by its leaf files, not by
    the (empty) top level of the table directory."""
    from fte.scan import spread

    big, _ = big_small
    path = str(tmp_path / "parted")
    spark.read.parquet(big).withColumn("p", F.col("id") % 2).coalesce(1).write.partitionBy(
        "p").parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 2
    out = spread(df, "id")
    assert "REPARTITION_BY_NUM" in out._jdf.queryExecution().toString()
    assert out.count() == 20000
