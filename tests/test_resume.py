"""Kill-and-resume property (SURVEY.md §5.2-3d; BASELINE.json:6,14):
kill after k partitions, rerun, output must equal the single-shot run,
and the rerun must process only the remaining partitions."""

from __future__ import annotations

import pandas as pd
import pytest

from fte.checkpoint import CheckpointLog, run_resumable
from fte.io import with_partition_cols
from fte.operators.sessionize import sessionize
from fte.schema import TRANSCRIPTS_SCHEMA

KEY = ["conv_id", "turn_idx"]


def _process(df):
    return sessionize(df)


@pytest.fixture()
def parts_df(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
    return with_partition_cols(df)


def _read_sorted(spark, path):
    pdf = spark.read.parquet(path).toPandas()
    drop = [c for c in ("ts_day", "conv_bucket") if c in pdf.columns]
    return (
        pdf.drop(columns=drop)
        .sort_values(KEY, kind="mergesort")
        .reset_index(drop=True)
        [["conv_id", "turn_idx", "session_id"]]
    )


def test_kill_and_resume_equals_single_shot(spark, parts_df, tmp_path):
    single = tmp_path / "single"
    meta1 = tmp_path / "meta1"
    run_resumable(spark, parts_df, "conv_bucket", _process, str(single), str(meta1))

    resumed = tmp_path / "resumed"
    meta2 = tmp_path / "meta2"
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(
            spark, parts_df, "conv_bucket", _process, str(resumed), str(meta2),
            fail_after=3,
        )
    log = CheckpointLog(str(meta2))
    assert len(log.done_partitions()) == 3

    # resume: only the remaining partitions run
    results = run_resumable(
        spark, parts_df, "conv_bucket", _process, str(resumed), str(meta2)
    )
    n_total = parts_df.select("conv_bucket").distinct().count()
    assert len(results) == n_total - 3

    a = _read_sorted(spark, str(single))
    b = _read_sorted(spark, str(resumed))
    pd.testing.assert_frame_equal(a, b)


def test_rerun_is_noop(spark, parts_df, tmp_path):
    out = tmp_path / "out"
    meta = tmp_path / "meta"
    run_resumable(spark, parts_df, "conv_bucket", _process, str(out), str(meta))
    again = run_resumable(spark, parts_df, "conv_bucket", _process, str(out), str(meta))
    assert again == []


def test_manifest_metrics(spark, parts_df, tmp_path):
    out = tmp_path / "out"
    meta = tmp_path / "meta"
    results = run_resumable(
        spark, parts_df, "conv_bucket", _process, str(out), str(meta),
        lineage={"features": "abc123"},
    )
    log = CheckpointLog(str(meta))
    rows = log.metrics()
    assert len(rows) == len(results)
    assert all(r["row_count"] > 0 for r in rows)
    assert all(r["lineage"] == {"features": "abc123"} for r in rows)
    # row counts across partitions sum to the input size
    assert sum(r["row_count"] for r in rows) == parts_df.count()


def test_half_written_manifest_ignored(tmp_path):
    log = CheckpointLog(str(tmp_path / "meta"))
    (log.dir / "part_corrupt.json").write_text('{"partition": "x", trunc')
    assert log.done_partitions() == set()
