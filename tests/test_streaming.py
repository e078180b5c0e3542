"""Streaming sessionization agrees with the batch sessionizer on
session boundaries (availableNow drain → deterministic)."""

from __future__ import annotations

import pandas as pd

from fte.operators.sessionize import sessionize
from fte.schema import TRANSCRIPTS_SCHEMA
from fte.streaming import run_available_now, stream_transcripts, streaming_session_stats


def test_streaming_sessions_match_batch(spark, transcripts_pdf, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA).write.parquet(src)

    stream = stream_transcripts(spark, src)
    result = streaming_session_stats(stream, gap_seconds=1800)
    run_available_now(result, str(tmp_path / "ckpt"), "sess_stream")
    got = spark.table("sess_stream").toPandas()

    batch = (
        sessionize(spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA))
        .groupBy("conv_id", "session_id")
        .count()
        .toPandas()
    )
    # same number of sessions overall and per conversation
    assert len(got) == len(batch)
    a = got.groupby("conv_id").size().sort_index()
    b = batch.groupby("conv_id").size().sort_index()
    pd.testing.assert_series_equal(a, b, check_names=False)
    # per-session turn counts agree (session_window uses the same
    # gap>1800s split; compare count multisets per conv)
    ga = got.groupby("conv_id")["n_turns"].apply(lambda s: sorted(s))
    gb = batch.groupby("conv_id")["count"].apply(lambda s: sorted(s))
    assert ga.to_dict() == gb.to_dict()


def test_stateful_session_labels_match_batch(spark, transcripts_pdf, tmp_path):
    """applyInPandasWithState per-row labels == batch sessionize, with
    state carrying sessions across micro-batches (maxFilesPerTrigger=16
    over many files forces multiple triggers)."""
    from fte.streaming import streaming_session_labels

    src = str(tmp_path / "src2")
    (
        spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
        .repartition(40, "conv_id")  # many files → several micro-batches
        .write.parquet(src)
    )
    stream = stream_transcripts(spark, src)
    labeled = streaming_session_labels(stream)
    run_available_now(labeled, str(tmp_path / "ckpt2"), "sess_labels", mode="update")
    got = (
        spark.table("sess_labels").toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    batch = (
        sessionize(spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA))
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    assert (got["session_id"].to_numpy() == batch["session_id"].to_numpy()).all()


def test_streaming_ewma_matches_batch(spark, transcripts_pdf, tmp_path):
    """Stateful streaming EWMA == batch with_ewma (pandas ewm
    semantics) bit-for-bit, with recursion state crossing micro-batch
    boundaries (40 conv-partitioned files, 16/trigger)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fte.operators.windows import with_ewma
    from fte.streaming import streaming_ewma

    src = str(tmp_path / "src3")
    (
        spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
        .repartition(40, "conv_id")
        .write.parquet(src)
    )
    stream = stream_transcripts(spark, src)
    run_available_now(
        streaming_ewma(stream), str(tmp_path / "ckpt3"), "ewma_stream", mode="update"
    )
    got = (
        spark.table("ewma_stream").toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    batch_df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA).withColumn(
        "textlen", F.length("text").cast("double")
    )
    batch = (
        with_ewma(batch_df, "textlen")
        .select("conv_id", "turn_idx", "ewma_textlen")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    assert np.array_equal(got["ewma"].to_numpy(), batch["ewma_textlen"].to_numpy())


def test_streaming_dedup_matches_batch(spark, transcripts_pdf, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one row per text
    fingerprint (planted cross-conversation duplicates, several
    micro-batches), and the kept fingerprint SET equals the batch
    exact-dedup survivor set."""
    import pandas as pd

    from fte.operators.dedup import exact_dedup
    from fte.operators.text import with_fingerprint

    # plant duplicates: copy 25 turns' texts onto new ids, same day
    base = transcripts_pdf.copy()
    dups = base.head(25).copy()
    dups["conv_id"] = "dupconv_" + dups.index.astype(str)
    dups["turn_idx"] = 0
    planted = pd.concat([base, dups], ignore_index=True)

    src = str(tmp_path / "src_dedup")
    (
        spark.createDataFrame(planted, schema=TRANSCRIPTS_SCHEMA)
        .repartition(40, "conv_id")
        .write.parquet(src)
    )
    from fte.streaming import streaming_dedup

    stream = stream_transcripts(spark, src)
    out = streaming_dedup(stream, watermark="365 days")
    run_available_now(out, str(tmp_path / "ckpt_dedup"), "dedup_stream", mode="append")
    got = spark.table("dedup_stream").toPandas()

    pl = planted.reset_index(drop=True).reset_index().rename(columns={"index": "row_id"})
    batch_df = spark.createDataFrame(pl[["row_id", "conv_id", "text"]])
    batch = exact_dedup(batch_df, id_col="row_id", text_col="text").toPandas()
    batch_fps = set(
        with_fingerprint(spark.createDataFrame(planted, schema=TRANSCRIPTS_SCHEMA))
        .select("fingerprint").distinct().toPandas()["fingerprint"]
    )
    # exactly one survivor per distinct fingerprint, same set as batch
    assert got["fingerprint"].is_unique
    assert set(got["fingerprint"]) == batch_fps
    assert len(got) == len(batch)


def test_streaming_rolling_features_match_batch(spark, transcripts_pdf, tmp_path):
    """Stateful streaming rolling features == the batch currentRow-
    bounded window frames, with state carried across micro-batches
    (many files -> several triggers)."""
    from pyspark.sql import Window, functions as F

    from fte.streaming import streaming_rolling_features

    src = str(tmp_path / "src_roll")
    (
        spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
        .repartition(40, "conv_id")
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(src)
    )
    result = streaming_rolling_features(stream)
    run_available_now(result, str(tmp_path / "ckpt_roll"), "roll_stream", mode="update")
    got = (
        spark.table("roll_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = (
        spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
        .select(
            "conv_id", "turn_idx",
            F.count("*").over(w).alias("n_so_far"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).over(w).alias("n_user"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).over(w).alias("n_assistant"),
            F.avg(F.length("text").cast("double")).over(w).alias("len_mean"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    for col in ("n_so_far", "n_user", "n_assistant"):
        assert got[col].tolist() == batch[col].tolist(), col
    import numpy as np

    assert np.allclose(got["len_mean"], batch["len_mean"], rtol=1e-12)
    assert np.allclose(got["user_frac"], got["n_user"] / got["n_so_far"], rtol=1e-12)


def test_streaming_rolling_features_multichunk_group(spark, transcripts_pdf, tmp_path):
    """Regression: a group whose rows arrive as SEVERAL Arrow chunks
    within one trigger must be re-ordered as a whole — per-chunk
    sorting corrupted the running sums for conversations larger than
    arrow.maxRecordsPerBatch."""
    from pyspark.sql import Window, functions as F

    from fte.streaming import streaming_rolling_features

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        src = str(tmp_path / "src_chunk")
        (
            spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
            .orderBy(F.rand(5))  # scramble row order inside files
            .coalesce(1)
            .write.parquet(src)
        )
        stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src)
        result = streaming_rolling_features(stream)
        run_available_now(result, str(tmp_path / "ckpt_chunk"), "roll_chunk",
                          mode="update")
        got = (
            spark.table("roll_chunk").toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        w = (
            Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        batch = (
            spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
            .select("conv_id", "turn_idx", F.count("*").over(w).alias("n_so_far"))
            .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        assert got["n_so_far"].tolist() == batch["n_so_far"].tolist()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_streaming_target_encode_matches_batch(spark, transcripts_pdf, tmp_path):
    """Streaming per-role prior (count, mean of text length) == batch
    target_encode, INCLUDING state crossing restarts: the corpus is
    split at the median ts into two file batches drained by two
    sequential availableNow runs sharing one checkpoint — the second
    run resumes each role's (n, sum) state from the state store, the
    way an incremental serve-time encoder runs daily."""
    import numpy as np
    from pyspark.sql import functions as F

    from fte.operators.encoding import target_encode
    from fte.streaming import (
        run_available_now_to_parquet,
        stream_transcripts,
        streaming_target_encode,
    )

    pdf = transcripts_pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    cut = pdf["ts"].iloc[len(pdf) // 2]
    early, late = pdf[pdf["ts"] <= cut], pdf[pdf["ts"] > cut]
    assert len(early) and len(late)

    src = str(tmp_path / "te_src")
    ckpt = str(tmp_path / "te_ckpt")
    out = str(tmp_path / "te_out")
    for part in (early, late):
        (
            spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA)
            .coalesce(1)
            .write.mode("append").parquet(src)
        )
        run_available_now_to_parquet(
            streaming_target_encode(stream_transcripts(spark, src)), ckpt, out
        )
    got = (
        spark.read.parquet(out).toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf), "each turn emitted exactly once across runs"
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    # sink idempotence under batch REPLAY: rewriting a batch's own
    # partition dir (what recovery does after a crash between write
    # and checkpoint commit) must not duplicate rows
    import glob as _glob

    batch_dirs = sorted(_glob.glob(f"{out}/batch_id=*"))
    assert batch_dirs, "per-batch partition layout expected"
    replay_pdf = spark.read.parquet(batch_dirs[0]).toPandas()
    n_before = spark.read.parquet(out).count()
    spark.createDataFrame(replay_pdf).write.mode("overwrite").parquet(batch_dirs[0])
    assert spark.read.parquet(out).count() == n_before

    batch_df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA).withColumn(
        "textlen", F.length("text").cast("double")
    )
    batch = (
        target_encode(batch_df, "role", "textlen", ["ts", "conv_id", "turn_idx"])
        .select("conv_id", "turn_idx", "te_count", "te_mean")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert got["te_count"].tolist() == batch["te_count"].tolist()
    a, b = got["te_mean"].to_numpy(), batch["te_mean"].to_numpy()
    both_nan = np.isnan(a) & np.isnan(b)
    assert np.all(both_nan | np.isclose(a, b, rtol=1e-9, atol=1e-12))


def test_streaming_funnel_matches_batch(spark, transcripts_pdf, tmp_path):
    """Streaming per-conv funnel automaton == batch funnel_conversion,
    including state crossing a restart: corpus split at the median ts
    into two availableNow drains sharing one checkpoint; the second
    drain resumes each conversation's step state. The latest emitted
    row per conversation must carry exactly the batch operator's
    first-reach timestamps."""
    import pandas as pd

    from fte.operators.behavior import funnel_conversion
    from fte.streaming import (
        run_available_now_to_parquet,
        stream_transcripts,
        streaming_funnel,
    )

    steps = ("user", "assistant", "tool")
    pdf = transcripts_pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    cut = pdf["ts"].iloc[len(pdf) // 2]
    early, late = pdf[pdf["ts"] <= cut], pdf[pdf["ts"] > cut]
    assert len(early) and len(late)

    src = str(tmp_path / "fn_src")
    ckpt = str(tmp_path / "fn_ckpt")
    out = str(tmp_path / "fn_out")
    for part in (early, late):
        (
            spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA)
            .coalesce(1)
            .write.mode("append").parquet(src)
        )
        run_available_now_to_parquet(
            streaming_funnel(stream_transcripts(spark, src), steps=steps),
            ckpt, out,
        )
    got = spark.read.parquet(out).toPandas()
    # latest emitted row per conversation (highest batch_id)
    got = (
        got.sort_values("batch_id")
        .groupby("entity", as_index=False)
        .last()
    )

    # independent pandas reference for the per-entity first-reach times
    exp = {}
    us = pdf["ts"].astype("datetime64[us]").astype("int64")
    for conv, grp in pdf.assign(_us=us).groupby("conv_id"):
        grp = grp.sort_values(["_us", "turn_idx"], kind="mergesort")
        ss = [None] * len(steps)
        for _, r in grp.iterrows():
            for i in range(len(steps)):
                if ss[i] is not None:
                    continue
                prev_ok = i == 0 or (ss[i - 1] is not None and r["_us"] > ss[i - 1])
                if r["role"] == steps[i] and prev_ok:
                    ss[i] = int(r["_us"])
                break
        exp[conv] = ss
    assert set(got["entity"]) == set(exp)
    for _, row in got.iterrows():
        ss = exp[row["entity"]]
        for i in range(len(steps)):
            v = row[f"s{i}_us"]
            assert (pd.isna(v) and ss[i] is None) or int(v) == ss[i]

    # aggregate counts == batch funnel_conversion
    batch = {
        r["step_name"]: r["n_reached"]
        for r in funnel_conversion(
            spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA),
            steps=steps, entity_col="conv_id", type_col="role", ts_col="ts",
        ).collect()
    }
    for i, name in enumerate(steps):
        n_stream = int(got[f"s{i}_us"].notna().sum())
        assert n_stream == batch[name]
