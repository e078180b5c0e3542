"""Physical-plan regression tests: the scale-critical properties that
a correctness-only suite can't see (SURVEY.md §4). A refactor that
keeps results identical but adds a shuffle or drags `text` through a
window pass would pass every parity test and still be 10x slower at
100 TB — these assertions catch that."""

from __future__ import annotations

import re

import pytest

from fte.features import build_default_registry
from fte.operators.asof import asof_join_window
from fte.operators.sessionize import sessionize
from fte.pipeline import build_matrix


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_matrix_single_shuffle(spark, transcripts_df):
    reg = build_default_registry()
    mat = build_matrix(transcripts_df, reg, serve=True)
    plan = _plan(mat)
    assert _n_exchanges(plan) == 1, "feature matrix must shuffle once on conv_id"
    # window-node budget: one per distinct (frame-dependency, order) —
    # session lag+cumsum, rows-frame bundle, time-range frame, lags
    n_windows = len(re.findall(r"\bWindow\b", plan))
    assert n_windows <= 8, f"window pass count regressed: {n_windows}"


def _n_window_fns(plan: str) -> int:
    return plan.count("windowspecdefinition")


def _exchange_input(plan: str) -> list[str]:
    """Top-level entries of the projection directly under the one
    hashpartitioning Exchange."""
    lines = plan.splitlines()
    (i,) = [k for k, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    body = lines[i + 1].split("Project [", 1)[1].rsplit("]", 1)[0]
    out, depth, cur = [], 0, ""
    for ch in body:
        depth += (ch == "(") - (ch == ")")
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return out + [cur.strip()]


def test_matrix_shuffles_one_copy_of_textlen(spark, transcripts_df):
    """f_prev_turn lags textlen itself: no second copy of the text
    length crosses the conv_id Exchange."""
    mat = build_matrix(transcripts_df, build_default_registry(), serve=True)
    entries = _exchange_input(_plan(mat))
    copies = [
        e for e in entries
        if re.fullmatch(r"(textlen#\d+|length\(text#\d+\))( AS \w+#\d+)?", e)
    ]
    assert len(copies) == 1, copies
    assert not any(re.match(r"text#", e) for e in entries), "text must not be shuffled"


def test_role_freq_window_function_counts(spark, transcripts_df, tmp_path):
    """Counts first, ratios over them: one count plus one sum per role,
    for the library operator and the catalog query alike."""
    from fte.operators.windows import with_rolling_role_freq
    from fte.queries import EVENT_TYPES, q_role_freq_running

    assert _n_window_fns(_plan(with_rolling_role_freq(transcripts_df))) == 5
    spark.range(40).selectExpr(
        "id AS event_id", "id % 3 AS user_id",
        f"element_at(array{tuple(EVENT_TYPES)}, cast(id % 5 + 1 AS int)) AS event_type",
        "timestamp('2025-01-01') + make_interval(0, 0, 0, 0, 0, id, 0) AS ts",
    ).write.parquet(str(tmp_path / "events.parquet"))
    plan = _plan(q_role_freq_running(spark, str(tmp_path)))
    assert _n_window_fns(plan) == len(EVENT_TYPES) + 1


def test_asof_window_single_shuffle(spark, anchors_df, transcripts_df):
    out = asof_join_window(anchors_df, transcripts_df)
    plan = _plan(out)
    assert _n_exchanges(plan) == 1, "window as-of join must shuffle once"


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    transcripts = sessionize(
        spark.range(100).selectExpr(
            "cast(id as string) conv_id", "cast(id as int) turn_idx",
            "'user' role", "'x' text", "cast(null as string) tool",
            "timestamp('2025-01-01 00:00:00') + make_interval(0,0,0,0,0,0,id) ts",
        )
    )
    transcripts.write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter("role = 'user'").select("conv_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan


def test_column_pruning_drops_text(spark, tmp_path):
    """A feature that doesn't read text must not scan it (text is the
    fat column — SURVEY.md §4 'crucial')."""
    p = str(tmp_path / "t2.parquet")
    spark.createDataFrame(
        [("c", 0, "user", "big text", None, "2025-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool", "timestamp(ts_s) ts").write.mode(
        "overwrite"
    ).parquet(p)
    df = sessionize(spark.read.parquet(p)).select("conv_id", "turn_idx", "session_id")
    m = re.search(r"ReadSchema: ([^\n]*)", _plan(df))
    assert m and "text" not in m.group(1)


def test_broadcast_in_pruned_merge_asof(spark, anchors_df, transcripts_df):
    from fte.operators.asof import asof_join_merge

    plan = _plan(asof_join_merge(anchors_df, transcripts_df))
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower()


def test_pipeline_operator_plan_shapes(spark, transcripts_df):
    """Scale-critical plan properties of the round-2 pipeline ops:
    chunking and shingling are pure scan passes (ZERO exchanges),
    training-pair extraction shuffles exactly once (the conv window),
    decontamination matches grams via a BROADCAST semi-join (the
    corpus never shuffles on the gram key)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fte.operators.dedup import contaminated_ids, shingle_rows
    from fte.operators.pairs import make_training_pairs
    from fte.operators.text import chunk_documents

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "text": ["alpha beta gamma delta"] * 10})
    )

    plan = _plan(chunk_documents(docs, chunk_words=3, stride=2))
    assert _n_exchanges(plan) == 0, "chunking must not shuffle"

    plan = _plan(shingle_rows(docs, k=3, distinct=False))
    assert _n_exchanges(plan) == 0, "shingling must not shuffle"

    plan = _plan(make_training_pairs(transcripts_df))
    assert _n_exchanges(plan) == 1, "pair extraction = one conv_id shuffle"

    bench = docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    plan = _plan(contaminated_ids(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, (
        "bench grams must broadcast; corpus must not shuffle on gram key"
    )


def test_segment_dedup_plan_shape(spark):
    """Segment dedup must do keep-first WITHOUT any window operator
    (ownership is a hash aggregate over 8-byte keys with map-side
    combine): no Window node, and the ownership exchange partitions on
    the LONG segment hash, never a string segment column."""
    import pandas as pd

    from fte.operators.dedup import segment_dedup

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": ["a b c d e f g h"] * 20}),
        "doc_id long, text string",
    )
    plan = _plan(segment_dedup(df, seg_words=4, hashed=True))
    assert "Window" not in plan, plan
    assert re.search(r"Exchange hashpartitioning\(segment#\d+L", plan), plan


def test_winnow_plan_single_window(spark):
    """Winnowing takes its grams from the shared scan-side generator:
    the only Window operator is the trailing MIN, and no ``lead``
    window builds grams."""
    import pandas as pd

    from fte.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": ["a b c d e f g h"] * 20}),
        "doc_id long, text string",
    )
    plan = _plan(winnow_fingerprints(df, k=3, window=4))
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan
    assert "lead(" not in plan, plan


def test_deterministic_shuffle_window_is_partitioned(spark):
    """Global positions must come from a partition-parallel window
    (partitionBy _pid), never an unpartitioned global window."""
    import pandas as pd

    from fte.operators.sampling import deterministic_shuffle

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50)}), "doc_id long"
    )
    plan = _plan(deterministic_shuffle(df, "doc_id", n_partitions=4))
    m = re.search(r"windowspecdefinition\(([^,]+),", plan)
    assert m, plan
    assert m.group(1).startswith("_pid"), f"window not partitioned by _pid: {m.group(1)}"


def test_encoding_operator_plan_shapes(spark, transcripts_df):
    """Scale shapes of the round-4 encoding family: target_encode is
    ONE hash Exchange (the category key) feeding a window;
    feature_hash_rows is ONE hash Exchange (the (id,bucket)
    aggregate); quantile_bin's data path has NO hash Exchange — the
    boundary row arrives by broadcast."""
    import pandas as pd

    from pyspark.sql import functions as F

    from fte.operators.encoding import (
        feature_hash_rows,
        quantile_bin,
        target_encode,
    )

    df = transcripts_df.withColumn("textlen", F.length("text").cast("double"))
    te = target_encode(df, "role", "textlen", ["ts", "conv_id", "turn_idx"])
    assert _n_exchanges(_plan(te)) == 1

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": ["a b c d e"] * 20})
    )
    fh = feature_hash_rows(docs, k=8)
    assert _n_exchanges(_plan(fh)) == 1

    qb = quantile_bin(df, "textlen", n_bins=4)
    plan = _plan(qb)
    assert _n_exchanges(plan) == 0, "bin assignment must not shuffle the data"
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def _n_scans(plan: str) -> int:
    # a cached relation prints InMemoryTableScan AND its materialized
    # child's LocalTableScan — count the outer node only in that case
    n_mem = plan.count("InMemoryTableScan")
    if n_mem:
        return n_mem
    return sum(
        plan.count(tok)
        for tok in ("FileScan", "Scan ExistingRDD", "LocalTableScan")
    )


def test_r5_operator_plan_shapes(spark, transcripts_df):
    """Scale-shape gates for the round-5 operators: single scans, the
    inline-pivot fan-outs (no per-branch re-aggregation), funnel's
    one-Exchange chained-window form, count_encode's broadcast."""
    from pyspark.sql import functions as F

    from fte.operators.behavior import funnel_conversion
    from fte.operators.encoding import count_encode
    from fte.operators.profile import column_profile
    from fte.operators.selection import pairwise_corr

    # funnel: exactly one corpus Exchange (entity window), one scan —
    # the aggregate+join formulation measured 19 Exchanges for k=3
    fun = funnel_conversion(
        transcripts_df, steps=("user", "assistant", "tool"),
        entity_col="conv_id", type_col="role", ts_col="ts",
    )
    plan = _plan(fun)
    assert _n_exchanges(plan) == 1, plan
    assert _n_scans(plan) == 1

    # pairwise_corr: ZERO hash exchanges (one partial+final aggregate
    # pair over a single row), one scan for all pairs
    feats = transcripts_df.select(
        F.length("text").cast("long").alias("a"),
        F.col("turn_idx").cast("long").alias("b"),
    )
    corr = pairwise_corr(feats, ["a", "b"], decimal_scale=0)
    plan = _plan(corr)
    assert _n_exchanges(plan) == 0, plan
    assert _n_scans(plan) == 1

    # column_profile: one scan feeds every column's stats
    prof = column_profile(
        transcripts_df, numeric_cols=("turn_idx",), string_cols=("role", "text")
    )
    plan = _plan(prof)
    assert _n_scans(plan) == 1

    # count_encode: per-category aggregate comes BACK as a broadcast —
    # the corpus itself must not shuffle on the category key
    ce = count_encode(transcripts_df, "role")
    plan = _plan(ce)
    assert "BroadcastHashJoin" in plan
    corpus_shuffles = len(re.findall(r"Exchange hashpartitioning\(role", plan))
    # the only role-keyed Exchange allowed is under the tiny aggregate
    assert corpus_shuffles <= 1, plan
