"""Registry + feature-matrix pipeline (FeatureHub capability layer)."""

from __future__ import annotations

import pytest

from fte.checkpoint import content_checksum
from fte.features import build_default_registry
from fte.pipeline import build_matrix
from fte.registry import FeatureRegistry


def test_matrix_builds_and_preserves_grain(spark, transcripts_df):
    reg = build_default_registry()
    mat = build_matrix(transcripts_df, reg, serve=False)
    assert mat.count() == transcripts_df.count()
    assert {"conv_id", "turn_idx", "ts"} <= set(mat.columns)


def test_serve_refuses_leaky(spark, transcripts_df):
    reg = build_default_registry()
    # explicit request for a leaky feature at serve time → hard error
    with pytest.raises(ValueError, match="leaky"):
        build_matrix(transcripts_df, reg, features=["f_next_role"], serve=True)
    # default set silently excludes leaky extractors at serve time
    cols = build_matrix(transcripts_df, reg, serve=True).columns
    assert "lead_role_1" not in cols


def test_serve_subset_ok(spark, transcripts_df):
    reg = build_default_registry()
    names = [n for n, s in reg.features.items() if not s.leaky]
    mat = build_matrix(transcripts_df, reg, features=names, serve=True)
    assert mat.count() == transcripts_df.count()


def test_feature_order_does_not_drop_columns(spark, transcripts_df):
    """f_next_role after f_prev_turn keeps f_prev_turn's lag_role_1:
    a builder only adds its own columns."""
    reg = build_default_registry()
    fwd = build_matrix(transcripts_df, reg, features=["f_prev_turn", "f_next_role"])
    rev = build_matrix(transcripts_df, reg, features=["f_next_role", "f_prev_turn"])
    assert fwd.count() == transcripts_df.count()
    assert fwd.filter("lag_role_1 IS NOT NULL AND lead_role_1 IS NOT NULL").count() > 0
    assert content_checksum(fwd) == content_checksum(rev.select(*fwd.columns))


def test_registry_discover_and_hash():
    reg = build_default_registry()
    hits = reg.discover("session")
    assert any(s.name == "f_session" for s in hits)
    assert all(len(s.code_hash) == 16 for s in reg.features.values())
    # re-registering identical code is idempotent
    spec = reg.get("f_session")
    reg.register(spec.builder, name="f_session", outputs=spec.outputs)


def test_registry_conflict_detection():
    reg = FeatureRegistry()

    def f(df):
        return df

    reg.register(f, name="x")

    def g(df):
        return df.select("*")

    with pytest.raises(ValueError, match="different code"):
        reg.register(g, name="x")


def test_validate_row_count(spark, transcripts_df):
    reg = build_default_registry()
    out = reg.validate(reg.get("f_rolling_counts"), transcripts_df)
    assert "turns_so_far" in out.columns


def test_dataset_checksum_stable(spark, transcripts_df):
    a = content_checksum(transcripts_df)
    b = content_checksum(transcripts_df.repartition(7))
    assert a == b  # order-insensitive


def test_metadata_df(spark):
    reg = build_default_registry()
    md = reg.to_metadata_df(spark).toPandas()
    assert len(md) == len(reg.features)
    assert bool(md.loc[md.name == "f_next_role", "leaky"].iloc[0]) is True


def test_leakage_lint_library():
    from fte.registry import lint_leakage

    reg = build_default_registry()
    for spec in reg.features.values():
        hits = lint_leakage(spec)
        assert not hits, f"{spec.name} not flagged leaky but uses {hits}"


def test_leakage_lint_catches_lead():
    from fte.registry import FeatureRegistry, lint_leakage

    reg = FeatureRegistry()

    def sneaky(df):
        from pyspark.sql import Window, functions as F
        w = Window.partitionBy("conv_id").orderBy("ts")
        return df.withColumn("nxt", F.lead("role", 1).over(w))

    spec = reg.register(sneaky, outputs=("nxt",))
    assert lint_leakage(spec)
