"""Session facade: the FeatureHub user workflow end-to-end —
sample → write a feature → evaluate → submit → discover → matrix."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from fte.session import Session


@pytest.fixture()
def session(spark, transcripts_df, tmp_path):
    return Session(spark, transcripts_df, user="alice", meta_dir=str(tmp_path / "meta"))


def _my_feature(df):
    """turn text length, log-scaled."""
    return df.withColumn("log_textlen", F.log1p(F.length("text")))


def test_workflow(session, tmp_path):
    sample = session.get_sample_dataset(50)
    assert sample["transcripts"].count() <= 50

    res = session.evaluate(_my_feature, outputs=("log_textlen",))
    assert res["ok"] and res["new_columns"] == ["log_textlen"]
    assert float(res["stats"]["log_textlen"]["count"]) > 0

    spec = session.submit(_my_feature, "log text length", outputs=("log_textlen",))
    assert spec.author == "alice" and len(spec.code_hash) == 16

    meta = json.loads((Path(session.meta_dir) / "feature__my_feature.json").read_text())
    assert meta["code_hash"] == spec.code_hash
    assert "log1p" in meta["source"]

    assert any(s.name == "_my_feature" for s in session.discover("log1p"))
    assert [s.name for s in session.my_features()] == ["_my_feature"]

    mat = session.feature_matrix()
    assert "log_textlen" in mat.columns
    assert mat.count() == session.dataset["transcripts"].count()
    # the numeric feature columns, packed in order
    assert mat.filter(F.col("feature_vector") != F.array("log_textlen")).count() == 0


def test_evaluate_rejects_row_count_change(session):
    def bad(df):
        return df.filter("turn_idx > 0")

    with pytest.raises(AssertionError, match="row count"):
        session.evaluate(bad)


def test_evaluate_rejects_dropped_keys(session):
    def bad(df):
        return df.drop("turn_idx").withColumn("x", F.lit(1))

    with pytest.raises(AssertionError, match="key columns"):
        session.evaluate(bad)


def test_dataset_hash_stable(session):
    assert session.dataset_hash() == session.dataset_hash()
