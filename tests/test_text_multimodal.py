"""Text-analysis + multimodal plumbing operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fte.operators.multimodal import (
    frame_sample_plan,
    image_features,
    synth_assets_pdf,
    ASSET_SCHEMA,
)
from fte.operators.text import (
    bpe_ish_token_count,
    token_count,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
)


@pytest.fixture(scope="module")
def texts_df(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "the cat sat on the mat and it is a good day for you",
                "der Hund ist nicht zu Hause und ich habe ein Problem mit der Katze",
                "le chat est dans la maison et les enfants sont pour une promenade",
                "el perro es un animal que vive con los humanos por las casas",
                "xyzzy qwerty plugh",  # no stopwords → und
                "Hello, world! 42 tokens?",
            ],
        }
    )
    return spark.createDataFrame(pdf, "doc_id long, text string")


def test_lang_id(spark, texts_df):
    got = with_lang_id(texts_df).toPandas().set_index("doc_id")["lang_pred"]
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "es"
    assert got[4] == "und"


def test_token_counts(spark, texts_df):
    got = texts_df.select(
        "doc_id",
        token_count("text").alias("ws"),
        bpe_ish_token_count("text").alias("bpe"),
    ).toPandas().set_index("doc_id")
    assert got.loc[5, "ws"] == 4          # whitespace: Hello, world! 42 tokens?
    assert got.loc[5, "bpe"] == 7         # hello , world ! 42 tokens ?
    # empty-ish safety
    empty = spark.createDataFrame(pd.DataFrame({"text": ["", "   "]}), "text string")
    vals = empty.select(token_count("text").alias("n")).toPandas()["n"].tolist()
    assert vals == [0, 0]


def test_quality_score_bounds(spark, texts_df):
    got = with_quality_score(texts_df).toPandas()
    assert ((got["quality_score"] >= 0) & (got["quality_score"] <= 1)).all()
    # natural English sentence scores above keyboard mash
    s = got.set_index("doc_id")["quality_score"]
    assert s[0] > s[4]


def test_fingerprint_normalization(spark):
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["Hello  World", "hello world", "hello worlds"]}
    )
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    fp = with_fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_image_features_plumbing(spark):
    assets = spark.createDataFrame(synth_assets_pdf(30), schema=ASSET_SCHEMA)
    got = image_features(assets, feature_dim=8, fake_decode=True).toPandas()
    assert len(got) == 30
    assert (got["n_bytes"] > 0).all()
    assert got["byte_entropy"].between(0, 8).all()
    assert got["feature"].map(len).eq(8).all()
    # determinism across partitioning
    got2 = image_features(
        spark.createDataFrame(synth_assets_pdf(30), schema=ASSET_SCHEMA).repartition(7),
        feature_dim=8,
        fake_decode=True,
    ).toPandas()
    a = got.sort_values("asset_id").reset_index(drop=True)
    b = got2.sort_values("asset_id").reset_index(drop=True)
    assert (a["byte_entropy"] == b["byte_entropy"]).all()


def test_image_decode_strict_raises(spark):
    assets = spark.createDataFrame(synth_assets_pdf(3), schema=ASSET_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        image_features(assets, fake_decode=False).collect()


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(synth_assets_pdf(30), schema=ASSET_SCHEMA)
    plan = frame_sample_plan(assets, every_ms=1000).toPandas()
    vids = synth_assets_pdf(30)
    vids = vids[vids.modality == "video"]
    assert set(plan["asset_id"]) == set(vids["asset_id"])
    one = plan[plan.asset_id == vids["asset_id"].iloc[0]]
    assert (one["ts_ms"] == one["frame_idx"] * 1000).all()


def test_winnow_guarantee(spark):
    """Winnowing theorem: two docs sharing a run of >= k+window-1
    (= 6) words share at least one selected fingerprint; docs with no
    common k-gram share none."""
    from fte.operators.text import winnow_fingerprints

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = [
        (0, "xx yy " + base + " zz"),
        (1, base + " completely different ending words here"),
        (2, "unrelated text with no overlap at all whatsoever in any words"),
        (3, "tiny doc"),  # < k words -> whole-text fallback fingerprint
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=3, window=4).toPandas()
    by = {i: set(fps[fps.doc_id == i]["fp"]) for i in range(4)}
    assert by[0] & by[1], "shared 10-word run must share a fingerprint"
    assert not (by[0] & by[2])
    assert len(by[3]) == 1


def _winnow_ref(text: str, k: int, window: int) -> set[str]:
    """Pure-Python winnowing: md5 of each word k-gram (one whole-text
    gram when the doc is shorter than k), the min of every full window
    of ``window`` consecutive grams, or of all grams when there are
    fewer than ``window``."""
    import hashlib

    ws = " ".join(text.strip().lower().split()).split(" ")
    grams = [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)] or [" ".join(ws)]
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    if len(hs) < window:
        return {min(hs)}
    return {min(hs[i - window + 1:i + 1]) for i in range(window - 1, len(hs))}


def test_winnow_matches_python_reference(spark):
    """Docs shorter than k, with fewer grams than ``window``, and long
    docs with repeats all select exactly the reference fingerprints."""
    from fte.operators.text import winnow_fingerprints

    texts = [
        "solo",
        "two  Words",
        "a b c",
        "a b c d e",
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "x y x y x y x y x y x y",
        "  The quick\tbrown fox jumps over the lazy dog the quick brown fox  ",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for k, window in ((3, 4), (2, 3), (4, 2)):
        fps = winnow_fingerprints(df, k=k, window=window).toPandas()
        assert len(fps) == len(fps.drop_duplicates())
        for i, t in enumerate(texts):
            got = set(fps[fps.doc_id == i]["fp"])
            assert got == _winnow_ref(t, k, window), (i, k, window)


def test_audio_window_plan(spark):
    from fte.operators.multimodal import ASSET_SCHEMA, audio_window_plan, synth_assets_pdf

    assets = spark.createDataFrame(synth_assets_pdf(30), schema=ASSET_SCHEMA)
    plan = audio_window_plan(assets, window_ms=1000, hop_ms=500).toPandas()
    src = synth_assets_pdf(30)
    audio = src[src["modality"] == "audio"]
    assert set(plan["asset_id"]) == set(audio["asset_id"])
    for aid, g in plan.groupby("asset_id"):
        dur = int(audio.set_index("asset_id").loc[aid, "duration_ms"])
        g = g.sort_values("window_idx")
        # hop spacing, window bound, full coverage, monotone ids
        assert g["window_idx"].tolist() == list(range(len(g)))
        assert (g["start_ms"] == g["window_idx"] * 500).all()
        assert (g["end_ms"] <= dur).all()
        assert ((g["end_ms"] - g["start_ms"]) <= 1000).all()
        assert g["start_ms"].iloc[-1] < dur <= g["start_ms"].iloc[-1] + 500 + 1


def test_modality_summary_applyinarrow_matches_jvm(spark):
    import pyspark.sql.functions as F

    from fte.operators.multimodal import (
        ASSET_SCHEMA,
        modality_summary_arrow,
        synth_assets_pdf,
    )

    assets = spark.createDataFrame(synth_assets_pdf(60), schema=ASSET_SCHEMA)
    got = (
        modality_summary_arrow(assets).orderBy("modality").toPandas()
    )
    ref = (
        assets.groupBy("modality")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.sum(F.length("data")).cast("long").alias("total_bytes"),
        )
        .withColumn("mean_bytes", F.col("total_bytes") / F.col("n_assets"))
        .orderBy("modality")
        .toPandas()
    )
    assert got["modality"].tolist() == ref["modality"].tolist()
    assert got["n_assets"].tolist() == ref["n_assets"].tolist()
    assert got["total_bytes"].tolist() == ref["total_bytes"].tolist()
    assert got["mean_bytes"].tolist() == ref["mean_bytes"].tolist()
