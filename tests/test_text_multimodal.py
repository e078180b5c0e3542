"""Text-analysis operators."""

from __future__ import annotations

import pandas as pd
import pytest

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
