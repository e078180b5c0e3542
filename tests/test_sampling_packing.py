"""Deterministic sampling/splitting and sequence packing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fte.operators.packing import pack_documents
from fte.operators.sampling import with_split


def _docs(spark, n=2000):
    return spark.range(n).selectExpr(
        "id AS doc_id", "concat('w', repeat(' w', CAST(id % 300 AS INT))) AS text"
    )


def test_split_fractions_and_stability(spark):
    d = _docs(spark)
    got = with_split(d, "doc_id").select("doc_id", "split").toPandas()
    frac = got["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.9) < 0.03
    assert abs(frac.get("val", 0) - 0.05) < 0.02
    assert abs(frac.get("test", 0) - 0.05) < 0.02
    # key-stable: identical assignment regardless of partitioning
    again = with_split(d.repartition(13), "doc_id").select("doc_id", "split").toPandas()
    m = got.merge(again, on="doc_id")
    assert (m["split_x"] == m["split_y"]).all()


def test_split_fractions_must_sum_to_one(spark):
    """Fractions that do not sum to 1 raise ValueError (not an assert,
    which ``python -O`` strips)."""
    with pytest.raises(ValueError, match="sum to 1"):
        with_split(_docs(spark, 10), "doc_id", splits=(("train", 0.8), ("test", 0.1)))


def test_pack_documents_invariants(spark):
    from pyspark.sql import functions as F

    d = _docs(spark, 1000).withColumn(
        "n_tok", F.size(F.split("text", " ")).cast("long")
    )
    cap = 512
    got = pack_documents(d, "n_tok", capacity=cap, n_shards=8).toPandas()
    assert len(got) == 1000 and got["doc_id"].is_unique
    toks = d.select("doc_id", "n_tok").toPandas().set_index("doc_id")["n_tok"]
    # bin totals never exceed capacity unless the bin is one oversize doc
    per_bin = got.assign(t=got["doc_id"].map(toks)).groupby(["shard", "bin_idx"])
    for (_, _), grp in per_bin:
        total = grp["t"].sum()
        assert total <= cap or len(grp) == 1, f"overfull multi-doc bin: {total}"
    # bins are contiguous 0..max per shard
    for _, grp in got.groupby("shard"):
        bins = np.sort(grp["bin_idx"].unique())
        assert (bins == np.arange(len(bins))).all()
    # deterministic under repartition
    again = pack_documents(d.repartition(5), "n_tok", capacity=cap, n_shards=8).toPandas()
    m = got.merge(again, on="doc_id", suffixes=("_a", "_b"))
    assert (m["shard_a"] == m["shard_b"]).all()
    assert (m["bin_idx_a"] == m["bin_idx_b"]).all()


def test_sample_sources_monotone_and_stable(spark):
    """Raising a source's weight only ADDS documents; assignment is
    independent of partitioning; unknown sources honor default."""
    import pandas as pd

    from fte.operators.sampling import sample_sources

    pdf = pd.DataFrame({
        "doc_id": range(400),
        "source": ["a", "b", "c", "d"] * 100,
        "text": "x",
    })
    df = spark.createDataFrame(pdf)

    def kept(weights, default=1.0, data=None):
        return set(
            r["doc_id"]
            for r in sample_sources(
                data if data is not None else df, weights, default_weight=default
            ).collect()
        )

    lo = kept({"a": 0.2, "b": 0.5})
    hi = kept({"a": 0.6, "b": 0.9})
    assert lo < hi  # strict subset: monotone in weights
    # unknown sources: default 1.0 keeps all c/d; default 0.0 drops them
    assert {i for i in lo if i % 4 >= 2} == {i for i in range(400) if i % 4 >= 2}
    assert all(i % 4 < 2 for i in kept({"a": 0.2, "b": 0.5}, default=0.0))
    # partitioning-independent
    assert kept({"a": 0.2, "b": 0.5}, data=df.repartition(13)) == lo
    # empirical rate in the right ballpark (100 keys per source)
    n_a = sum(1 for i in lo if i % 4 == 0)
    assert 8 <= n_a <= 35  # 20% of 100 ± binomial noise


def test_deterministic_shuffle_is_stable_permutation(spark):
    """shuffle_pos is a dense 0..n-1 permutation, equals the pandas
    md5-order reference, and is invariant to input partitioning and
    operator partition count."""
    import hashlib

    from fte.operators.sampling import deterministic_shuffle

    n = 500
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n)}), "doc_id long"
    )

    def u(k: int) -> float:
        h = hashlib.md5(f"{k}#42".encode()).hexdigest()
        return int(h[:8], 16) / 2**32

    expect = {
        k: pos
        for pos, k in enumerate(sorted(range(n), key=lambda k: (u(k), k)))
    }
    a = (
        deterministic_shuffle(df, "doc_id", seed=42, n_partitions=4)
        .toPandas().set_index("doc_id")["shuffle_pos"].to_dict()
    )
    b = (
        deterministic_shuffle(df.repartition(13), "doc_id", seed=42, n_partitions=7)
        .toPandas().set_index("doc_id")["shuffle_pos"].to_dict()
    )
    assert a == expect
    assert b == expect
    assert sorted(a.values()) == list(range(n))
