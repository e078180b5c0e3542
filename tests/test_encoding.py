"""Encoding operators: leakage-safe target encoding vs a pandas
expanding-mean restatement; quantile binning vs direct boundary
comparison; approx/exact agreement."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _events_pdf(n=400, seed=5):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 10**6, n)), unit="s"),
            "cat": rng.choice(["a", "b", "c"], n),
            "value": np.round(rng.uniform(0, 100, n), 2),
        }
    )


def test_target_encode_matches_pandas_expanding(spark):
    from fte.operators.encoding import target_encode

    pdf = _events_pdf()
    df = spark.createDataFrame(pdf)
    got = (
        target_encode(df, "cat", "value", ["ts", "event_id"],
                      smoothing=10.0, prior=0.5)
        .select("event_id", "te_count", "te_mean", "te_smooth")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    ref = pdf.sort_values(["ts", "event_id"], kind="mergesort").copy()
    g = ref.groupby("cat", sort=False)["value"]
    ref["te_count"] = g.transform(lambda s: s.expanding().count().shift(1)).fillna(0)
    ref["te_mean"] = g.transform(lambda s: s.expanding().mean().shift(1))
    ref["te_smooth"] = (
        (ref["te_count"] * ref["te_mean"]).fillna(0) + 10.0 * 0.5
    ) / (ref["te_count"] + 10.0)
    ref = ref.sort_values("event_id").reset_index(drop=True)
    assert got["te_count"].tolist() == ref["te_count"].astype("int64").tolist()
    np.testing.assert_allclose(
        got["te_mean"].to_numpy(), ref["te_mean"].to_numpy(), rtol=1e-9, atol=1e-12
    )
    np.testing.assert_allclose(
        got["te_smooth"].to_numpy(), ref["te_smooth"].to_numpy(), rtol=1e-9
    )
    # leakage: first row of each category must have zero prior evidence
    firsts = (
        pdf.sort_values(["ts", "event_id"]).groupby("cat")["event_id"].first().tolist()
    )
    by_id = got.set_index("event_id")
    for fid in firsts:
        assert by_id.loc[fid, "te_count"] == 0
        assert np.isnan(by_id.loc[fid, "te_mean"])
        assert by_id.loc[fid, "te_smooth"] == 0.5


def test_quantile_bin_exact(spark):
    from fte.operators.encoding import quantile_bin

    pdf = _events_pdf(300, seed=9)
    pdf["ivalue"] = (pdf["value"] * 10).astype("int64")
    df = spark.createDataFrame(pdf)
    got = (
        quantile_bin(df, "ivalue", n_bins=4, exact=True)
        .select("event_id", "bin")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    qs = pdf["ivalue"].quantile([0.25, 0.5, 0.75], interpolation="linear").to_numpy()
    expect = (pdf["ivalue"].to_numpy()[:, None] > qs[None, :]).sum(axis=1)
    assert got["bin"].tolist() == expect.tolist()
    # equal-frequency-ish: each of the 4 bins holds ~25%
    counts = got["bin"].value_counts()
    assert set(counts.index) == {0, 1, 2, 3}
    assert counts.min() >= 0.15 * len(pdf)


def test_quantile_bin_approx_agrees(spark):
    """approx_percentile (the scale default) lands >=95% of rows in
    the same bin as exact boundaries at default accuracy."""
    from fte.operators.encoding import quantile_bin

    pdf = _events_pdf(1000, seed=11)
    df = spark.createDataFrame(pdf)
    exact = (
        quantile_bin(df, "value", n_bins=4, exact=True)
        .select("event_id", "bin").toPandas().set_index("event_id")["bin"]
    )
    approx = (
        quantile_bin(df, "value", n_bins=4, exact=False)
        .select("event_id", "bin").toPandas().set_index("event_id")["bin"]
    )
    agree = (exact.sort_index() == approx.sort_index()).mean()
    assert agree >= 0.95


def test_feature_hash_rows_sparse_and_stable(spark):
    from fte.operators.encoding import feature_hash_rows

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the quick brown fox the quick",
                "  Mixed CASE   whitespace\ttabs  ",
                "",
            ],
        }
    )
    df = spark.createDataFrame(pdf, "doc_id long, text string")
    sparse = feature_hash_rows(df, k=16).toPandas()
    assert sparse["bucket"].between(0, 15).all()
    # empty doc: no tokens -> no sparse rows
    assert set(sparse.doc_id) == {0, 1}
    # repeated token accumulates: |weight| over doc 0 sums to 6 tokens
    assert sparse[sparse.doc_id == 0]["weight"].abs().sum() <= 6
    # determinism across partitionings
    again = feature_hash_rows(df.repartition(7), k=16).toPandas()
    a = sparse.sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_with_fold_grouped_and_stable(spark):
    from fte.operators.sampling import with_fold

    pdf = pd.DataFrame({"doc_id": np.arange(500, dtype=np.int64)})
    df = spark.createDataFrame(pdf)
    a = with_fold(df, "doc_id", n_folds=5).toPandas().sort_values("doc_id")
    b = with_fold(df.repartition(9), "doc_id", n_folds=5).toPandas().sort_values("doc_id")
    assert a["fold"].tolist() == b["fold"].tolist(), "key-stable across partitionings"
    assert set(a["fold"]) == {0, 1, 2, 3, 4}
    # roughly balanced (md5 uniformity): each fold within 3 sigma
    counts = a["fold"].value_counts()
    assert counts.min() > 60 and counts.max() < 140
    # grouped: duplicate keys get identical folds
    dup = spark.createDataFrame(pd.DataFrame({"doc_id": [7] * 10}))
    f = with_fold(dup, "doc_id").toPandas()["fold"].nunique()
    assert f == 1


def test_temporal_split_embargo_boundaries(spark):
    from fte.operators.sampling import temporal_split

    ts = pd.to_datetime(
        ["2024-01-14 23:59:59", "2024-01-15 00:00:00", "2024-01-15 12:00:00",
         "2024-01-15 23:59:59", "2024-01-16 00:00:00", "2024-01-17 00:00:00"]
    )
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(6), "ts": ts}), "i long, ts timestamp_ntz"
    )
    got = (
        temporal_split(df, "ts", "2024-01-16 00:00:00", embargo_seconds=86400)
        .toPandas().sort_values("i")["tsplit"].tolist()
    )
    assert got == ["train", "embargo", "embargo", "embargo", "test", "test"]


def test_standardize_matches_numpy(spark):
    from fte.operators.encoding import standardize

    rng = np.random.default_rng(13)
    vals = rng.integers(10, 1000, 300).astype(np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(300, dtype=np.int64), "n": vals})
    )
    got = (
        standardize(df, ["n"]).select("doc_id", "n_z")
        .toPandas().sort_values("doc_id")["n_z"].to_numpy()
    )
    expect = (vals - vals.mean()) / vals.std(ddof=1)
    np.testing.assert_allclose(got, expect, rtol=1e-9)
    # constant column -> NULL z on every row
    cdf = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1], "n": [5, 5]}))
    z = standardize(cdf, ["n"]).toPandas()["n_z"]
    assert z.isna().all()


def test_psi_report_matches_direct(spark):
    from fte.operators.encoding import psi_report

    rng = np.random.default_rng(21)
    ref_v = rng.integers(0, 500, 400).astype(np.int64)
    cur_v = rng.integers(100, 700, 300).astype(np.int64)  # shifted dist
    ref = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(400), "v": ref_v}))
    cur = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(300), "v": cur_v}))
    got = psi_report(ref, cur, "v", n_bins=10, exact=True).toPandas().sort_values("bin")

    qs = np.quantile(ref_v, np.arange(1, 10) / 10, method="linear")
    rbin = (ref_v[:, None] > qs[None, :]).sum(axis=1)
    cbin = (cur_v[:, None] > qs[None, :]).sum(axis=1)
    eps = 1e-6
    for _, row in got.iterrows():
        b = row["bin"]
        n_ref, n_cur = (rbin == b).sum(), (cbin == b).sum()
        assert row["n_ref"] == n_ref and row["n_cur"] == n_cur
        p = max(n_cur / len(cur_v), eps)
        q = max(n_ref / len(ref_v), eps)
        assert abs(row["psi_term"] - round((p - q) * np.log(p / q), 6)) < 2e-6
    # shifted distribution must read as drifted
    assert got["psi_term"].sum() > 0.1


def test_oof_target_encode_matches_pandas(spark):
    """OOF encoding equals the direct pandas restatement (per-category
    mean over rows of OTHER folds), and a category living entirely in
    one fold yields NULL (no out-of-fold evidence)."""
    from fte.operators.encoding import oof_target_encode

    rng = np.random.default_rng(17)
    n = 300
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n, dtype=np.int64),
            "cat": rng.choice(["a", "b", "c"], n),
            "fold": rng.integers(0, 4, n),
            "y": np.round(rng.uniform(0, 10, n), 2),
        }
    )
    # planted: category 'solo' exists only in fold 0
    pdf.loc[:4, ["cat", "fold"]] = ["solo", 0]
    df = spark.createDataFrame(pdf)
    got = (
        oof_target_encode(df, "cat", "y", "fold")
        .select("rid", "oof_count", "oof_mean")
        .toPandas().sort_values("rid").reset_index(drop=True)
    )

    def direct(row):
        others = pdf[(pdf["cat"] == row["cat"]) & (pdf["fold"] != row["fold"])]["y"]
        return pd.Series({"c": len(others), "m": others.mean() if len(others) else np.nan})

    ref = pdf.apply(direct, axis=1)
    assert got["oof_count"].tolist() == ref["c"].astype("int64").tolist()
    a, b = got["oof_mean"].to_numpy(), ref["m"].to_numpy()
    nan_both = np.isnan(a) & np.isnan(b)
    assert np.all(nan_both | np.isclose(a, b, rtol=1e-9))
    assert got.loc[pdf["cat"] == "solo", "oof_mean"].isna().all()


def test_oof_target_encode_subtracts_exactly(spark):
    """The out-of-fold complement is subtracted in DECIMAL and rounded
    to double once: rounding each sum first loses a small target next
    to a 1e15 one (0.125 for the 0.2 below)."""
    from decimal import Decimal

    from fte.operators.encoding import oof_target_encode

    ys = [0.2, 1e15 + 0.1]
    df = spark.createDataFrame(
        [(i, "a", i, y) for i, y in enumerate(ys)], "rid long, cat string, fold long, y double"
    )
    got = oof_target_encode(df, "cat", "y", "fold").toPandas().set_index("rid")
    for i in range(len(ys)):
        rest = [Decimal(repr(y)) for j, y in enumerate(ys) if j != i]
        assert got.loc[i, "oof_mean"] == float(sum(rest)) / len(rest)
    assert got.loc[1, "oof_mean"] == 0.2


def test_temporal_split_timezone_independent(spark):
    """The cutoff literal must compare in the ts column's own (NTZ)
    type: under a non-UTC session timezone a session-zoned literal
    would shift the boundary by the TZ offset."""
    from fte.operators.sampling import temporal_split

    ts = pd.to_datetime(["2024-01-15 20:00:00", "2024-01-16 04:00:00"])
    df = spark.createDataFrame(
        pd.DataFrame({"i": [0, 1], "ts": ts}), "i long, ts timestamp_ntz"
    )
    expect = ["embargo", "test"]
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Los_Angeles", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = (
                temporal_split(df, "ts", "2024-01-16 00:00:00", embargo_seconds=86400)
                .toPandas().sort_values("i")["tsplit"].tolist()
            )
            assert got == expect, f"tz={tz}: {got}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_standardize_overflow_refuses_not_biases(spark):
    """A value whose square overflows DECIMAL(38,12) must yield NULL z
    for the whole column (honest refusal), never a silently biased
    mean/std computed from the castable subset."""
    from fte.operators.encoding import standardize

    pdf = pd.DataFrame({"doc_id": [0, 1, 2, 3], "v": [1.0, 2.0, 3.0, 1.7e15]})
    z = standardize(spark.createDataFrame(pdf), ["v"]).toPandas()["v_z"]
    assert z.isna().all()
    # sane column in the same call still standardizes
    pdf2 = pd.DataFrame({"doc_id": [0, 1, 2], "v": [1.0, 2.0, 3.0]})
    z2 = standardize(spark.createDataFrame(pdf2), ["v"]).toPandas()["v_z"]
    assert not z2.isna().any()


def test_quantile_bin_null_value_gets_null_bin(spark):
    from fte.operators.encoding import quantile_bin

    pdf = pd.DataFrame({"i": [0, 1, 2, 3], "v": [1.0, 2.0, None, 4.0]})
    got = (
        quantile_bin(spark.createDataFrame(pdf), "v", n_bins=2, exact=True)
        .toPandas().set_index("i")["bin"]
    )
    assert pd.isna(got.loc[2])
    assert not pd.isna(got.loc[0]) and not pd.isna(got.loc[3])


def test_psi_null_rate_drift_has_own_bin(spark):
    """A missing-rate change between snapshots must surface as bin −1
    drift, not pollute bin 0."""
    from fte.operators.encoding import psi_report

    ref = spark.createDataFrame(
        pd.DataFrame({"i": range(100), "v": [float(x) for x in range(100)]})
    )
    cur_vals = [float(x) for x in range(50)] + [None] * 50
    cur = spark.createDataFrame(pd.DataFrame({"i": range(100), "v": cur_vals}))
    got = psi_report(ref, cur, "v", n_bins=4, exact=True).toPandas().set_index("bin")
    assert -1 in got.index
    assert got.loc[-1, "n_ref"] == 0 and got.loc[-1, "n_cur"] == 50
    assert got.loc[-1, "psi_term"] > 0.5  # big missing-rate drift term


def test_weighted_sample_properties(spark):
    """E-S weighted sampling: deterministic across partitionings,
    plans as TakeOrderedAndProject, and inclusion tracks weight (the
    heavy half dominates a small sample)."""
    from fte.operators.sampling import weighted_sample

    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(1000, dtype=np.int64),
            # ids < 500 light (w=1), ids >= 500 heavy (w=50)
            "w": np.where(np.arange(1000) < 500, 1.0, 50.0),
        }
    )
    df = spark.createDataFrame(pdf)
    a = weighted_sample(df, "doc_id", "w", n=100).toPandas()
    b = weighted_sample(df.repartition(13), "doc_id", "w", n=100).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    assert len(a) == 100
    heavy = (a["doc_id"] >= 500).mean()
    assert heavy > 0.8, f"heavy items must dominate, got {heavy}"
    plan = weighted_sample(df, "doc_id", "w", n=100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # weight <= 0 rows never selected
    pdf.loc[0, "w"] = 0.0
    z = weighted_sample(spark.createDataFrame(pdf), "doc_id", "w", n=1000).toPandas()
    assert 0 not in set(z["doc_id"])


def test_sample_per_group_exact_counts(spark):
    from fte.operators.sampling import sample_per_group

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(40, dtype=np.int64),
            "src": ["a"] * 20 + ["b"] * 17 + ["c"] * 3,
        }
    )
    df = spark.createDataFrame(pdf)
    got = sample_per_group(df, "doc_id", "src", n_per_group=5).toPandas()
    counts = got["src"].value_counts().to_dict()
    assert counts == {"a": 5, "b": 5, "c": 3}  # small group keeps all
    again = sample_per_group(df.repartition(7), "doc_id", "src", 5).toPandas()
    assert sorted(got["doc_id"]) == sorted(again["doc_id"])


def test_minmax_and_robust_scale(spark):
    from fte.operators.encoding import minmax_scale, robust_scale

    rng = np.random.default_rng(41)
    vals = rng.integers(0, 1000, 200).astype(np.int64)
    vals[0] = 10**7  # whale outlier
    pdf = pd.DataFrame({"doc_id": np.arange(200, dtype=np.int64), "v": vals})
    df = spark.createDataFrame(pdf)

    mm = minmax_scale(df, ["v"]).toPandas().sort_values("doc_id")["v_mm"].to_numpy()
    exp_mm = (vals - vals.min()) / (vals.max() - vals.min())
    np.testing.assert_allclose(mm, exp_mm, rtol=1e-12)

    rz = robust_scale(df, "v", exact=True).toPandas().sort_values("doc_id")["v_rz"].to_numpy()
    med = np.quantile(vals, 0.5, method="linear")
    mad = np.quantile(np.abs(vals - med), 0.5, method="linear")
    np.testing.assert_allclose(rz, (vals - med) / (1.4826 * mad), rtol=1e-9)
    # robustness: the whale's |rz| is huge but everyone else's is sane
    assert np.abs(rz[1:]).max() < 10 and np.abs(rz[0]) > 1000
    # min-max, by contrast, crushes the non-whales into ~0 — the
    # documented reason robust_scale exists
    assert exp_mm[1:].max() < 1e-3
    # constant column -> NULL for both
    c = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1], "v": [5, 5]}))
    assert minmax_scale(c, ["v"]).toPandas()["v_mm"].isna().all()
    assert robust_scale(c, "v", exact=True).toPandas()["v_rz"].isna().all()


def test_weighted_sample_large_weights_not_id_ordered(spark):
    """r5 ADVICE regression: with raw 1/w exponents, char-count-sized
    weights (1e5..1e7) compress every priority into 0.9999999xx and
    the 9dp rounding collapses the top-n cut into id-ordered ties —
    the sample degenerates to the n smallest ids. The max-normalized
    exponent keeps boundary priorities O(1)-spread; selection must
    NOT be the id prefix, must stay partitioning-deterministic, and
    must still favor heavy items."""
    from fte.operators.sampling import weighted_sample

    n_rows, n = 2000, 100
    rng = np.random.default_rng(47)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n_rows, dtype=np.int64),
            "w": rng.uniform(1e5, 1e7, n_rows).round(0),
        }
    )
    df = spark.createDataFrame(pdf)
    a = weighted_sample(df, "doc_id", "w", n=n).toPandas()
    b = weighted_sample(df.repartition(11), "doc_id", "w", n=n).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    assert len(a) == n
    # the old fixed-decimal collapse selected exactly ids 0..n-1
    assert sorted(a["doc_id"]) != list(range(n))
    # priorities at the cut are spread: distinct values, not one tie
    assert a["priority"].nunique() > n // 2
    # inclusion still tracks weight: selected mean weight > corpus mean
    assert a["w"].mean() > pdf["w"].mean()


def test_oof_target_encode_all_null_fold_group(spark):
    """r5 ADVICE regression: a (cat,fold) whose targets are ALL NULL
    must still get the out-of-fold mean from the other folds (NULL
    targets reduce the count, they don't NULL the encoding)."""
    from fte.operators.encoding import oof_target_encode

    pdf = pd.DataFrame(
        {
            "rid": np.arange(6, dtype=np.int64),
            "cat": ["a"] * 6,
            "fold": [0, 0, 1, 1, 2, 2],
            "y": [None, None, 2.0, 4.0, 6.0, 8.0],
        }
    )
    df = spark.createDataFrame(pdf, "rid long, cat string, fold long, y double")
    got = (
        oof_target_encode(df, "cat", "y", "fold")
        .select("rid", "fold", "oof_count", "oof_mean")
        .toPandas().sort_values("rid").reset_index(drop=True)
    )
    # fold 0 rows: all 4 non-null targets are out-of-fold -> mean 5.0
    f0 = got[got["fold"] == 0]
    assert f0["oof_count"].tolist() == [4, 4]
    assert np.allclose(f0["oof_mean"], 5.0)
    # fold 1 rows: out-of-fold non-null = {6, 8} -> 7.0
    assert np.allclose(got[got["fold"] == 1]["oof_mean"], 7.0)
