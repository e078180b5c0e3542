"""A8 evaluation harness: distributed closed-form CV model scoring.

The reference's submit → re-execute → metric loop
[U: featurehub/modeling/model.py] — fold assembly, one-pass normal-
equation fits, codegen scoring, rank AUC, registry write-back."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fte.evaluation import (
    _ridge_cv,
    binary_metrics,
    crossval_evaluate,
    crossval_models,
    fit_ridge,
    rank_features,
    regression_metrics,
    ridge_fitter,
)
from fte.operators.sampling import with_fold


@pytest.fixture(scope="module")
def lin_df(spark):
    rng = np.random.default_rng(5)
    n = 4000
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i % 400}" for i in range(n)],
            "x1": rng.normal(size=n),
            "x2": rng.normal(size=n),
        }
    )
    pdf["y"] = 2.0 * pdf.x1 - 3.0 * pdf.x2 + 1.0
    pdf["y_noisy"] = pdf["y"] + rng.normal(scale=0.1, size=n)
    return spark.createDataFrame(pdf).cache()


def test_fit_ridge_recovers_exact_weights(spark, lin_df):
    """Noise-free linear data -> the one-pass normal-equation fit
    recovers (2, -3, 1) to solver precision, independent of
    partitioning (sums are associative)."""
    w = fit_ridge(lin_df, ["x1", "x2"], "y")
    np.testing.assert_allclose(w, [2.0, -3.0, 1.0], atol=1e-6)
    w2 = fit_ridge(lin_df.repartition(13), ["x1", "x2"], "y")
    np.testing.assert_allclose(w, w2, atol=1e-9)


def test_crossval_regression_metrics(spark, lin_df):
    """CV on near-noise-free data: r2 ~ 1 per fold; metrics keys and
    per-fold structure are as the registry expects."""
    res = crossval_evaluate(lin_df, ["x1", "x2"], "y_noisy", n_folds=4)
    assert len(res["folds"]) == 4
    for m in res["folds"]:
        assert m["r2"] > 0.99 and m["mse"] < 0.02
    assert res["mean"]["r2"] > 0.99


def test_regression_metrics_match_numpy(spark, lin_df):
    scored = ridge_fitter()(lin_df, ["x1"], "y_noisy")(lin_df)
    got = regression_metrics(scored, "y_noisy")
    pdf = scored.select("_score", "y_noisy").toPandas()
    e = pdf["_score"] - pdf["y_noisy"]
    assert np.isclose(got["mse"], float((e**2).mean()), rtol=1e-9)
    assert np.isclose(got["mae"], float(e.abs().mean()), rtol=1e-9)
    sst = float(((pdf["y_noisy"] - pdf["y_noisy"].mean()) ** 2).sum())
    assert np.isclose(got["r2"], 1.0 - float((e**2).sum()) / sst, rtol=1e-6)


def test_regression_metrics_null_scores_match_numpy(spark):
    """n, the label mean and sst cover the same rows as sse: those
    whose score and label are both non-NULL."""
    rng = np.random.default_rng(13)
    n = 500
    y = rng.normal(loc=4.0, size=n)
    s = y + rng.normal(scale=0.5, size=n)
    s_null = rng.random(n) < 0.2
    y_null = rng.random(n) < 0.1
    df = spark.createDataFrame(
        [
            (None if sn else float(si), None if yn else float(yi))
            for si, yi, sn, yn in zip(s, y, s_null, y_null)
        ],
        "_score double, lab double",
    )
    got = regression_metrics(df, "lab")
    keep = ~s_null & ~y_null
    e = s[keep] - y[keep]
    assert got["n"] == int(keep.sum())
    assert np.isclose(got["mse"], float((e**2).mean()), rtol=1e-12)
    assert np.isclose(got["mae"], float(np.abs(e).mean()), rtol=1e-12)
    sst = float(((y[keep] - y[keep].mean()) ** 2).sum())
    assert np.isclose(got["r2"], 1.0 - float((e**2).sum()) / sst, rtol=1e-9)


def _numpy_cv(pdf: pd.DataFrame, cols, label: str, n_folds: int, reg: float = 1e-6):
    """Complete-case ridge CV reference: per fold, fit on the other
    folds' rows with no NULL in ``cols`` or the label, score this
    fold's such rows. Returns ([w per fold], [metrics per fold])."""
    X = pdf[list(cols)].to_numpy(dtype=float)
    y = pdf[label].to_numpy(dtype=float)
    ok = ~np.isnan(X).any(axis=1) & ~np.isnan(y)
    fold = pdf["fold"].to_numpy()
    ws, ms = [], []
    for f in range(n_folds):
        tr, te = ok & (fold != f), ok & (fold == f)
        A = np.c_[X[tr], np.ones(tr.sum())]
        w = np.linalg.solve(A.T @ A + reg * np.eye(A.shape[1]), A.T @ y[tr])
        e = np.c_[X[te], np.ones(te.sum())] @ w - y[te]
        sst = ((y[te] - y[te].mean()) ** 2).sum()
        ws.append(w)
        ms.append({
            "n": int(te.sum()), "mse": (e**2).mean(), "mae": np.abs(e).mean(),
            "r2": 1.0 - (e**2).sum() / sst,
        })
    return ws, ms


def _assert_folds_close(got: list[dict], want: list[dict], rtol: float) -> None:
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["n"] == w["n"]
        for k in ("mse", "mae", "r2"):
            assert np.isclose(g[k], w[k], rtol=rtol, atol=0), (k, g, w)


def test_one_pass_cv_matches_per_fold_ridge_loop(spark, lin_df):
    """NULL-free data: every fold's weights and n/mse/mae/r2 from the
    one Gram scan equal the per-fold ``ridge_fitter()`` loop (the
    custom-fitter path) within rel 1e-9; binary metrics too."""
    models = {"both": ["x1", "x2"], "x1": ["x1"]}
    one = crossval_models(lin_df, models, "y_noisy", n_folds=4)
    loop = crossval_models(lin_df, models, "y_noisy", n_folds=4, fitter=ridge_fitter())
    for name in models:
        _assert_folds_close(one[name]["folds"], loop[name]["folds"], rtol=1e-9)
    folded = with_fold(lin_df, "conv_id", n_folds=4)
    weights, _ = _ridge_cv(folded, models, "y_noisy", 4)
    for name, cols in models.items():
        for f, w in enumerate(weights[name]):
            want = fit_ridge(folded.filter(F.col("fold") != f), cols, "y_noisy")
            np.testing.assert_allclose(w, want, rtol=1e-9)
    yb = lin_df.withColumn("yb", (F.col("y_noisy") > 1.0).cast("double"))
    one = crossval_evaluate(yb, ["x1", "x2"], "yb", n_folds=3, binary=True)
    loop = crossval_evaluate(yb, ["x1", "x2"], "yb", n_folds=3, binary=True, fitter=ridge_fitter())
    for a, b in zip(one["folds"], loop["folds"]):
        assert np.isclose(a["auc"], b["auc"], rtol=1e-12)
        assert np.isclose(a["accuracy"], b["accuracy"], rtol=1e-12)


def test_crossval_complete_case_per_model_matches_numpy(spark):
    """NULL policy: rows with a NULL label are dropped, and each model
    is fit and scored on the rows where all of ITS columns are
    non-NULL — a NULL-free single-feature model keeps rows the joint
    model drops. Weights and metrics match numpy."""
    rng = np.random.default_rng(41)
    n = 3000
    pdf = pd.DataFrame({
        "conv_id": [f"c{i % 300}" for i in range(n)],
        "x1": rng.normal(size=n), "x2": rng.normal(size=n), "x3": rng.normal(size=n),
    })
    pdf["y"] = 1.5 * pdf.x1 - pdf.x2 + 0.5 * pdf.x3 + 2.0 + rng.normal(scale=0.3, size=n)
    first = rng.random(n) < 0.1  # x2 and x3 NULL together, as lag features are
    pdf.loc[first, ["x2", "x3"]] = np.nan
    pdf.loc[rng.random(n) < 0.1, "x3"] = np.nan
    pdf.loc[rng.random(n) < 0.05, "y"] = np.nan
    df = spark.createDataFrame(pdf)
    assert df.filter(F.col("x2").isNull()).count() == int(first.sum())
    models = {"x1": ["x1"], "x3": ["x3"], "joint": ["x1", "x2", "x3"]}
    res = crossval_models(df, models, "y", n_folds=3)
    folded = with_fold(df, "conv_id", n_folds=3)
    weights, _ = _ridge_cv(folded.filter(F.col("y").isNotNull()), models, "y", 3)
    ref = folded.toPandas()
    for name, cols in models.items():
        want_w, want = _numpy_cv(ref, cols, "y", 3)
        _assert_folds_close(res[name]["folds"], want, rtol=1e-9)
        np.testing.assert_allclose(weights[name], want_w, rtol=1e-9)
    assert res["x1"]["mean"]["n"] > res["joint"]["mean"]["n"]


def test_crossval_200_features_matches_numpy_in_bounded_time(spark):
    """A 200-feature matrix (the old per-entry fit built 20,502 sum
    expressions per fold) with NULL-bearing columns past bit 63 of the
    NULL-pattern key: one-pass CV equals the numpy complete-case
    reference and finishes in bounded time."""
    import time

    rng = np.random.default_rng(31)
    n, d = 3000, 200
    cols = [f"x{i:03d}" for i in range(d)]
    X = rng.normal(size=(n, d))
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"] = X @ rng.normal(size=d) + 0.5 + rng.normal(scale=0.1, size=n)
    pdf["conv_id"] = [f"c{i % 300}" for i in range(n)]
    for c in ("x007", "x100", "x199"):
        pdf.loc[rng.random(n) < 0.05, c] = np.nan
    df = spark.createDataFrame(pdf).cache()
    ref = with_fold(df, "conv_id", n_folds=5).toPandas()
    t0 = time.perf_counter()
    res = crossval_evaluate(df, cols, "y")
    elapsed = time.perf_counter() - t0
    _, want = _numpy_cv(ref, cols, "y", 5)
    _assert_folds_close(res["folds"], want, rtol=1e-8)
    assert elapsed < 90, elapsed
    df.unpersist()


def test_binary_auc_matches_direct_mann_whitney(spark):
    """Rank AUC (midranks) == direct numpy Mann-Whitney, including
    ties in the score column."""
    rng = np.random.default_rng(11)
    n = 600
    y = (rng.uniform(size=n) < 0.4).astype(float)
    score = np.round(y * 0.3 + rng.uniform(size=n) * 0.7, 2)  # ties via rounding
    df = spark.createDataFrame(
        pd.DataFrame({"_score": score, "lab": y})
    )
    got = binary_metrics(df, "lab")
    order = np.argsort(score, kind="mergesort")
    ranks = np.empty(n)
    sorted_scores = score[order]
    i = 0
    pos = 1
    while i < n:
        j = i
        while j < n and sorted_scores[j] == sorted_scores[i]:
            j += 1
        ranks[order[i:j]] = (pos + (pos + j - i - 1)) / 2.0
        pos += j - i
        i = j
    npos, nneg = int(y.sum()), int((1 - y).sum())
    auc = (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert np.isclose(got["auc"], auc, rtol=1e-12)
    assert np.isclose(got["accuracy"], ((score >= 0.5) == y).mean(), rtol=1e-12)


def test_rank_features_orders_by_planted_signal(spark, lin_df):
    """A feature carrying the label's signal must outrank pure noise
    — the FeatureHub leaderboard property."""
    rng = np.random.default_rng(3)
    df = lin_df.withColumn("noise", F.rand(7))
    ranking = rank_features(df, ["x1", "noise"], "y_noisy", n_folds=3)
    assert ranking[0]["feature"] == "x1"
    assert ranking[0]["value"] > ranking[1]["value"] + 0.1
    assert len(ranking[0]["folds"]) == 3


def test_session_evaluate_cv_writes_registry_metrics(spark, transcripts_df, tmp_path):
    """End-to-end A8 loop on the transcripts fixture: label planted on
    text length -> the text-stats feature scores far above the
    time-of-day feature; per-fold metrics land in the registry and in
    to_metadata_df's cv_metrics column; meta_dir gets cv_metrics.json."""
    import json

    from fte.features.library import build_default_registry
    from fte.session import Session

    reg = build_default_registry()
    sess = Session(
        spark, transcripts_df, registry=reg, meta_dir=str(tmp_path / "meta")
    )
    labels = transcripts_df.select(
        "conv_id",
        "turn_idx",
        (F.length("text").cast("double") * 0.01 + 3.0).alias("y"),
    )
    res = sess.evaluate_cv(
        labels, features=["f_text_scalars", "f_time_of_day"], n_folds=3
    )
    assert res["f_text_scalars"]["mean"]["r2"] > 0.999  # textlen IS the label
    assert res["f_text_scalars"]["mean"]["r2"] > res["f_time_of_day"]["mean"]["r2"] + 0.5
    assert "__all__" in res
    # registry write-back with per-fold granularity
    assert len(reg.metrics["f_text_scalars"]["folds"]) == 3
    md = reg.to_metadata_df(spark).toPandas().set_index("name")
    stored = json.loads(md.loc["f_text_scalars", "cv_metrics"])
    assert stored["mean"]["r2"] > 0.999
    assert md.loc["f_session", "cv_metrics"] is None  # unevaluated stays null
    assert json.loads((tmp_path / "meta" / "cv_metrics.json").read_text())


def test_record_metrics_unknown_feature_raises(spark):
    from fte.registry import FeatureRegistry

    with pytest.raises(KeyError):
        FeatureRegistry().record_metrics("nope", {"mean": {}})


def test_binned_auc_close_to_exact(spark):
    """The scale path (histogram Mann-Whitney, no global sort) must
    track the exact midrank AUC closely on continuous scores."""
    import numpy as np

    from fte.evaluation import binary_metrics

    rng = np.random.default_rng(17)
    n = 4000
    y = (rng.random(n) < 0.4).astype("float64")
    # informative but noisy scores -> AUC well inside (0.5, 1)
    s = y * 0.8 + rng.standard_normal(n) * 0.7
    df = spark.createDataFrame(
        [(float(si), float(yi)) for si, yi in zip(s, y)], "_score double, label double"
    )
    exact = binary_metrics(df, "label", exact=True)
    binned = binary_metrics(df, "label", exact=False, n_bins=65536)
    assert 0.6 < exact["auc"] < 0.95
    assert abs(binned["auc"] - exact["auc"]) < 1e-3
    assert binned["accuracy"] == exact["accuracy"]


def test_calibration_metrics(spark):
    import numpy as np

    from fte.evaluation import calibration_metrics

    rng = np.random.default_rng(23)
    n = 2000
    p = rng.random(n)
    y = (rng.random(n) < p).astype("float64")  # perfectly calibrated scores
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(p, y)], "_score double, label double"
    )
    brier, table = calibration_metrics(df, "label", n_bins=10)
    assert np.isclose(brier, float(np.mean((p - y) ** 2)))
    rows = {r["bin"]: r for r in table.collect()}
    assert set(rows) == set(range(10))
    # calibrated: per-bin frac_pos tracks mean_score
    for r in rows.values():
        assert abs(r["frac_pos"] - r["mean_score"]) < 0.12


def test_sliced_metrics_match_numpy(spark):
    import numpy as np

    from fte.evaluation import sliced_metrics

    rng = np.random.default_rng(29)
    rows = []
    for sl, bias in [("a", 0.0), ("b", 2.0)]:
        y = rng.standard_normal(300)
        s = y + bias + rng.standard_normal(300) * 0.1
        rows += [(sl, float(si), float(yi)) for si, yi in zip(s, y)]
    df = spark.createDataFrame(rows, "seg string, _score double, label double")
    out = {r["slice"]: r for r in sliced_metrics(df, "label", "seg").collect()}
    assert out["b"]["mse"] > out["a"]["mse"] + 3.0  # the biased slice surfaces
    # numpy parity on one slice
    y = np.array([r[2] for r in rows if r[0] == "a"])
    s = np.array([r[1] for r in rows if r[0] == "a"])
    assert np.isclose(out["a"]["mse"], np.mean((s - y) ** 2))
    assert np.isclose(out["a"]["r2"], 1 - ((s - y) ** 2).sum() / ((y - y.mean()) ** 2).sum())


def test_sliced_metrics_null_scores_match_regression_metrics(spark):
    """Each slice follows regression_metrics' NULL policy: rows with a
    NULL score or label enter neither n nor sse nor sst."""
    import numpy as np
    import pytest

    from fte.evaluation import regression_metrics, sliced_metrics

    rng = np.random.default_rng(31)
    rows = []
    for sl in ("a", "b"):
        for i in range(200):
            y = float(rng.standard_normal())
            s = None if i % 7 == 0 else y + float(rng.standard_normal()) * 0.3
            rows.append((sl, s, None if i % 11 == 0 else y))
    rows += [("z", None, 1.0), ("z", None, 2.0)]  # no scored row at all
    df = spark.createDataFrame(rows, "seg string, _score double, label double")
    out = {r["slice"]: r for r in sliced_metrics(df, "label", "seg").collect()}
    for sl in ("a", "b"):
        ref = regression_metrics(df.filter(df.seg == sl), "label")
        assert out[sl]["n"] == ref["n"] < 200
        for k in ("mse", "mae", "r2"):
            assert out[sl][k] == pytest.approx(ref[k], rel=1e-12)
    assert out["z"]["n"] == 0
    assert out["z"]["mse"] is None and out["z"]["r2"] is None


def test_sliced_metrics_zero_variance_slice_null_r2(spark):
    from fte.evaluation import sliced_metrics

    df = spark.createDataFrame(
        [("c", 1.0, 5.0), ("c", 2.0, 5.0)], "seg string, _score double, label double"
    )
    (row,) = sliced_metrics(df, "label", "seg").collect()
    assert row["r2"] is None
