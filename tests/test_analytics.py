"""Round-5 operator tests: transcript analytics, encoders (count/LOO/
WoE), selection stats, column profiling, covariance/PCA/quantization.

Each operator is checked against an independent pandas/numpy
restatement on the synthetic transcripts fixture or planted data —
the same pandas-reference discipline as test_windows/test_encoding.
The DuckDB value gate runs separately via tools/check_oracle.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------- transcript ops

def test_role_transitions_match_pandas(spark, transcripts_df, transcripts_pdf):
    from fte.operators.transcript import role_transitions

    out = role_transitions(transcripts_df).toPandas()

    pdf = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"])
    prev = pdf.groupby("conv_id")["role"].shift(1).fillna("<start>")
    expected = (
        pd.DataFrame({"prev_role": prev.values, "role": pdf["role"].values})
        .groupby(["prev_role", "role"])
        .size()
        .rename("n")
        .reset_index()
    )
    merged = out.merge(expected, on=["prev_role", "role"], suffixes=("", "_exp"))
    assert len(merged) == len(expected) == len(out)
    assert (merged["n"] == merged["n_exp"]).all()
    # per-prev_role probabilities sum to 1
    sums = out.groupby("prev_role")["p"].sum()
    assert np.allclose(sums.values, 1.0)


def test_response_latency_match_pandas(spark, transcripts_df, transcripts_pdf):
    from fte.operators.transcript import response_latency

    out = response_latency(transcripts_df).toPandas().set_index("role")

    pdf = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"]).copy()
    g = pdf.groupby("conv_id")
    pdf["prev_role"] = g["role"].shift(1)
    us = pdf["ts"].astype("datetime64[us]").astype("int64")  # epoch µs
    pdf["delta_us"] = us - us.groupby(pdf["conv_id"]).shift(1)
    resp = pdf[(pdf["prev_role"].notna()) & (pdf["prev_role"] != pdf["role"])]
    exp = resp.groupby("role")["delta_us"].agg(["count", "mean", "max", "min"])
    for role, row in exp.iterrows():
        got = out.loc[role]
        assert got["n_responses"] == row["count"]
        assert got["max_us"] == row["max"]
        assert got["min_us"] == row["min"]
        assert np.isclose(got["mean_us"], row["mean"])


def test_turn_runs_planted(spark):
    """Deterministic planted-run check incl. the tie rule (longest run
    tie broken by earliest start)."""
    from fte.operators.transcript import turn_runs

    rows = [
        # conv A: u,u,a,a,a,u -> runs u:2, a:3, u:1 -> max 3 (assistant)
        ("A", 0, "user"), ("A", 1, "user"), ("A", 2, "asst"),
        ("A", 3, "asst"), ("A", 4, "asst"), ("A", 5, "user"),
        # conv B: tie between u-run(2) and a-run(2) -> earliest wins (user)
        ("B", 0, "user"), ("B", 1, "user"), ("B", 2, "asst"), ("B", 3, "asst"),
    ]
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(c, i, r, base + timedelta(seconds=i)) for c, i, r in rows],
        "conv_id string, turn_idx int, role string, ts timestamp",
    )
    out = {
        r["conv"]: r
        for r in turn_runs(df, order_cols=("ts", "turn_idx")).collect()
    }
    assert out["A"]["n_turns"] == 6 and out["A"]["n_runs"] == 3
    assert out["A"]["max_run"] == 3 and out["A"]["max_run_role"] == "asst"
    assert out["B"]["n_runs"] == 2 and out["B"]["max_run"] == 2
    assert out["B"]["max_run_role"] == "user"


# ------------------------------------------------------------- encoders

def _events_df(spark):
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "cat": rng.choice(["a", "b", "c", "solo"], n, p=[0.5, 0.3, 0.19, 0.01]),
            "y": rng.uniform(0, 10, n).round(3),
        }
    )
    pdf.loc[pdf.index[:5], "y"] = None  # NULL targets
    pdf = pdf[~((pdf["cat"] == "solo") & (pdf.index > 10))]  # keep solo rare
    rows = [
        (int(r["id"]), str(r["cat"]), None if pd.isna(r["y"]) else float(r["y"]))
        for _, r in pdf.iterrows()
    ]
    # explicit tuples so None reaches Spark as NULL (a pandas float NaN
    # would arrive as NaN, which Spark counts as non-null)
    return spark.createDataFrame(rows, "id long, cat string, y double"), pdf


def test_count_encode_match_pandas(spark):
    from fte.operators.encoding import count_encode

    df, pdf = _events_df(spark)
    out = count_encode(df, "cat").toPandas().set_index("id").sort_index()
    counts = pdf["cat"].value_counts()
    exp_n = pdf["cat"].map(counts)
    assert (out["ce_count"].values == exp_n.values).all()
    assert np.allclose(out["ce_freq"].values, exp_n.values / len(pdf))


def test_loo_target_encode_match_pandas(spark):
    from fte.operators.encoding import loo_target_encode

    df, pdf = _events_df(spark)
    out = loo_target_encode(df, "cat", "y").toPandas().set_index("id").sort_index()
    s = pdf.groupby("cat")["y"].sum()
    c = pdf.groupby("cat")["y"].count()
    for _, row in pdf.iterrows():
        got = out.loc[row["id"]]
        if pd.isna(row["y"]):
            # nothing to leave out: the mean of the category's other rows
            assert np.isclose(got["loo_mean"], s[row["cat"]] / c[row["cat"]])
            assert got["loo_count"] == c[row["cat"]]
        elif c[row["cat"]] == 1:
            assert pd.isna(got["loo_mean"])
        else:
            exp = (s[row["cat"]] - row["y"]) / (c[row["cat"]] - 1)
            assert np.isclose(got["loo_mean"], exp)


def test_woe_encode_match_manual(spark):
    from fte.operators.encoding import woe_encode

    df, pdf = _events_df(spark)
    out = (
        woe_encode(df, "cat", (F.col("y") > 5), smoothing=0.5)
        .toPandas()
        .set_index("cat")
    )
    lab = (pdf["y"] > 5).astype(int)  # NULL y -> False, same as Spark
    pos = lab.groupby(pdf["cat"]).sum()
    n = lab.groupby(pdf["cat"]).count()
    neg = n - pos
    pt, nt = pos.sum(), neg.sum()
    for cat in pos.index:
        exp = np.log(((pos[cat] + 0.5) / pt) / ((neg[cat] + 0.5) / nt))
        assert np.isclose(out.loc[cat, "woe"], exp)
        assert out.loc[cat, "pos"] == pos[cat] and out.loc[cat, "neg"] == neg[cat]


# ---------------------------------------------------- selection / profile

def test_pairwise_corr_matches_numpy(spark):
    from fte.operators.selection import pairwise_corr

    rng = np.random.default_rng(3)
    x = rng.integers(0, 1000, 300)
    y = (x * 2 + rng.integers(0, 200, 300)).astype(int)  # strongly corr w/ x
    z = rng.integers(0, 1000, 300)
    df = spark.createDataFrame(
        pd.DataFrame({"x": x, "y": y, "z": z}), "x long, y long, z long"
    )
    out = {
        (r["x_name"], r["y_name"]): r["r"]
        for r in pairwise_corr(df, ["x", "y", "z"], decimal_scale=0).collect()
    }
    assert np.isclose(out[("x", "y")], np.corrcoef(x, y)[0, 1])
    assert np.isclose(out[("x", "z")], np.corrcoef(x, z)[0, 1])
    assert np.isclose(out[("y", "z")], np.corrcoef(y, z)[0, 1])
    assert out[("x", "y")] > 0.9


def test_pairwise_corr_constant_column_null(spark):
    from fte.operators.selection import pairwise_corr

    df = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5)], "x long, c long"
    )
    (row,) = pairwise_corr(df, ["x", "c"], decimal_scale=0).collect()
    assert row["r"] is None  # zero variance -> undefined, not NaN/crash


def test_mutual_info_cells(spark):
    from fte.operators.selection import mutual_info_cells

    # perfectly dependent: y == bin -> MI = H(bin) = ln 2 for balanced bins
    rows = [(i, i % 2, i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, bin long, y long")
    cells = mutual_info_cells(df, "bin", "y").collect()
    mi = sum(r["mi_term"] for r in cells)
    assert np.isclose(mi, np.log(2))
    # independent: MI ~ 0
    rows = [(i, i % 2, (i // 2) % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, bin long, y long")
    mi0 = sum(r["mi_term"] for r in mutual_info_cells(df, "bin", "y").collect())
    assert abs(mi0) < 1e-9


def test_column_profile_matches_pandas(spark):
    from fte.operators.profile import column_profile

    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, None, 4.0],
            "s": ["x", None, "y", "x"],
        }
    )
    df = spark.createDataFrame(pdf, "a double, s string")
    out = (
        column_profile(df, numeric_cols=("a",), string_cols=("s",))
        .toPandas()
        .set_index("col_name")
    )
    assert out.loc["a", "null_count"] == 1 and out.loc["a", "n_distinct"] == 3
    assert out.loc["a", "min_num"] == 1.0 and out.loc["a", "max_num"] == 4.0
    assert np.isclose(out.loc["a", "mean"], 7.0 / 3.0)
    assert out.loc["s", "null_count"] == 1 and out.loc["s", "n_distinct"] == 2
    assert out.loc["s", "min_str"] == "x" and out.loc["s", "max_str"] == "y"


# --------------------------------------- covariance / PCA / quantization

def _emb_df(spark, n=200, d=12, seed=11, low_rank=False):
    rng = np.random.default_rng(seed)
    if low_rank:
        basis = rng.standard_normal((2, d))
        coef = rng.standard_normal((n, 2)) * np.array([3.0, 1.5])
        X = coef @ basis + rng.standard_normal((n, d)) * 0.05
    else:
        X = rng.standard_normal((n, d))
    X = X.astype("float32")
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(X)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>"), X


def test_emb_covariance_matches_numpy(spark):
    from fte.operators.similarity import emb_covariance

    df, X = _emb_df(spark)
    rows = emb_covariance(df, dims=12).collect()
    C = np.cov(X.astype("float64").T, bias=True)
    assert len(rows) == 12 * 13 // 2
    for r in rows:
        assert np.isclose(r["cov"], C[r["i"], r["j"]], atol=1e-9)


def test_emb_covariance_ragged_pair_membership(spark):
    """r6 rewrite gate (self-join → chained posexplode): the (i, j)
    pair row for a vector exists iff the vector has ≥ j+1 elements —
    the explode×explode join's membership. On a ragged corpus n per
    (i, j) must equal the count of vectors long enough for j, and the
    sums must cover exactly those vectors."""
    from fte.operators.similarity import emb_covariance

    rows = [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0]), (2, [6.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["i"], r["j"]): r for r in emb_covariance(df).collect()}
    assert set(out) == {(0, 0), (0, 1), (0, 2), (1, 1), (1, 2), (2, 2)}
    assert out[(0, 0)]["n"] == 3 and out[(0, 1)]["n"] == 2
    assert out[(1, 2)]["n"] == 1 and out[(2, 2)]["n"] == 1
    # pair (0,1): vectors 0 and 1 → cov = E[xy] - E[x]E[y] over {(1,2),(4,5)}
    exp = (1 * 2 + 4 * 5) / 2 - ((1 + 4) / 2) * ((2 + 5) / 2)
    assert np.isclose(out[(0, 1)]["cov"], exp, atol=1e-9)


def test_emb_covariance_gemm_allclose_exact(spark):
    from fte.operators.similarity import emb_covariance, emb_covariance_gemm

    df, _X = _emb_df(spark)
    exact = {(r["i"], r["j"]): r["cov"] for r in emb_covariance(df).collect()}
    gemm = {(r["i"], r["j"]): r["cov"] for r in emb_covariance_gemm(df).collect()}
    assert set(exact) == set(gemm)
    for k in exact:
        assert np.isclose(exact[k], gemm[k], atol=1e-12)


def test_pca_recovers_planted_structure(spark):
    from fte.operators.similarity import emb_covariance, pca_fit

    df, X = _emb_df(spark, low_rank=True)
    cov = emb_covariance(df).collect()
    vals, comps = pca_fit(cov, 12)
    # planted rank-2 structure: top-2 EVR dominates
    assert vals[:2].sum() / vals.sum() > 0.95
    # projected scores: variance along component k == eigval k
    Xd = X.astype("float64")
    P = (Xd - Xd.mean(axis=0)) @ comps[:2].T
    assert np.allclose(P.var(axis=0, ddof=0), vals[:2], rtol=1e-6)
    # deterministic sign convention: largest-|loading| entry nonneg
    for k in range(2):
        assert comps[k][int(np.argmax(np.abs(comps[k])))] >= 0


def test_quantize_error_bound_and_knn(spark):
    from fte.operators.similarity import quant_knn, quantize_embeddings

    df, X = _emb_df(spark, n=150, d=8, low_rank=True)
    bounds, quant = quantize_embeddings(df)
    b = {r["i"]: (r["mn"], r["mx"]) for r in bounds.collect()}
    # reconstruction error of each level is < one quantization step
    for r in quant.limit(400).collect():
        mn, mx = b[r["i"]]
        step = (mx - mn) / 256.0
        xhat = mn + (r["q"] + 128 + 0.5) * step
        assert abs(xhat - X[r["id"], r["i"]]) <= step
    # quantized top-k well-approximates exact dot-product ranking
    q0 = X.astype("float64")[0]
    exact_top = set(np.argsort(-(X.astype("float64") @ q0))[:10])
    query_q = quant.where(F.col("id") == 0).select("i", "q")
    got = {r["id"] for r in quant_knn(quant, query_q, k=10).collect()}
    assert len(exact_top & got) >= 8


# --------------------------------------------------- behavior / fuzzy

def test_funnel_conversion_planted(spark):
    from datetime import datetime, timedelta

    from fte.operators.behavior import funnel_conversion

    base = datetime(2024, 1, 1)
    t = lambda s: base + timedelta(seconds=s)  # noqa: E731
    rows = [
        # u1 completes A->B->C in order
        ("u1", "A", t(0)), ("u1", "B", t(1)), ("u1", "C", t(2)),
        # u2 has B BEFORE A, then no later B: stops at A
        ("u2", "B", t(0)), ("u2", "A", t(1)), ("u2", "C", t(2)),
        # u3 reaches A, B; C only BEFORE B: stops at B
        ("u3", "A", t(0)), ("u3", "C", t(1)), ("u3", "B", t(2)),
        # u4 never does A
        ("u4", "B", t(0)), ("u4", "C", t(1)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
    out = {
        r["step_name"]: r
        for r in funnel_conversion(df, steps=("A", "B", "C")).collect()
    }
    assert out["A"]["n_reached"] == 3          # u1, u2, u3
    assert out["B"]["n_reached"] == 2          # u1, u3
    assert out["C"]["n_reached"] == 1          # u1 only
    assert out["A"]["rate"] == 0.75
    assert out["C"]["step_rate"] == 0.5        # 1 of 2 B-reachers


def test_cohort_retention_planted(spark):
    from datetime import datetime, timedelta

    from fte.operators.behavior import cohort_retention

    d0 = datetime(2024, 1, 1, 9)
    rows = []
    # cohort day0: u1 active d0, d1, d3; u2 active d0 only
    for u, days in [("u1", [0, 1, 3]), ("u2", [0])]:
        rows += [(u, d0 + timedelta(days=k)) for k in days]
    # cohort day1: u3 active d1, d2
    rows += [("u3", d0 + timedelta(days=1)), ("u3", d0 + timedelta(days=2))]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {
        (str(r["cohort_date"]), r["day_offset"]): r
        for r in cohort_retention(df).collect()
    }
    assert out[("2024-01-01", 0)]["n_active"] == 2
    assert out[("2024-01-01", 0)]["n_cohort"] == 2
    assert out[("2024-01-01", 1)]["n_active"] == 1
    assert out[("2024-01-01", 1)]["retention"] == 0.5
    assert out[("2024-01-01", 3)]["n_active"] == 1
    assert out[("2024-01-02", 1)]["n_active"] == 1
    assert ("2024-01-01", 2) not in out  # nobody from cohort 0 on day 2


def test_autocorrelation_matches_numpy(spark):
    from datetime import datetime, timedelta

    from fte.operators.behavior import autocorrelation

    rng = np.random.default_rng(5)
    base = datetime(2024, 1, 1)
    rows, series = [], {}
    for u in ["a", "b"]:
        n = 50
        x = np.cumsum(rng.standard_normal(n)).round(3)  # random walk: high ACF
        series[u] = x
        rows += [(u, i, base + timedelta(seconds=i), float(x[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp, value double")
    out = {
        r["user_id"]: r
        for r in autocorrelation(df, "user_id", "value", ("ts", "event_id"), lag=1).collect()
    }
    for u, x in series.items():
        exp = np.corrcoef(x[1:], x[:-1])[0, 1]
        assert out[u]["n_pairs"] == len(x) - 1
        assert np.isclose(out[u]["acf"], exp, atol=1e-6)
        assert out[u]["acf"] > 0.5  # random walk is strongly autocorrelated


def test_autocorrelation_short_series_null(spark):
    from datetime import datetime, timedelta

    from fte.operators.behavior import autocorrelation

    base = datetime(2024, 1, 1)
    rows = [("u", i, base + timedelta(seconds=i), float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp, value double")
    (row,) = autocorrelation(df, "user_id", "value", ("ts", "event_id"), min_pairs=3).collect()
    # only 2 pairs < min_pairs -> NULL
    assert row["n_pairs"] == 2 and row["acf"] is None


def test_fuzzy_join_planted(spark):
    from fte.operators.text import fuzzy_join

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "completely different string"),
         (3, "the quick brown fix")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "the quick brown f0x")], "probe_id long, probe_text string"
    )
    out = fuzzy_join(corpus, probes, corpus_text="text", max_dist=2).collect()
    got = {(r["probe_id"], r["doc_id"]): r["lev_dist"] for r in out}
    assert got[(100, 1)] == 1          # fox -> f0x: one substitution
    assert got[(100, 3)] == 1          # fix -> f0x: one substitution
    assert (100, 2) not in got         # length band + distance exclude


def test_fuzzy_join_length_band_prunes(spark):
    """A corpus string whose length differs by more than max_dist must
    be excluded by the band even if levenshtein were never evaluated
    (the bounded call also returns -1 — the gate must treat -1 as a
    non-match, never as <= max_dist)."""
    from fte.operators.text import fuzzy_join

    corpus = spark.createDataFrame(
        [(1, "abc"), (2, "abcdefghijklmnop")], "doc_id long, text string"
    )
    probes = spark.createDataFrame([(9, "abd")], "probe_id long, probe_text string")
    out = fuzzy_join(corpus, probes, corpus_text="text", max_dist=1).collect()
    assert {r["doc_id"] for r in out} == {1}


# ----------------------------------------- incremental agg / io layout

def test_incremental_agg_merge_equals_full(spark):
    from fte.operators.incremental import finalize_stats, merge_stats, stats_state

    df, pdf = _events_df(spark)
    # split by id parity; merge of the two halves == full recompute
    a = stats_state(df.where(F.col("id") % 2 == 0), ["cat"], "y")
    b = stats_state(df.where(F.col("id") % 2 == 1), ["cat"], "y")
    merged = finalize_stats(merge_stats(a, b)).toPandas().set_index("cat")
    full = finalize_stats(stats_state(df, ["cat"], "y")).toPandas().set_index("cat")
    assert set(merged.index) == set(full.index)
    for cat in full.index:
        for col in ["n", "sum", "mn", "mx", "mean"]:
            m, f = merged.loc[cat, col], full.loc[cat, col]
            assert (pd.isna(m) and pd.isna(f)) or m == f, (cat, col, m, f)
    # chained merge (three-way) stays exact too
    c = stats_state(df.where(F.col("id") % 3 == 0), ["cat"], "y")
    d = stats_state(df.where(F.col("id") % 3 == 1), ["cat"], "y")
    e = stats_state(df.where(F.col("id") % 3 == 2), ["cat"], "y")
    m3 = finalize_stats(merge_stats(merge_stats(c, d), e)).toPandas().set_index("cat")
    for cat in full.index:
        assert m3.loc[cat, "sum"] == full.loc[cat, "sum"]


def test_encoders_keep_null_category_rows(spark):
    """A NULL category is a category: groupBy keeps the NULL group but
    a plain equi-join back would drop those rows (NULL != NULL) — the
    null-safe join must preserve them with their group's stats."""
    from fte.operators.encoding import count_encode, loo_target_encode, oof_target_encode

    rows = [(0, "a", 1.0), (1, "a", 3.0), (2, None, 5.0), (3, None, 7.0)]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    folds = df.withColumn("fold", F.col("id") % 2)
    oof = oof_target_encode(folds, "cat", "y", "fold").toPandas().set_index("id")
    assert len(oof) == 4
    assert oof.loc[2, "oof_count"] == 1 and oof.loc[2, "oof_mean"] == 7.0
    assert oof.loc[3, "oof_count"] == 1 and oof.loc[3, "oof_mean"] == 5.0
    ce = count_encode(df, "cat").toPandas().set_index("id").sort_index()
    assert len(ce) == 4
    assert ce.loc[2, "ce_count"] == 2 and ce.loc[2, "ce_freq"] == 0.5
    loo = loo_target_encode(df, "cat", "y").toPandas().set_index("id").sort_index()
    assert len(loo) == 4
    assert loo.loc[2, "loo_mean"] == 7.0  # the other NULL-cat row's y
    assert loo.loc[3, "loo_mean"] == 5.0


def test_chi2_cells_matches_closed_form(spark):
    from fte.operators.selection import chi2_cells

    # perfectly dependent 2x2 with 100 rows per diagonal cell:
    # chi2 = n = 200, each cell's term = 50
    rows = [(i, i % 2, i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, bin long, y long")
    cells = chi2_cells(df, "bin", "y").collect()
    chi2 = sum(r["chi2_term"] for r in cells)
    assert np.isclose(chi2, 200.0)
    for r in cells:
        assert np.isclose(r["expected"], 50.0)
    # independence -> chi2 ~ 0
    rows = [(i, i % 2, (i // 2) % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, bin long, y long")
    chi2 = sum(r["chi2_term"] for r in chi2_cells(df, "bin", "y").collect())
    assert abs(chi2) < 1e-9
