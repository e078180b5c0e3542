"""Similarity search: exact baselines + ANN recall vs brute force."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fte.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    ivf_build,
    ivf_topk,
    knn_join,
    lsh_topk,
)

DIM = 16
N = 300


@pytest.fixture(scope="module")
def emb_pdf():
    rng = np.random.default_rng(42)
    centers = rng.standard_normal((5, DIM)) * 3
    rows = []
    for i in range(N):
        c = centers[i % 5]
        v = c + rng.standard_normal(DIM) * 0.3
        rows.append((i, (v / np.linalg.norm(v)).astype("float32").tolist()))
    # planted near-duplicate of vec 0
    v0 = np.array(rows[0][1]) + 1e-3
    rows.append((N, (v0 / np.linalg.norm(v0)).astype("float32").tolist()))
    return pd.DataFrame(rows, columns=["vec_id", "embedding"])


@pytest.fixture(scope="module")
def emb_df(spark, emb_pdf):
    return spark.createDataFrame(emb_pdf, "vec_id long, embedding array<float>").cache()


def _np_topk(emb_pdf, q, k):
    M = np.array(emb_pdf["embedding"].tolist(), dtype="float64")
    qv = np.asarray(q, dtype="float64")
    sims = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((emb_pdf["vec_id"].to_numpy(), -sims))
    return [int(emb_pdf["vec_id"].iloc[i]) for i in order[:k]]


def test_brute_force_matches_numpy(spark, emb_df, emb_pdf):
    q = emb_pdf["embedding"].iloc[0]
    got = brute_force_topk(emb_df, q, k=10).toPandas().sort_values("rank")
    assert got["vec_id"].tolist() == _np_topk(emb_pdf, q, 10)


def test_knn_join_per_query(spark, emb_df, emb_pdf):
    queries = spark.createDataFrame(
        emb_pdf.iloc[:3].rename(columns={"vec_id": "query_id"}),
        "query_id long, embedding array<float>",
    )
    got = knn_join(emb_df, queries, k=5).toPandas()
    assert set(got["query_id"]) == {0, 1, 2}
    for qid in range(3):
        sub = got[got.query_id == qid].sort_values("rank")
        assert sub["vec_id"].tolist() == _np_topk(emb_pdf, emb_pdf["embedding"].iloc[qid], 5)


def test_lsh_topk_recall(spark, emb_df, emb_pdf):
    q = emb_pdf["embedding"].iloc[0]
    exact = set(_np_topk(emb_pdf, q, 10))
    approx = set(lsh_topk(emb_df, q, k=10, n_bits=10, max_hamming=3).toPandas()["vec_id"])
    recall = len(exact & approx) / 10
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_embedding_dup_pairs_find_planted(spark, emb_df):
    pairs = embedding_dup_pairs(emb_df, threshold=0.999, n_bits=8).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, N) in found


def test_ivf_recall(spark, emb_df, emb_pdf):
    assigned, C = ivf_build(emb_df, n_cells=10)
    q = emb_pdf["embedding"].iloc[7]
    exact = set(_np_topk(emb_pdf, q, 10))
    approx = set(
        ivf_topk(assigned, C, q, k=10, nprobe=4).toPandas()["vec_id"]
    )
    recall = len(exact & approx) / 10
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_assignment_deterministic(spark, emb_df):
    a1, _ = ivf_build(emb_df, n_cells=10)
    a2, _ = ivf_build(emb_df.repartition(7), n_cells=10)
    p1 = a1.select("vec_id", "ivf_cell").toPandas().sort_values("vec_id")
    p2 = a2.select("vec_id", "ivf_cell").toPandas().sort_values("vec_id")
    assert p1["ivf_cell"].tolist() == p2["ivf_cell"].tolist()


def test_gemm_all_pairs_matches_exact(spark, emb_df, emb_pdf):
    """Regression: off-diagonal block combos must CANONICALIZE pairs,
    not filter pa<pb — the filter dropped ~half of all cross-block
    pairs (hash-assigned sides). Exactness check vs numpy all-pairs."""
    from fte.operators.similarity import all_pairs_topk_gemm

    got = all_pairs_topk_gemm(emb_df, k=20, n_blocks=4).toPandas().sort_values("pair_rank")
    M = np.array(emb_pdf["embedding"].tolist(), dtype="float64")
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    ids = emb_pdf["vec_id"].to_numpy()
    iu = np.triu_indices(len(ids), k=1)
    sims = S[iu]
    pa, pb = ids[iu[0]], ids[iu[1]]
    order = np.lexsort((pb, pa, -sims))[:20]
    expect = list(zip(pa[order].tolist(), pb[order].tolist()))
    assert list(zip(got["id_a"].tolist(), got["id_b"].tolist())) == expect
    assert np.allclose(got["cos_sim"].to_numpy(), sims[order], rtol=1e-9, atol=1e-12)


def test_ann_topk_plans_use_take_ordered(spark, emb_df, emb_pdf):
    """Scale gate: global top-k must plan as TakeOrderedAndProject
    (parallel partial top-k), never an unpartitioned window over the
    whole corpus (one task at 100x)."""
    from fte.operators.similarity import all_pairs_topk_gemm

    q = emb_pdf["embedding"].iloc[0]
    assigned, C = ivf_build(emb_df, n_cells=10)
    plans = {
        "brute_force": brute_force_topk(emb_df, q, k=5),
        "lsh": lsh_topk(emb_df, q, k=5, n_bits=8, max_hamming=3),
        "ivf": ivf_topk(assigned, C, q, k=5, nprobe=4),
        "gemm": all_pairs_topk_gemm(emb_df, k=5, n_blocks=4),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrderedAndProject\n{plan}"


def test_rh_signature_no_plan_time_action(spark):
    """Operator construction must not trigger a Spark job (the old
    impl ran df.head() to sniff the dim): build the signature over a
    column whose evaluation raises — construction must succeed."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    import pandas as pd

    from fte.operators.similarity import with_rh_signature

    @pandas_udf("array<double>")
    def boom(s: pd.Series) -> pd.Series:
        raise RuntimeError("evaluated at plan-build time")

    df = spark.range(4).select(
        F.col("id").alias("vec_id"), boom(F.col("id")).alias("embedding")
    )
    out = with_rh_signature(df, n_bits=8)
    assert "rh_sig" in out.columns


def test_l2_norm_arrow_matches_jvm(spark, emb_df, emb_pdf):
    """mapInArrow zero-copy norms vs plain numpy (float-order
    tolerance: cumulative-sum differencing reassociates the adds)."""
    from fte.operators.similarity import with_l2_norm_arrow

    got = (
        with_l2_norm_arrow(emb_df)
        .select("vec_id", "l2_norm")
        .toPandas()
        .sort_values("vec_id")
    )
    M = np.array(emb_pdf["embedding"].tolist(), dtype="float64")
    expect = np.linalg.norm(M, axis=1)
    assert np.allclose(got["l2_norm"].to_numpy(), expect, rtol=1e-7, atol=1e-12)


def test_knn_join_plan_no_corpus_shuffle(spark, emb_df, emb_pdf):
    """Scale gate (VERDICT r2 #2): the corpus must be scored by a
    per-partition GEMM (MapInPandas) with only ~k·Q candidate rows
    reaching the final per-query window — never a nested-loop join
    whose corpus×Q scored rows shuffle into Q window partitions."""
    queries = spark.createDataFrame(
        emb_pdf.iloc[:3].rename(columns={"vec_id": "query_id"}),
        "query_id long, embedding array<float>",
    )
    plan = knn_join(emb_df, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_knn_join_matches_hof_twin(spark, emb_df, emb_pdf):
    """The vectorized GEMM knn_join and the sequential HOF twin must
    agree on ids, ranks, and scores (to float tolerance) per query."""
    from fte.operators.similarity import knn_join_hof

    queries = spark.createDataFrame(
        emb_pdf.iloc[:3].rename(columns={"vec_id": "query_id"}),
        "query_id long, embedding array<float>",
    )
    a = (
        knn_join(emb_df.repartition(7), queries, k=5)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        knn_join_hof(emb_df, queries, k=5)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert a["query_id"].tolist() == b["query_id"].tolist()
    assert a["vec_id"].tolist() == b["vec_id"].tolist()
    assert a["rank"].tolist() == b["rank"].tolist()
    assert np.allclose(a["cos_sim"], b["cos_sim"], rtol=1e-9, atol=1e-12)


def _assert_rank_over_topk_only(plan: str, k: int):
    """Every Window in ``plan`` ranks the output of a
    TakeOrderedAndProject of at most k rows: no row_number over an
    unpartitioned window of the whole input (one task at scale)."""
    import re

    windows = re.findall(r"Window \[", plan)
    over_topk = re.findall(r"Window \[[^\n]*\n\s*\+- TakeOrderedAndProject\(limit=(\d+)", plan)
    assert windows and len(over_topk) == len(windows), plan
    assert all(int(n) <= k for n in over_topk), plan


def test_brute_force_topk_zero_shuffle(spark, emb_df, emb_pdf):
    """Exact single-query top-k is scan → score → TakeOrdered: no
    hash-partitioned Exchange anywhere (the post-limit rank window
    sorts <= k rows, not the corpus). The other global top-k users —
    quant_knn and the emb_top_pairs / top_terms catalog queries — rank
    only their TakeOrderedAndProject survivors too."""
    from pathlib import Path

    from fte.operators.similarity import quant_knn, quantize_embeddings
    from fte.queries_ml import q_emb_top_pairs, q_top_terms

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    q = emb_pdf["embedding"].iloc[0]
    plan = plan_of(brute_force_topk(emb_df, q, k=5))
    assert "Exchange hashpartitioning" not in plan, plan
    _assert_rank_over_topk_only(plan, 5)
    _bounds, quant = quantize_embeddings(emb_df)
    _assert_rank_over_topk_only(
        plan_of(quant_knn(quant, quant.where("id = 0").select("i", "q"), k=10)), 10
    )
    sf_dir = "/root/testdata/sf0.001"
    if not Path(sf_dir).exists():
        pytest.skip("driver testdata not present")
    _assert_rank_over_topk_only(plan_of(q_emb_top_pairs(spark, sf_dir)), 20)
    _assert_rank_over_topk_only(plan_of(q_top_terms(spark, sf_dir)), 50)


def test_embedding_dup_pairs_multi_table(spark, emb_df):
    """Multi-table LSH: unioned tables still find the planted pair,
    emit no duplicate (id_a, id_b) rows, and candidates are a superset
    of any single table's."""
    single = embedding_dup_pairs(emb_df, threshold=0.999, n_bits=12).toPandas()
    multi = embedding_dup_pairs(emb_df, threshold=0.999, n_bits=12, n_tables=3).toPandas()
    assert (0, N) in set(map(tuple, multi[["id_a", "id_b"]].to_numpy()))
    assert not multi.duplicated(["id_a", "id_b"]).any()
    assert len(multi) >= len(single)


def test_ivf_kmeans_driver_traffic_is_per_cell(spark, emb_df):
    """Pooling the IVF cells must collect O(n_cells) rows (one
    dim-length array per cell), NOT O(n_cells x dim) component rows —
    at 2^16 cells x 1024 dims the per-component shape is ~67M driver
    rows. Also checks each packed array is exactly dim
    long and dim-ordered (mean of a single known cell)."""
    from fte.operators.similarity import _ivf_assign, mean_pool_embeddings

    dim = len(emb_df.select("embedding").first()[0])
    C = np.eye(5, dim)[:5]
    assigned = _ivf_assign(emb_df, C)
    rows = mean_pool_embeddings(assigned, "ivf_cell").collect()
    n_cells_used = assigned.select("ivf_cell").distinct().count()
    assert len(rows) == n_cells_used  # one row per non-empty cell
    got = {r["ivf_cell"]: np.asarray(r["pooled"]) for r in rows}
    pdf = assigned.select("ivf_cell", "embedding").toPandas()
    for cell, ms in got.items():
        assert ms.shape == (dim,)
        member = np.stack(
            pdf.loc[pdf["ivf_cell"] == cell, "embedding"].map(np.asarray)
        ).astype("float64")
        np.testing.assert_allclose(ms, member.mean(axis=0), rtol=1e-12)


def test_mean_pool_embeddings_matches_numpy(spark):
    """Distributed mean pooling == numpy mean over each group, with
    deterministic component order and correct group sizes."""
    import numpy as np
    import pandas as pd

    from fte.operators.similarity import mean_pool_embeddings

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    pdf = pd.DataFrame({
        "vec_id": range(30),
        "grp": [i % 3 for i in range(30)],
        "embedding": [v.tolist() for v in vecs],
    })
    out = (
        mean_pool_embeddings(spark.createDataFrame(pdf), "grp")
        .orderBy("grp")
        .toPandas()
    )
    assert out["n_vecs"].tolist() == [10, 10, 10]
    for _, r in out.iterrows():
        expect = vecs[np.arange(30) % 3 == r["grp"]].astype("float64").mean(axis=0)
        got = np.array(r["pooled"])
        assert got.shape == (8,)
        np.testing.assert_allclose(got, expect, rtol=1e-12)


def test_gemm_all_pairs_deterministic_under_ties(spark):
    """Tied scores at the local-k boundary must be broken
    deterministically (by id_a, id_b), not by argpartition order: 12
    copies of one vector give 66 pairs all at cos_sim exactly 1.0; the
    global top-10 must be the lexicographically-first pairs, stable
    across runs and partitionings."""
    from fte.operators.similarity import all_pairs_topk_gemm

    v = [1.0, 2.0, 3.0, 4.0]
    pdf = pd.DataFrame({
        "vec_id": range(12),
        "embedding": [v] * 12,
    })
    df = spark.createDataFrame(pdf)
    expect = sorted(
        [(a, b) for a in range(12) for b in range(a + 1, 12)]
    )[:10]
    for parts in (1, 5):
        got = (
            all_pairs_topk_gemm(df.repartition(parts), k=10, n_blocks=3)
            .orderBy("pair_rank")
            .toPandas()
        )
        assert list(zip(got["id_a"], got["id_b"])) == expect
        assert got["cos_sim"].round(9).tolist() == [1.0] * 10


def test_ivf_knn_join_matches_per_query_ivf_topk(spark, emb_df, emb_pdf):
    """Batch IVF ANN must equal the single-query ivf_topk per query
    (same cells, same nprobe): identical ids, ranks, and scores."""
    from fte.operators.similarity import ivf_knn_join

    assigned, C = ivf_build(emb_df, n_cells=10)
    queries = spark.createDataFrame(
        emb_pdf.iloc[:3].rename(columns={"vec_id": "query_id"}),
        "query_id long, embedding array<float>",
    )
    batch = (
        ivf_knn_join(assigned.repartition(5), C, queries, k=5, nprobe=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    for qid in range(3):
        q = emb_pdf["embedding"].iloc[qid]
        single = (
            ivf_topk(assigned, C, q, k=5, nprobe=3)
            .toPandas().sort_values("rank")
        )
        sub = batch[batch["query_id"] == qid]
        assert sub["vec_id"].tolist() == single["vec_id"].tolist()
        assert np.allclose(sub["cos_sim"].to_numpy(), single["cos_sim"].to_numpy(),
                           rtol=1e-9, atol=1e-12)


def test_knn_join_empty_query_set_returns_empty(spark, emb_df):
    """An empty query set yields an empty DataFrame with the result
    schema (it used to raise during plan construction)."""
    from fte.operators.similarity import ivf_knn_join

    queries = spark.createDataFrame([], "query_id long, embedding array<float>")
    out = knn_join(emb_df, queries, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "cos_sim", "rank"}
    assigned, C = ivf_build(emb_df, n_cells=10)
    out2 = ivf_knn_join(assigned, C, queries, k=5)
    assert out2.count() == 0


def test_ann_single_query_with_every_candidate_is_brute_force(spark, emb_df, emb_pdf):
    """lsh_topk and ivf_topk only filter candidates before the one
    exact scorer: admitting every candidate (max_hamming = n_bits,
    nprobe = n_cells) gives brute_force_topk's ids, ranks and scores."""
    q = emb_pdf["embedding"].iloc[3]
    exact = brute_force_topk(emb_df, q, k=10).toPandas().sort_values("rank")
    assigned, C = ivf_build(emb_df, n_cells=10)
    for name, df in {
        "lsh": lsh_topk(emb_df, q, k=10, n_bits=12, max_hamming=12),
        "ivf": ivf_topk(assigned, C, q, k=10, nprobe=10),
    }.items():
        got = df.toPandas().sort_values("rank")
        assert got["vec_id"].tolist() == exact["vec_id"].tolist(), name
        assert got["rank"].tolist() == list(range(1, 11)), name
        np.testing.assert_allclose(got["cos_sim"], exact["cos_sim"], rtol=1e-12, err_msg=name)


def test_zero_norm_vector_scores_null_on_every_path(spark):
    """A zero vector's cosine is NULL and ranks after every score on
    every path (DuckDB's x / 0.0 is NULL too). knn_join used to score it
    0.0, above a -1.0 row, and knn_join_hof raised DIVIDE_BY_ZERO
    under ANSI."""
    from fte.operators.similarity import ivf_knn_join, knn_join_hof

    vecs = [[1.0, 0.0, 0.0], [0.0, 0.0, 0.0], [-1.0, 0.0, 0.0],
            [0.0, 1.0, 0.0], [0.5, 0.5, 0.0], [0.9, 0.1, 0.0]]
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(6), "embedding": vecs}),
        "vec_id long, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0]
    queries = spark.createDataFrame([(0, q)], "query_id long, embedding array<float>")
    assigned, C = ivf_build(corpus, n_cells=3)
    paths = {
        "brute_force": brute_force_topk(corpus, q, k=6),
        "lsh": lsh_topk(corpus, q, k=6, n_bits=8, max_hamming=8),
        "ivf": ivf_topk(assigned, C, q, k=6, nprobe=3),
        "knn_join": knn_join(corpus, queries, k=6),
        "ivf_knn_join": ivf_knn_join(assigned, C, queries, k=6, nprobe=3),
        "knn_join_hof": knn_join_hof(corpus, queries, k=6),
    }
    got = {
        name: df.select("vec_id", "rank", "cos_sim").orderBy("rank").collect()
        for name, df in paths.items()
    }
    ref = [r["cos_sim"] for r in got["brute_force"]]
    for name, rows in got.items():
        assert [(r["vec_id"], r["rank"]) for r in rows] == [
            (0, 1), (5, 2), (4, 3), (3, 4), (2, 5), (1, 6)
        ], name
        sims = [r["cos_sim"] for r in rows]
        assert sims[-1] is None, name
        np.testing.assert_allclose(sims[:-1], ref[:-1], rtol=1e-9, atol=1e-12, err_msg=name)
    assert ref[-2] == pytest.approx(-1.0)


def test_rh_signature_n_bits_out_of_range_raises(spark, emb_df):
    """A signature is a positive long: n_bits outside 1..63 raises
    ValueError (not an assert, which ``python -O`` strips)."""
    from fte.operators.similarity import with_rh_signature

    for bad in (0, 64):
        with pytest.raises(ValueError, match="n_bits"):
            with_rh_signature(emb_df, n_bits=bad)
