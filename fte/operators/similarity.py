"""Similarity search over embedding columns (array<float>).

Tiers (cost/recall points):
- brute_force_topk: exact cosine top-k for a single query vector —
  one scan with a vectorized per-batch numpy GEMV, global top-k via
  ``fte.functions.top_k`` (TakeOrderedAndProject: parallel
  per-partition partial top-k, k-row merge at the driver — never a
  single-task window). The correctness baseline, and the one
  single-query scorer: lsh_topk and ivf_topk only filter candidates.
- knn_join: exact top-k for a (small, broadcastable) query SET — the
  L2-normalized query matrix is broadcast, each corpus partition
  scores it with one numpy GEMM per Arrow batch and keeps a top-k plus
  ties per query, and a per-query window ranks the survivors. Fine up
  to ~10^3 queries × 10^8 corpus on a big cluster. ivf_knn_join is the
  same driver (``_batch_knn``) restricted to each query's probed cells.
- lsh_topk / with_rh_signature: random-hyperplane LSH — signature
  bucketing bounds the candidate set so the scale path touches only
  matching buckets. Recall is tunable by (n_bits, max_hamming).
- ivf_topk: inverted-file index — centroids sampled deterministically,
  rows assigned to nearest centroid (one vectorized pass), queries
  probe the nprobe nearest centroid cells only. The classic ANN layout
  for 100 TB corpora: cell assignment is written once (partition the
  table by ivf_cell), queries prune by cell.

Every cosine against a zero vector is NULL and ranks after every
score (``_row_norms`` in numpy, ``try_divide`` in ``cosine``), as
DuckDB's ``x / 0.0`` is.

Inner loops are Arrow-batched pandas UDFs doing ONE numpy GEMM per
batch against the hyperplane / centroid matrix — higher-order-function
folds (F.aggregate/zip_with) are interpreted per element (~100µs/elem,
see CLAUDE.md), which made them the whole job at 10^9 rows × 768 dims.
The HOF forms are kept only as `dot`/`norm`/`cosine` expression helpers
for oracle-parity queries that must match DuckDB's sequential
accumulation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from fte.functions import top_k


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """JVM HOF dot — sequential accumulation, matches SQL oracles
    ulp-for-ulp. Interpreted per element: use only in oracle-parity
    queries, never in the ANN hot path."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    """NULL against a zero vector (a plain ``/`` raises under ANSI)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b)).cast("double")


def _stack(vs: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(v, dtype="float64") for v in vs.to_numpy()])


def _row_norms(M: np.ndarray) -> np.ndarray:
    """L2 norm of each row (the last axis), NaN for a zero row — the one
    zero-norm rule of every numpy cosine here. Dividing by it makes
    every score of a zero vector NaN, which reaches Spark as NULL and
    ranks after every non-NULL score (DuckDB's ``x / 0.0`` is NULL
    too)."""
    n = np.linalg.norm(M, axis=-1)
    return np.where(n == 0, np.nan, n)


def _topk_ties(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k scores plus every tie at the kth (a tied
    boundary row could still win on id order in the final exact rank);
    NaN (NULL) scores rank last."""
    if len(scores) <= k:
        return np.arange(len(scores))
    key = np.where(np.isnan(scores), np.inf, -scores)
    kth = np.partition(key, k - 1)[k - 1]
    return np.flatnonzero(key <= kth)


def _flat_vectors(batch, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """(flat float64 values, per-row lengths) of a list column in an
    Arrow batch: the value buffer viewed as one numpy array, no
    per-row object materialization."""
    col = batch.column(batch.schema.get_field_index(vec_col))
    vals = col.flatten().to_numpy(zero_copy_only=False).astype("float64")
    return vals, col.value_lengths().to_numpy(zero_copy_only=False)


def _cosine_pair_udf():
    """Vectorized row-wise cosine between two array columns: stacked
    per Arrow batch, one einsum + two batched norms — the verify-stage
    replacement for the interpreted HOF cosine (which at 768 dims was
    the whole verify cost). Defined inside a function: module-level
    pandas_udf DDL parsing needs a live SparkSession (CLAUDE.md)."""

    @pandas_udf("double")
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = _stack(va)
        B = _stack(vb)
        return pd.Series(np.einsum("ij,ij->i", A, B) / (_row_norms(A) * _row_norms(B)))

    return pair_cos


def _cosine_q_udf(query_vec):
    """Vectorized cosine vs one query vector: one numpy GEMV per Arrow
    batch (BLAS), ~100x the interpreted HOF fold."""
    q = np.asarray([float(x) for x in query_vec], dtype="float64")
    qn = _row_norms(q)

    @pandas_udf("double")
    def cos_q(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        V = _stack(vs)
        return pd.Series((V @ q) / (_row_norms(V) * qn))

    return cos_q


def brute_force_topk(
    df: DataFrame, query_vec, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k vs one query vector: the one single-query
    scorer (``lsh_topk`` and ``ivf_topk`` filter their candidates and
    call it)."""
    sim = _cosine_q_udf(query_vec)(F.col(vec_col))
    scored = df.select(id_col, sim.alias("cos_sim"))
    return top_k(scored, [F.desc("cos_sim"), F.asc(id_col)], k)


def _collect_query_matrix(queries: DataFrame, query_id: str, query_vec: str):
    """(qids int64 array, L2-normalized float64 matrix) from a small
    query DataFrame, or None when the set is empty. Query ids must be
    integral (the engine's vec_id contract); string-keyed queries
    should map to a surrogate long first."""
    qrows = queries.select(query_id, query_vec).collect()
    if not qrows:
        return None
    qids = np.array([int(r[0]) for r in qrows], dtype="int64")
    Q = np.stack([np.asarray(list(r[1]), dtype="float64") for r in qrows])
    return qids, Q / _row_norms(Q)[:, None]


def _gemm_partition_topk(bc, k: int, corpus_id: str, corpus_vec: str, query_id: str):
    """mapInPandas body of the batch kNN driver: one numpy GEMM per
    Arrow batch against the broadcast query matrix, a partition-local
    top-k-plus-ties accumulator per query, ~k·Q rows emitted per
    partition. With a probe set (third broadcast element), scores
    outside a query's probed ``ivf_cell``s are masked before selection
    (the IVF variant)."""

    def part_topk(batches):
        qids_, Qn_, probe_ = bc.value
        nq = len(qids_)
        cand_ids: list[list[np.ndarray]] = [[] for _ in range(nq)]
        cand_sims: list[list[np.ndarray]] = [[] for _ in range(nq)]

        def keep_topk(ids: np.ndarray, sims: np.ndarray):
            sel = _topk_ties(sims, k)
            return ids[sel], sims[sel]

        for pdf in batches:
            if not len(pdf):
                continue
            V = _stack(pdf[corpus_vec])
            S = (V / _row_norms(V)[:, None]) @ Qn_.T  # (batch, Q) — one GEMM
            ids = pdf[corpus_id].to_numpy()
            cells = pdf["ivf_cell"].to_numpy() if probe_ is not None else None
            for j in range(nq):
                if cells is not None:
                    m = np.isin(cells, probe_[j])
                    if not m.any():
                        continue
                    bi, bs = keep_topk(ids[m], S[m, j])
                else:
                    bi, bs = keep_topk(ids, S[:, j])
                cand_ids[j].append(bi)
                cand_sims[j].append(bs)
        out_q, out_i, out_s = [], [], []
        for j in range(nq):
            if not cand_ids[j]:
                continue
            ids = np.concatenate(cand_ids[j])
            sims = np.concatenate(cand_sims[j])
            ids, sims = keep_topk(ids, sims)
            out_q.append(np.full(len(ids), qids_[j], dtype="int64"))
            out_i.append(ids)
            out_s.append(sims)
        if out_q:
            yield pd.DataFrame(
                {
                    query_id: np.concatenate(out_q),
                    corpus_id: np.concatenate(out_i),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    return part_topk


def _batch_knn(
    corpus: DataFrame, queries: DataFrame, k: int, corpus_id: str, corpus_vec: str,
    query_id: str, query_vec: str, centroids: np.ndarray | None = None, nprobe: int = 0,
) -> DataFrame:
    """The one batch-kNN driver behind ``knn_join`` and ``ivf_knn_join``:
    collect the query matrix, broadcast it, score every corpus
    partition with ``_gemm_partition_topk``, rank the survivors with a
    per-query window. With ``centroids``, each query probes its
    ``nprobe`` best cells and the corpus is filtered to their union."""
    spark = corpus.sparkSession
    qm = _collect_query_matrix(queries, query_id, query_vec)
    if qm is None:
        return spark.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, cos_sim double, rank int"
        )
    qids, Qn = qm
    cols = [corpus_id, corpus_vec]
    probe = None
    if centroids is not None:
        C = np.ascontiguousarray(centroids, dtype="float64")
        probe = np.argsort(-(Qn @ C.T), axis=1)[:, :nprobe]  # (Q, nprobe)
        union_cells = sorted({int(c) for row in probe for c in row})
        corpus = corpus.filter(F.col("ivf_cell").isin(union_cells))
        cols.append("ivf_cell")
    bc = spark.sparkContext.broadcast((qids, Qn, probe))
    out_schema = f"{query_id} long, {corpus_id} long, cos_sim double"
    part_topk = _gemm_partition_topk(bc, k, corpus_id, corpus_vec, query_id)
    scored = corpus.select(*cols).mapInPandas(part_topk, out_schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k per query row for a (small, broadcastable) query
    set. Output: (query_id, vec_id, cos_sim, rank). An empty query
    set returns an empty result (correct schema); query ids must be
    integral (see _collect_query_matrix).

    Scale shape: the query set is materialized ONCE into an L2-
    normalized numpy matrix and broadcast; each corpus partition runs
    one numpy GEMM per Arrow batch against it (BLAS — the interpreted
    HOF fold it replaces costs ~100µs/element, which at 10^9 rows ×
    768 dims × Q queries IS the job) and keeps a partition-local
    top-k-plus-ties per query. Only ~k·Q rows leave each partition, so
    the final exact per-query window ranks ≤ k·n_partitions rows per
    query — the corpus×Q scored rows never shuffle (the old
    formulation shuffled them all into Q window partitions, capping
    parallelism at Q). ``knn_join_hof`` is the sequential-accumulation
    twin kept for cross-checking only.
    """
    return _batch_knn(corpus, queries, k, corpus_id, corpus_vec, query_id, query_vec)


def knn_join_hof(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Sequential-accumulation twin of ``knn_join`` (JVM HOF cosine,
    broadcast nested-loop + per-query window). Matches a SQL engine's
    dot-product ulp-for-ulp — kept ONLY for oracle-parity cross-checks
    and tests; the interpreted per-element fold and the corpus×Q
    window shuffle disqualify it at scale."""
    q = queries.select(
        F.col(query_id), _as_double(query_vec).alias("_qv")
    )
    c = corpus.select(F.col(corpus_id), _as_double(corpus_vec).alias("_cv"))
    joined = c.crossJoin(F.broadcast(q))
    sim = cosine(F.col("_cv"), F.col("_qv")).alias("cos_sim")
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(corpus_id))
    return (
        joined.select(query_id, corpus_id, sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def with_l2_norm_arrow(df: DataFrame, vec_col: str = "embedding", out_col: str = "l2_norm") -> DataFrame:
    """Per-row L2 norm of an array<float> column via ``mapInArrow`` —
    the zero-pandas Arrow path: the list column's flat value buffer is
    viewed as one numpy array (no per-row object materialization),
    row sums come from offset differencing of one cumulative sum.
    Demonstrates the mapInArrow surface (SURVEY §2.B) where even the
    pandas_udf Series-of-ndarray conversion is too much overhead."""
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)])

    def add_norm(batches):
        for batch in batches:
            vals, lens = _flat_vectors(batch, vec_col)
            lens = lens.astype("int64")
            ends = np.cumsum(lens)
            starts = ends - lens
            csum = np.concatenate([[0.0], np.cumsum(vals * vals)])
            norms = np.sqrt(csum[ends] - csum[starts])
            yield batch.append_column(out_col, pa.array(norms, type=pa.float64()))

    return df.mapInArrow(add_norm, out_schema)


# --------------------------------------------- random-hyperplane LSH

def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 0x51617])
    return rng.standard_normal((n_bits, dim))


def _sign_bits(V: np.ndarray, H: np.ndarray):
    """Bit i = sign(v · h_i) > 0, packed little-endian into an int64 per
    row of ``V`` (a scalar for one vector)."""
    bits = (V @ H.T) > 0.0
    return (bits.astype("int64") * (1 << np.arange(len(H), dtype="int64"))).sum(axis=-1)


def with_rh_signature(
    df: DataFrame, vec_col: str = "embedding", n_bits: int = 16, seed: int = 42,
    dim: int | None = None, out_col: str = "rh_sig",
) -> DataFrame:
    """Random-hyperplane signature: bit i = sign(v · h_i). Cosine-close
    vectors agree on most bits.

    One numpy GEMM per Arrow batch against the (n_bits × dim)
    hyperplane matrix, regenerated deterministically from (seed, dim)
    on each worker — no driver-side action at plan-build time (``dim``
    is read from the data inside the UDF; the parameter is accepted
    only as a consistency check). n_bits ≤ 63.
    """
    if not 0 < n_bits <= 63:
        raise ValueError(f"n_bits must be in 1..63 to fit a positive long, got {n_bits}")
    check_dim = dim
    cache: dict[int, np.ndarray] = {}

    @pandas_udf("long")
    def sig_udf(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        V = _stack(vs)
        d = V.shape[1]
        if check_dim is not None and d != check_dim:
            raise ValueError(f"embedding dim {d} != declared {check_dim}")
        H = cache.get(d)
        if H is None:
            H = cache.setdefault(d, _hyperplanes(d, n_bits, seed))
        return pd.Series(_sign_bits(V, H))

    return df.withColumn(out_col, sig_udf(F.col(vec_col)))


def _query_signature(query_vec, n_bits: int, seed: int) -> int:
    """Driver-side twin of with_rh_signature for a single vector, so
    the query's signature matches what the corpus pass assigns it."""
    qv = np.asarray([float(x) for x in query_vec], dtype="float64")
    return int(_sign_bits(qv, _hyperplanes(len(qv), n_bits, seed)))


def lsh_topk(
    df: DataFrame, query_vec, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
    n_bits: int = 12, max_hamming: int = 2, seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: scan only rows whose signature is
    within ``max_hamming`` bits of the query's — at 10^9+ rows combine
    with a signature-partitioned layout so the filter prunes files."""
    q_sig = _query_signature(query_vec, n_bits, seed)
    sigged = with_rh_signature(df, vec_col, n_bits, seed)
    cand = sigged.filter(
        F.bit_count(F.col("rh_sig").bitwiseXOR(F.lit(q_sig))) <= max_hamming
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def embedding_dup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_bits: int = 12, seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via signature-bucket
    self-join (exact cosine verified inside buckets). Pairs whose
    signatures differ are missed — the standard LSH tradeoff;
    ``n_tables`` > 1 unions independent hash tables (distinct seeds):
    miss probability decays exponentially in the table count
    (p_miss ≈ (1-p_same_sig)^n_tables) for ~n_tables× candidate cost.
    """

    def one_table(t: int) -> DataFrame:
        sigged = with_rh_signature(df, vec_col, n_bits, seed + 7919 * t).select(
            id_col, F.col(vec_col), "rh_sig"
        )
        a = sigged.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("rh_sig")
        )
        b = sigged.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("rh_sig")
        )
        return (
            a.join(b, "rh_sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_va", "_vb")
        )

    cand = one_table(0)
    for t in range(1, n_tables):
        cand = cand.unionByName(one_table(t))
    if n_tables > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    # verify stage: candidates are bucket-bounded, but at 768 dims the
    # exact-cosine check must be the same per-batch vectorized numpy
    # as the signature stage, not an interpreted per-element HOF fold
    pair_cos = _cosine_pair_udf()
    return (
        cand.withColumn("cos_sim", pair_cos(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ------------------------------------------------------ blockwise GEMM

def all_pairs_topk_gemm(
    df: DataFrame, k: int = 20, id_col: str = "vec_id", vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact global top-k most-similar pairs via blockwise numpy GEMM.

    The scale path for all-pairs similarity: rows are hashed into
    ``n_blocks`` blocks; each of the n(n+1)/2 block pairs is one task
    that runs a dense (block × block) cosine GEMM in numpy (Arrow in,
    vectorized BLAS, no per-pair interpretation) and emits only its
    local top-k; a final orderBy+limit keeps the global top-k. Every
    unordered pair lives in exactly one block combo: diagonal combos
    (bx == by) see each pair twice (as (i,j) and (j,i) — keep i<j);
    off-diagonal combos see it once with arbitrary side order — so it
    is CANONICALIZED (lo, hi), never filtered, else half the
    cross-block pairs would be dropped.

    Memory per task = 2 blocks of vectors + a block² score tile —
    size n_blocks so block² tiles fit the executor (at 10^9 rows use
    LSH/IVF instead; GEMM all-pairs is for 10^5-10^7 corpora).
    """
    b = df.select(
        F.col(id_col).cast("long").alias("_id"),
        _as_double(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    grouped = b.groupBy("_blk").agg(
        F.collect_list(F.struct("_id", "_v")).alias("_rows")
    )
    x = grouped.select(F.col("_blk").alias("_bx"), F.col("_rows").alias("_rx"))
    y = grouped.select(F.col("_blk").alias("_by"), F.col("_rows").alias("_ry"))
    combos = x.crossJoin(y).filter(F.col("_bx") <= F.col("_by"))

    out_schema = "id_a long, id_b long, cos_sim double"

    def gemm(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ra, rb = row["_rx"], row["_ry"]
                ida = np.array([r["_id"] for r in ra], dtype="int64")
                idb = np.array([r["_id"] for r in rb], dtype="int64")
                A = np.array([r["_v"] for r in ra], dtype="float64")
                B = np.array([r["_v"] for r in rb], dtype="float64")
                S = (A / _row_norms(A)[:, None]) @ (B / _row_norms(B)[:, None]).T
                n_b = len(idb)
                # r6: threshold on SCORES first and materialize id
                # pairs for survivors only — the old path built two
                # full block² int64 id meshes before any filtering
                # (gigabytes of allocation across combos at 10^5+
                # blocks). Selection is bit-identical: same element
                # multiset, same kth-threshold-keep-ties rule, same
                # final (-score, id_a, id_b) lexsort.
                if row["_bx"] == row["_by"]:
                    # each pair appears twice ((i,j) and (j,i)): keep
                    # the id-ordered copy (bool mask, not id meshes)
                    mask = (ida[:, None] < idb[None, :]).ravel()
                    flat = np.flatnonzero(mask)
                    s = S.ravel()[flat]
                else:
                    flat = None  # every element is a distinct pair
                    s = S.ravel()
                keep = _topk_ties(s, k)
                cand = flat[keep] if flat is not None else keep
                ia, ib = np.divmod(cand, n_b)
                pa, pb, s = ida[ia], idb[ib], s[keep]
                if row["_bx"] != row["_by"]:
                    # each pair appears ONCE with arbitrary side order:
                    # canonicalize lo/hi (a < filter here would drop
                    # ~half of all cross-block pairs)
                    lo = np.minimum(pa, pb)
                    hi = np.maximum(pa, pb)
                    pa, pb = lo, hi
                # lexsort the small survivor set by (-score, id_a,
                # id_b) — the same total order the global merge uses —
                # and truncate
                top = np.lexsort((pb, pa, -s))[:k]
                pa, pb, s = pa[top], pb[top], s[top]
                yield pd.DataFrame({"id_a": pa, "id_b": pb, "cos_sim": s})

    local = combos.mapInPandas(gemm, out_schema)
    order = [F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b")]
    return top_k(local, order, k, rank_col="pair_rank")


# ---------------------------------------------------------------- IVF

def _ivf_assign(df: DataFrame, C: np.ndarray, vec_col: str = "embedding") -> DataFrame:
    """Nearest (max-dot) centroid per row: one numpy GEMM per Arrow
    batch against the broadcast centroid matrix (ties go to the lowest
    cell index — np.argmax)."""
    Cmat = np.ascontiguousarray(C, dtype="float64")

    @pandas_udf("int")
    def cell_udf(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        V = _stack(vs)
        return pd.Series(np.argmax(V @ Cmat.T, axis=1).astype("int32"))

    return df.withColumn("ivf_cell", cell_udf(F.col(vec_col)))


def ivf_build(
    df: DataFrame, n_cells: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """Assign every row to its nearest (max-dot) centroid.

    Centroids are a deterministic sample of the data (k-means init
    without the iterations — adequate for bucketing). Returns
    (assigned_df with `ivf_cell`, centroids array). At scale, write
    the assigned table partitioned by ivf_cell so queries prune cells
    at the scan.
    """
    sample = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_cells)
        .collect()
    )
    C = np.array([list(r[0]) for r in sample], dtype="float64")
    return _ivf_assign(df, C, vec_col), C


def ivf_topk(
    assigned: DataFrame, centroids: np.ndarray, query_vec, k: int = 10,
    nprobe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe best cells only, exact cosine inside them."""
    qv = np.asarray([float(x) for x in query_vec])
    probe = [int(i) for i in np.argsort(-(centroids @ qv))[:nprobe]]
    cand = assigned.filter(F.col("ivf_cell").isin(probe))
    return brute_force_topk(cand, qv, k, id_col, vec_col)


def ivf_knn_join(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Batch ANN: approximate top-k per query over an IVF-assigned
    corpus — the batch twin of ``ivf_topk`` with ``knn_join``'s
    per-partition GEMM discipline.

    Each query probes its ``nprobe`` best cells (driver-side argsort
    against the tiny centroid matrix). ONE corpus pass scans only the
    union of probed cells (at scale the assigned table is partitioned
    by ivf_cell, so this prunes files at the scan); inside each Arrow
    batch one GEMM scores all queries at once and scores outside a
    query's probe set are masked out before the partition-local
    top-k. Only ~k·Q candidate rows leave each partition.

    Output: (query_id, vec_id, cos_sim, rank) — rank within the
    probed cells (approximate; agreement vs exact knn_join is gated
    in the catalog). Empty query sets return an empty result."""
    return _batch_knn(
        assigned, queries, k, corpus_id, corpus_vec, query_id, query_vec,
        centroids=centroids, nprobe=nprobe,
    )


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    out_col: str = "pooled",
) -> DataFrame:
    """Per-group mean pooling of a vector column (turn embeddings →
    one conversation embedding; chunk embeddings → one doc embedding)
    WITHOUT Python: posexplode the components, hash-aggregate the
    per-(group, position) means (map-side partial combine — the
    shuffle carries (group, pos, sum, count), never whole vectors
    twice), then reassemble the pooled vector in-aggregate
    (array_sort(collect_list(struct(pos, mean))) + struct-field
    extraction — no interpreted transform lambda).

    Two exchanges ((group,pos) then group) of fixed-width rows; at
    10^9 vectors × d dims this is the standard distributed pooling
    shape. Output: (group_col, n_vecs, pooled array<double>).
    """
    ex = df.select(
        F.col(group_col),
        F.col(vec_col).alias("_v"),
    ).select(
        group_col,
        F.posexplode("_v").alias("_pos", "_x"),
    )
    comp = ex.groupBy(group_col, "_pos").agg(
        F.avg(F.col("_x").cast("double")).alias("_m"),
        F.count(F.lit(1)).alias("_c"),
    )
    agg = comp.groupBy(group_col).agg(
        (F.sum("_c") / F.count(F.lit(1))).cast("long").alias("n_vecs"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_pos").alias("p"), F.col("_m").alias("m")))
        ).alias("_a"),
    )
    return agg.select(
        group_col, "n_vecs", F.col("_a").getField("m").alias(out_col)
    )


# --------------------------------------- covariance / PCA / quantization

def emb_covariance(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    dims: int | None = None, decimal_scale: int = 12,
) -> DataFrame:
    """Upper-triangle covariance matrix of an embedding column as
    (i, j, n, cov) rows, i ≤ j — the input to PCA / whitening /
    Mahalanobis, in an ORACLE-REPRODUCIBLE form.

    Shape (round-6 rewrite): two chained posexplodes — (i, x_i) from
    the sliced vector, then (j, x_j) from its tail slice starting at i
    — generate the same (i ≤ j) pair rows the old explode+self-join
    produced, but entirely scan-side (codegen Generate nodes, ZERO
    data shuffle: the old SortMergeJoin shuffled N·d rows twice and
    was the single most expensive bench query at the driver's sf1.0,
    11.1 s). The only exchange left is the ≤ d(d+1)/2-row partial-
    aggregate merge. Per-pair sums accumulate in DECIMAL (products at
    2·scale digits) so they are exact and order-independent — the
    rewrite is bit-identical to the join formulation, pair set
    included (row (i, j) exists iff the vector has ≥ j+1 elements,
    exactly the join's explode×explode membership).

    This is the PARITY twin for oracle runs and d ≤ ~100; the
    768-dim-scale path is still ``emb_covariance_gemm`` (one numpy
    X^T X per Arrow batch, d²-row partials), pytest-allclose-gated
    against this one.

    ``dims`` optionally restricts to the first ``dims`` components
    (slice pushdown before the explode — the d² blowup never happens).
    """
    v = F.col(vec_col)
    if dims is not None:
        v = F.slice(v, 1, dims)
    base = df.select(F.col(id_col).alias("_id"), v.alias("_v"))
    e1 = base.select("_v", F.posexplode("_v").alias("_i", "_xi"))
    pairs = e1.select(
        "_i",
        F.col("_xi").cast("double").alias("_x"),
        F.posexplode(
            F.slice(F.col("_v"), F.col("_i") + 1, F.size("_v") - F.col("_i"))
        ).alias("_p", "_yj"),
    ).select(
        "_i",
        (F.col("_i") + F.col("_p")).alias("_j"),
        "_x",
        F.col("_yj").cast("double").alias("_y"),
    )
    dcast = f"decimal(38,{decimal_scale})"
    pcast = f"decimal(38,{decimal_scale * 2})"
    g = pairs.groupBy(F.col("_i").alias("i"), F.col("_j").alias("j")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_x").cast(dcast)).cast("double").alias("_sx"),
        F.sum(F.col("_y").cast(dcast)).cast("double").alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(pcast)).cast("double").alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n",
        (F.col("_sxy") / nd - (F.col("_sx") / nd) * (F.col("_sy") / nd)).alias("cov"),
    )


def emb_covariance_gemm(
    df: DataFrame, vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path covariance: one numpy X^T X (plus Σx, n) per Arrow
    batch, emitted as d² partial rows per batch, merged by one tiny
    (i, j) hash aggregate. The corpus is read ONCE, nothing shuffles
    except d²-row partials (d=768 → 590k tiny rows per partition —
    kilobytes), no driver collect. Float64 partial sums differ from
    the decimal-exact twin only in accumulation order; the pytest
    gate asserts allclose against ``emb_covariance``."""
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("i", T.LongType()), T.StructField("j", T.LongType()),
        T.StructField("_n", T.LongType()), T.StructField("_sx", T.DoubleType()),
        T.StructField("_sy", T.DoubleType()), T.StructField("_sxy", T.DoubleType()),
    ])

    def partials(batches):
        for batch in batches:
            vals, lens = _flat_vectors(batch, vec_col)
            if len(lens) == 0:
                continue
            X = vals.reshape(-1, int(lens[0]))
            d = X.shape[1]
            n = X.shape[0]
            sx = X.sum(axis=0)
            xtx = X.T @ X
            iu, ju = np.triu_indices(d)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu.astype("int64")),
                    pa.array(ju.astype("int64")),
                    pa.array(np.full(len(iu), n, dtype="int64")),
                    pa.array(sx[iu]),
                    pa.array(sx[ju]),
                    pa.array(xtx[iu, ju]),
                ],
                schema=pa.schema([
                    ("i", pa.int64()), ("j", pa.int64()), ("_n", pa.int64()),
                    ("_sx", pa.float64()), ("_sy", pa.float64()), ("_sxy", pa.float64()),
                ]),
            )

    part = df.select(vec_col).mapInArrow(partials, out_schema)
    g = part.groupBy("i", "j").agg(
        F.sum("_n").cast("long").alias("n"),
        F.sum("_sx").alias("_sx"),
        F.sum("_sy").alias("_sy"),
        F.sum("_sxy").alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        "i", "j", "n",
        (F.col("_sxy") / nd - (F.col("_sx") / nd) * (F.col("_sy") / nd)).alias("cov"),
    )


def pca_fit(cov_rows, d: int) -> tuple[np.ndarray, np.ndarray]:
    """Eigendecomposition of a covariance matrix given as collected
    (i, j, cov) upper-triangle rows (d² values — KILOBYTES on the
    driver even at d=1024; the corpus itself never moves). Returns
    (eigvals desc, components[k][d] row-major) with a deterministic
    sign convention (largest-|loading| component ≥ 0, ties to the
    lower index) so downstream projections are reproducible."""
    S = np.zeros((d, d))
    for r in cov_rows:
        S[int(r["i"]), int(r["j"])] = r["cov"]
        S[int(r["j"]), int(r["i"])] = r["cov"]
    vals, vecs = np.linalg.eigh(S)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    for k in range(vecs.shape[1]):
        idx = int(np.argmax(np.abs(vecs[:, k])))
        if vecs[idx, k] < 0:
            vecs[:, k] = -vecs[:, k]
    return vals, vecs.T


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    n_levels: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """Per-dimension scalar quantization (the int8 memory layout every
    production ANN index uses — 4× smaller than float32, 8× than
    float64): q = min(L−1, floor((x − min_d) · L / (max_d − min_d)))
    − L/2, yielding levels in [−L/2, L/2).

    floor, not round: round-half boundary conventions differ between
    engines; floor is exact everywhere, so the quantized values — and
    every integer dot product over them — are bit-reproducible and
    fully SQL-oracle-checkable (no recall-only gate needed for the
    quantization itself).

    Returns (bounds, quantized):
    - bounds: (i, mn, mx) per dimension — one tiny d-row aggregate.
    - quantized: LONG-format (id, i, q:int) — the join/search-ready
      shape (quant_knn consumes it directly); pack to array<tinyint>/
      binary at the storage boundary. A constant dimension
      (max == min) quantizes to level 0.

    Shape: explode → broadcast d-row bounds back → pure codegen
    arithmetic. One conv-free scan; the only Exchange is the d-row
    bounds aggregate.
    """
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("i", "_x")
    ).select("id", "i", F.col("_x").cast("double").alias("_x"))
    bounds = ex.groupBy("i").agg(
        F.min("_x").alias("mn"), F.max("_x").alias("mx")
    )
    L = F.lit(int(n_levels))
    joined = ex.join(F.broadcast(bounds), "i")
    q = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            L - 1,
            F.floor((F.col("_x") - F.col("mn")) * L.cast("double") / (F.col("mx") - F.col("mn"))),
        ),
    ).otherwise(F.lit(0))
    quant = joined.select(
        "id", F.col("i").cast("long").alias("i"),
        (q - L / F.lit(2)).cast("long").alias("q"),
    )
    return bounds.select(F.col("i").cast("long").alias("i"), "mn", "mx"), quant


def quant_knn(
    quant: DataFrame, query_q: DataFrame, k: int = 10,
) -> DataFrame:
    """Exact top-k under the QUANTIZED dot product: corpus and query in
    long (id, i, q) form; the query's d rows broadcast-join on the
    dimension index and integer products sum per corpus id. Integer
    addition is exact and commutative, so the scores — unlike float
    sims — are order-independent and the whole ranking is
    SQL-oracle-checkable. Global top-k via orderBy+limit
    (TakeOrderedAndProject), rank re-derived over the ≤k survivors.

    Scale: one corpus scan, a broadcast of d query rows, one map-side
    combined (id) aggregate, k-row merge. The quantized long format is
    ~8 bytes/dim here for oracle parity; the storage layout at 100 TB
    is the packed int8 array this operator's scores are defined over.
    """
    qq = query_q.select(F.col("i").alias("_qi"), F.col("q").alias("_qq"))
    scored = (
        quant.join(F.broadcast(qq), quant["i"] == F.col("_qi"))
        .groupBy("id")
        .agg(F.sum(F.col("q") * F.col("_qq")).cast("long").alias("qdot"))
    )
    top = top_k(scored, [F.col("qdot").desc(), F.col("id").asc()], k)
    return top.select("id", "qdot", F.col("rank").cast("long").alias("rank"))
