"""Round-5 catalog queries: transcript-structure analytics
(fte/operators/transcript.py), categorical encoders
(count/LOO/WoE, fte/operators/encoding.py), oracle-exact feature
selection (fte/operators/selection.py), column profiling
(fte/operators/profile.py), and the covariance / PCA / int8-
quantization embedding tier (fte/operators/similarity.py).

Oracle conventions as repo-wide (fte/queries.py header): exact-integer
or decimal accumulation everywhere a cross-row sum feeds a hashed
value; doubles only ever derived from bit-identical operands; DuckDB
literals CAST AS DOUBLE; BIGINT casts on every count. The `events`
table is the transcript analog (user_id≈conv_id, event_type≈role).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fte.scan import read_table as _t


# ------------------------------------------------- transcript structure

def q_role_transition(spark, sf_dir):
    """First-order role-transition matrix over conversations — the
    'does the assistant actually alternate with the user' structural
    check run on every transcript corpus before SFT rendering."""
    from fte.operators.transcript import role_transitions

    e = _t(spark, sf_dir, "events")
    return role_transitions(
        e, conv_col="user_id", role_col="event_type", order_cols=("ts", "event_id")
    )


SQL_ROLE_TRANSITION = """
WITH p AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  '<start>') AS prev_role,
         event_type AS role
  FROM events
), c AS (
  SELECT prev_role, role, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2
)
SELECT prev_role, role, n,
       CAST(SUM(n) OVER (PARTITION BY prev_role) AS BIGINT) AS n_prev,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY prev_role) AS DOUBLE) AS p
FROM c
"""


def q_response_latency(spark, sf_dir):
    """Per-role response-time stats (µs-exact): latency of every turn
    that answers a different role's turn. Integer microsecond sums →
    cross-engine-exact mean."""
    from fte.operators.transcript import response_latency

    e = _t(spark, sf_dir, "events")
    return response_latency(
        e, conv_col="user_id", role_col="event_type", ts_col="ts",
        order_cols=("ts", "event_id"),
    )


SQL_RESPONSE_LATENCY = """
WITH l AS (
  SELECT event_type AS role,
         LAG(event_type) OVER w AS prev_role,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS delta_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT role,
       CAST(COUNT(*) AS BIGINT) AS n_responses,
       CAST(CAST(SUM(delta_us) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_us,
       CAST(MAX(delta_us) AS BIGINT) AS max_us,
       CAST(MIN(delta_us) AS BIGINT) AS min_us
FROM l
WHERE prev_role IS NOT NULL AND prev_role <> role
GROUP BY role
"""


def q_turn_runs(spark, sf_dir):
    """Monologue-run statistics per conversation (gaps-and-islands by
    difference of row_numbers): run counts, longest run, its role."""
    from fte.operators.transcript import turn_runs

    e = _t(spark, sf_dir, "events")
    return turn_runs(
        e, conv_col="user_id", role_col="event_type", order_cols=("ts", "event_id")
    )


SQL_TURN_RUNS = """
WITH m AS (
  SELECT user_id AS conv, event_type AS role,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS run_key
  FROM events
), r AS (
  SELECT conv, role, run_key, CAST(COUNT(*) AS BIGINT) AS run_len,
         MIN(pos) AS run_start
  FROM m GROUP BY 1, 2, 3
), rk AS (
  SELECT conv, role, run_len,
         ROW_NUMBER() OVER (PARTITION BY conv
                            ORDER BY run_len DESC, run_start ASC) AS rk
  FROM r
)
SELECT conv,
       CAST(SUM(run_len) AS BIGINT) AS n_turns,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       MAX(CASE WHEN rk = 1 THEN role END) AS max_run_role
FROM rk GROUP BY conv
"""


# ----------------------------------------------------------- encoders

def q_count_encode(spark, sf_dir):
    """Count/frequency encoding of event_type onto every event row."""
    from fte.operators.encoding import count_encode

    e = _t(spark, sf_dir, "events", spread_scan=False)
    return count_encode(e, "event_type").select(
        "event_id", "event_type", "ce_count", "ce_freq"
    )


SQL_COUNT_ENCODE = """
WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
     t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events)
SELECT e.event_id, e.event_type,
       c.n AS ce_count,
       CAST(c.n AS DOUBLE) / CAST(t.n AS DOUBLE) AS ce_freq
FROM events e JOIN c ON e.event_type IS NOT DISTINCT FROM c.event_type
CROSS JOIN t
"""


def q_loo_target_encode(spark, sf_dir):
    """Leave-one-out target encoding of event_type by `value` — the
    row-granular CV-leakage control (complement aggregate, decimal
    subtraction before the single double division; a NULL-value row
    gets the mean of its category's other rows)."""
    from fte.operators.encoding import loo_target_encode

    e = _t(spark, sf_dir, "events")
    return loo_target_encode(e, "event_type", "value").select(
        "event_id", "event_type", "loo_count", "loo_mean"
    )


SQL_LOO_TARGET_ENCODE = """
WITH c AS (
  SELECT event_type, SUM(CAST(value AS DECIMAL(27,6))) AS s,
         COUNT(value) AS n
  FROM events GROUP BY 1
), r AS (
  SELECT e.event_id, e.event_type,
         COALESCE(c.s, 0) - COALESCE(CAST(e.value AS DECIMAL(27,6)), 0) AS s_rest,
         c.n - CASE WHEN e.value IS NOT NULL THEN 1 ELSE 0 END AS n_rest
  FROM events e JOIN c ON e.event_type IS NOT DISTINCT FROM c.event_type
)
SELECT event_id, event_type,
       CAST(n_rest AS BIGINT) AS loo_count,
       CASE WHEN n_rest > 0 THEN CAST(s_rest AS DOUBLE) / n_rest END AS loo_mean
FROM r
"""


def q_woe_encode(spark, sf_dir):
    """Weight-of-evidence of event_type for the binary label
    value > 50 (events.value spans ~[0, 490], mean ≈ 50 — both classes
    are populated in every category). Laplace smoothing 0.5."""
    from fte.operators.encoding import woe_encode

    e = _t(spark, sf_dir, "events", spread_scan=False)
    return woe_encode(
        e, "event_type", (F.col("value") > 50), smoothing=0.5
    ).select("event_type", "n", "pos", "neg", "woe")


SQL_WOE_ENCODE = """
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM events GROUP BY 1
), c2 AS (SELECT event_type, n, pos, CAST(n - pos AS BIGINT) AS neg FROM c),
   t AS (SELECT CAST(SUM(pos) AS BIGINT) AS pt, CAST(SUM(neg) AS BIGINT) AS nt
         FROM c2)
SELECT event_type, n, pos, neg,
       ln( ((CAST(pos AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(pt AS DOUBLE))
         / ((CAST(neg AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(nt AS DOUBLE)) )
         AS woe
FROM c2 CROSS JOIN t
"""


# --------------------------------------------------- feature selection

_TOKS_NORM_SQL = "regexp_extract_all(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\S+')"


def _doc_features(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
    )
    return d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiou]"), F.lit(0)))
        .cast("long")
        .alias("n_vowels"),
        "lang",
    )


def q_feature_corr(spark, sf_dir):
    """Pearson r for every pair of three document-length features,
    from exact DECIMAL component sums (order-independent — built-in
    corr() accumulates doubles in scan order and would flap the value
    hash; see fte/operators/selection.py)."""
    from fte.operators.selection import pairwise_corr

    feats = _doc_features(spark, sf_dir)
    return pairwise_corr(
        feats, ["n_chars", "n_tokens", "n_vowels"], decimal_scale=0
    )


SQL_FEATURE_CORR = f"""
WITH f AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(len({_TOKS_NORM_SQL}) AS BIGINT) AS y,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]')) AS BIGINT) AS z
  FROM documents
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS sz,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS szz,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS sxz,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS syz
  FROM f
)
SELECT 'n_chars' AS x_name, 'n_tokens' AS y_name, n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
               * (CAST(n AS DOUBLE) * syy - sy * sy) > 0
            THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r
FROM s
UNION ALL
SELECT 'n_chars', 'n_vowels', n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
               * (CAST(n AS DOUBLE) * szz - sz * sz) > 0
            THEN (CAST(n AS DOUBLE) * sxz - sx * sz)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n AS DOUBLE) * szz - sz * sz)) END
FROM s
UNION ALL
SELECT 'n_tokens', 'n_vowels', n,
       CASE WHEN (CAST(n AS DOUBLE) * syy - sy * sy)
               * (CAST(n AS DOUBLE) * szz - sz * sz) > 0
            THEN (CAST(n AS DOUBLE) * syz - sy * sz)
                 / sqrt((CAST(n AS DOUBLE) * syy - sy * sy)
                      * (CAST(n AS DOUBLE) * szz - sz * sz)) END
FROM s
"""


def q_mutual_info(spark, sf_dir):
    """Mutual information between the n_chars quartile bin and the
    lang='en' label, as per-cell rows (bin, y, counts, mi_term) — MI
    is Σ mi_term; per-cell emission dodges final-sum ordering and
    shows which cells carry the dependence."""
    from fte.operators.encoding import quantile_bin
    from fte.operators.selection import mutual_info_cells

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    binned = quantile_bin(d, "n_chars", n_bins=4, exact=True)
    out = mutual_info_cells(
        binned,
        F.col("bin").cast("long"),
        (F.col("lang") == "en").cast("long"),
    )
    return out.select("bin", "y", "n_xy", "n_x", "n_y", "n", "mi_term")


SQL_MUTUAL_INFO = """
WITH b AS (
  SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qb FROM documents
), rows_b AS (
  SELECT CAST((CASE WHEN d.n_chars > b.qb[1] THEN 1 ELSE 0 END)
            + (CASE WHEN d.n_chars > b.qb[2] THEN 1 ELSE 0 END)
            + (CASE WHEN d.n_chars > b.qb[3] THEN 1 ELSE 0 END) AS BIGINT) AS bin,
         CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents d, b
), cells AS (
  SELECT bin, y, CAST(COUNT(*) AS BIGINT) AS n_xy FROM rows_b GROUP BY 1, 2
), e AS (
  SELECT bin, y, n_xy,
         CAST(SUM(n_xy) OVER (PARTITION BY bin) AS BIGINT) AS n_x,
         CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y,
         CAST(SUM(n_xy) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT bin, y, n_xy, n_x, n_y, n,
       (CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
       * ln( (CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
           / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)) ) AS mi_term
FROM e
"""


# ------------------------------------------------------------ profiling

def q_column_profile(spark, sf_dir):
    """One-pass long-format profile of the documents table (exact
    distincts here; approx=True is the 10^9-distinct scale path)."""
    from fte.operators.profile import column_profile

    d = _t(spark, sf_dir, "documents", min_bytes=2 << 20)
    return column_profile(
        d, numeric_cols=("doc_id", "n_chars"), string_cols=("text", "lang", "source")
    )


SQL_COLUMN_PROFILE = """
SELECT 'doc_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (doc_id IS NULL) AS BIGINT) AS null_count,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(MIN(doc_id) AS DOUBLE) AS min_num, CAST(MAX(doc_id) AS DOUBLE) AS max_num,
       CAST(SUM(CAST(doc_id AS DECIMAL(38,6))) AS DOUBLE)
         / CAST(COUNT(doc_id) AS DOUBLE) AS mean,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM documents
UNION ALL
SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (n_chars IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT n_chars) AS BIGINT),
       CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE),
       CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
         / CAST(COUNT(n_chars) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM documents
UNION ALL
SELECT 'text', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (text IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT text) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(text), MAX(text)
FROM documents
UNION ALL
SELECT 'lang', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (lang IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT lang) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(lang), MAX(lang)
FROM documents
UNION ALL
SELECT 'source', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (source IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT source) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       MIN(source), MAX(source)
FROM documents
"""


# --------------------------------------- covariance / PCA / quantization

def q_emb_covariance(spark, sf_dir):
    """Oracle-exact covariance of the first 16 embedding dimensions
    (decimal-accumulated; the full-width scale path is
    emb_covariance_gemm, allclose-gated in tests/test_analytics.py)."""
    from fte.operators.similarity import emb_covariance

    e = _t(spark, sf_dir, "embeddings")
    return emb_covariance(e, dims=16)


SQL_EMB_COVARIANCE = """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding[1:16], 1) - 1 AS i,
         CAST(unnest(embedding[1:16]) AS DOUBLE) AS x
  FROM embeddings
)
SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,24))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
       - (CAST(SUM(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE))
         * (CAST(SUM(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS cov
FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY a.i, b.i
"""


def q_emb_quantize(spark, sf_dir):
    """Per-dimension int8 scalar quantization in long (id, i, q) form —
    floor-based, so every quantized level is bit-reproducible in SQL."""
    from fte.operators.similarity import quantize_embeddings

    e = _t(spark, sf_dir, "embeddings")
    _bounds, quant = quantize_embeddings(e)
    return quant


_SQL_QUANT_CTE = """
WITH ex AS (
  SELECT vec_id AS id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), b AS (
  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY i
), qt AS (
  SELECT ex.id, CAST(ex.i AS BIGINT) AS i,
         CAST(CASE WHEN b.mx > b.mn
                   THEN LEAST(255, FLOOR((ex.x - b.mn) * CAST(256 AS DOUBLE)
                                         / (b.mx - b.mn)))
                   ELSE 0 END - CAST(128 AS DOUBLE) AS BIGINT) AS q
  FROM ex JOIN b USING (i)
)
"""

SQL_EMB_QUANTIZE = _SQL_QUANT_CTE + "SELECT id, i, q FROM qt"


def q_quant_knn(spark, sf_dir):
    """Exact top-10 under the QUANTIZED dot product (query vec_id=0):
    integer scores are order-independent, so — unlike float cosine —
    the whole approximate-index ranking is value-checkable in SQL."""
    from fte.operators.similarity import quant_knn, quantize_embeddings

    e = _t(spark, sf_dir, "embeddings")
    _bounds, quant = quantize_embeddings(e)
    query_q = quant.where(F.col("id") == 0).select("i", "q")
    return quant_knn(quant, query_q, k=10)


SQL_QUANT_KNN = _SQL_QUANT_CTE + """
, qq AS (SELECT i, q FROM qt WHERE id = 0),
s AS (
  SELECT qt.id, CAST(SUM(qt.q * qq.q) AS BIGINT) AS qdot
  FROM qt JOIN qq USING (i) GROUP BY qt.id
)
SELECT id, qdot, CAST(rank AS BIGINT) AS rank FROM (
  SELECT id, qdot, ROW_NUMBER() OVER (ORDER BY qdot DESC, id ASC) AS rank FROM s
) WHERE rank <= 10
"""


def q_quant_recall_vs_exact(spark, sf_dir):
    """Agreement gate for the quantized path: overlap of quant_knn's
    top-10 with the exact float cosine top-10 (query vec_id=0).
    Deterministic on the fixed corpus; the oracle pins the overlap.
    A bounds bug, a floor/round drift, or a score overflow all move
    this number."""
    from fte.operators.similarity import brute_force_topk, quant_knn, quantize_embeddings
    from fte.queries_ml import query_vector, recall_vs_exact

    e = _t(spark, sf_dir, "embeddings")
    exact = brute_force_topk(e, query_vector(e), k=10).select("vec_id")
    _bounds, quant = quantize_embeddings(e)
    query_q = quant.where(F.col("id") == 0).select("i", "q")
    approx = quant_knn(quant, query_q, k=10).select(F.col("id").alias("vec_id"))
    return recall_vs_exact(exact, approx, "vec_id")


# pinned on the sf0.01 corpus (DuckDB-measured: the int8 ranking keeps
# 8 of the exact top-10 — the quantized path loses only tail ranks)
SQL_QUANT_RECALL = """
SELECT CAST(10 AS BIGINT) AS n_exact, CAST(8 AS BIGINT) AS n_overlap,
       CAST(8 AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
"""


def q_pca_variance(spark, sf_dir):
    """PCA fit over the full covariance (explained-variance spectrum,
    top 8 components): the cov matrix reduces distributed (decimal-
    exact), only d² values reach the driver for the eigendecomposition
    — kilobytes at any corpus size. Output pins the spectrum to 6dp;
    deterministic because the covariance is accumulation-order-exact
    and LAPACK eigh is deterministic for a fixed matrix."""
    from fte.operators.similarity import emb_covariance, pca_fit

    e = _t(spark, sf_dir, "embeddings")
    cov = emb_covariance(e).collect()
    d = 1 + max(int(r["j"]) for r in cov)
    vals, _vecs = pca_fit(cov, d)
    total = float(vals.sum())
    rows = []
    cum = 0.0
    for k in range(8):
        evr = float(vals[k]) / total
        cum += evr
        rows.append((k, round(evr, 6), round(cum, 6)))
    return spark.createDataFrame(rows, "component long, evr double, cum_evr double")


# pinned on the sf0.01 corpus: the identical decimal-exact covariance
# evaluated in DuckDB + the same numpy eigh reproduces this spectrum
# (near-flat — the synthetic embeddings are near-isotropic, the worst
# case for PCA compression; structure-recovery is pytest-gated on
# planted low-rank data in test_similarity)
SQL_PCA_VARIANCE = """
SELECT CAST(component AS BIGINT) AS component,
       CAST(evr AS DOUBLE) AS evr, CAST(cum_evr AS DOUBLE) AS cum_evr
FROM (VALUES
  (0, 0.027579, 0.027579), (1, 0.027232, 0.054811),
  (2, 0.026682, 0.081493), (3, 0.025651, 0.107143),
  (4, 0.025426, 0.13257),  (5, 0.025136, 0.157705),
  (6, 0.024002, 0.181707), (7, 0.023222, 0.204928)
) AS t(component, evr, cum_evr)
"""


def catalog_analytics():
    return {
        "role_transition": (q_role_transition, SQL_ROLE_TRANSITION),
        "response_latency": (q_response_latency, SQL_RESPONSE_LATENCY),
        "turn_runs": (q_turn_runs, SQL_TURN_RUNS),
        "count_encode": (q_count_encode, SQL_COUNT_ENCODE),
        "loo_target_encode": (q_loo_target_encode, SQL_LOO_TARGET_ENCODE),
        "woe_encode": (q_woe_encode, SQL_WOE_ENCODE),
        "feature_corr": (q_feature_corr, SQL_FEATURE_CORR),
        "mutual_info": (q_mutual_info, SQL_MUTUAL_INFO),
        "column_profile": (q_column_profile, SQL_COLUMN_PROFILE),
        "emb_covariance": (q_emb_covariance, SQL_EMB_COVARIANCE),
        "emb_quantize": (q_emb_quantize, SQL_EMB_QUANTIZE),
        "quant_knn": (q_quant_knn, SQL_QUANT_KNN),
        "quant_recall_vs_exact": (q_quant_recall_vs_exact, SQL_QUANT_RECALL),
        "pca_variance": (q_pca_variance, SQL_PCA_VARIANCE),
        "funnel": (q_funnel, SQL_FUNNEL),
        "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
        "autocorr": (q_autocorr, SQL_AUTOCORR),
        "fuzzy_join": (q_fuzzy_join, SQL_FUZZY_JOIN),
        "incremental_agg": (q_incremental_agg, SQL_INCREMENTAL_AGG),
        "chi2_independence": (q_chi2, SQL_CHI2),
    }


# ---------------------------------------------------- behavior / fuzzy

def q_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel per user (strictly-after
    timestamps): sequential per-entity conditional MINs, all hashed on
    the one user key."""
    from fte.operators.behavior import funnel_conversion

    e = _t(spark, sf_dir, "events")
    return funnel_conversion(e, steps=("view", "click", "purchase"))


SQL_FUNNEL = """
WITH s0 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0
  FROM events GROUP BY 1
), s1 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > s0.t0 THEN e.ts END) AS t1
  FROM events e JOIN s0 USING (user_id) GROUP BY 1
), s2 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s1.t1 THEN e.ts END) AS t2
  FROM events e JOIN s1 USING (user_id) GROUP BY 1
), c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ent,
         CAST(COUNT(s0.t0) AS BIGINT) AS n0,
         CAST(COUNT(s1.t1) AS BIGINT) AS n1,
         CAST(COUNT(s2.t2) AS BIGINT) AS n2
  FROM s0 JOIN s1 USING (user_id) JOIN s2 USING (user_id)
)
SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name, n0 AS n_reached,
       CAST(n0 AS DOUBLE) / CAST(n_ent AS DOUBLE) AS rate,
       CASE WHEN n_ent > 0 THEN CAST(n0 AS DOUBLE) / CAST(n_ent AS DOUBLE) END AS step_rate
FROM c
UNION ALL
SELECT CAST(1 AS BIGINT), 'click', n1,
       CAST(n1 AS DOUBLE) / CAST(n_ent AS DOUBLE),
       CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END
FROM c
UNION ALL
SELECT CAST(2 AS BIGINT), 'purchase', n2,
       CAST(n2 AS DOUBLE) / CAST(n_ent AS DOUBLE),
       CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END
FROM c
"""


def q_cohort_retention(spark, sf_dir):
    """First-event-date cohort grid with per-cell retention fractions
    (events span 30 days → the grid is tiny after the distinct)."""
    from fte.operators.behavior import cohort_retention

    e = _t(spark, sf_dir, "events")
    return cohort_retention(e)


SQL_COHORT_RETENTION = """
WITH d AS (SELECT user_id AS e, CAST(ts AS DATE) AS dt FROM events),
f AS (SELECT e, MIN(dt) AS cohort FROM d GROUP BY 1),
a AS (
  SELECT DISTINCT d.e, f.cohort, date_diff('day', f.cohort, d.dt) AS off
  FROM d JOIN f USING (e)
), cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM f GROUP BY 1),
g AS (SELECT cohort, off, CAST(COUNT(*) AS BIGINT) AS n_active FROM a GROUP BY 1, 2)
SELECT g.cohort AS cohort_date, CAST(g.off AS BIGINT) AS day_offset,
       g.n_active, cs.n_cohort,
       CAST(g.n_active AS DOUBLE) / CAST(cs.n_cohort AS DOUBLE) AS retention
FROM g JOIN cs USING (cohort)
"""


def q_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of `value` (decimal-exact
    component sums, same construction as feature_corr)."""
    from fte.operators.behavior import autocorrelation

    e = _t(spark, sf_dir, "events")
    return autocorrelation(
        e, "user_id", "value", order_cols=("ts", "event_id"), lag=1
    )


SQL_AUTOCORR = """
WITH p AS (
  SELECT user_id,
         value AS xv,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS yv
  FROM events
), q AS (SELECT * FROM p WHERE yv IS NOT NULL AND xv IS NOT NULL),
g AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(xv AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(yv AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(xv AS DECIMAL(38,6)) * CAST(yv AS DECIMAL(38,6))
                   AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(xv AS DECIMAL(38,6)) * CAST(xv AS DECIMAL(38,6))
                   AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(yv AS DECIMAL(38,6)) * CAST(yv AS DECIMAL(38,6))
                   AS DECIMAL(38,12))) AS DOUBLE) AS syy
  FROM q GROUP BY 1
)
SELECT user_id, n_pairs,
       CASE WHEN n_pairs >= 3
             AND (CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
               * (CAST(n_pairs AS DOUBLE) * syy - sy * sy) > 0
            THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                      * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)) END AS acf
FROM g
"""


def q_fuzzy_join(spark, sf_dir):
    """Levenshtein fuzzy match: 40-char prefixes of five corpus docs,
    mangled by vowel substitution ('a'→'@'), rejoined to the corpus at
    distance ≤ 8 via the broadcast + length-band + bounded-levenshtein
    plan. Deterministic probes derived from the corpus itself."""
    from fte.operators.text import fuzzy_join

    d = _t(spark, sf_dir, "documents")
    probes = (
        d.where(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.translate(F.substring("text", 1, 40), "a", "@").alias("probe_text"),
        )
    )
    corpus = d.select("doc_id", F.substring("text", 1, 40).alias("prefix40"))
    out = fuzzy_join(corpus, probes, corpus_text="prefix40", probe_text="probe_text", max_dist=8)
    return out.select("probe_id", "doc_id", "lev_dist")


SQL_FUZZY_JOIN = """
WITH probes AS (
  SELECT doc_id AS probe_id, replace(substr(text, 1, 40), 'a', '@') AS probe_text
  FROM documents WHERE doc_id < 5
), corpus AS (SELECT doc_id, substr(text, 1, 40) AS prefix40 FROM documents)
SELECT p.probe_id, c.doc_id,
       CAST(levenshtein(c.prefix40, p.probe_text) AS BIGINT) AS lev_dist
FROM corpus c JOIN probes p
  ON abs(length(c.prefix40) - length(p.probe_text)) <= 8
 AND levenshtein(c.prefix40, p.probe_text) <= 8
"""


def q_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance: per-type stats built over the
    first half-month of events, then MERGED with the second half's
    batch state (fte/operators/incremental.py). Decimal sums make the
    merge exact, so the result is bit-identical to the full-data
    recompute — which is precisely what the full-scan oracle checks."""
    from fte.operators.incremental import finalize_stats, merge_stats, stats_state

    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("date")
    old = stats_state(e.where(F.to_date("ts") < cutoff), ["event_type"], "value")
    new = stats_state(e.where(F.to_date("ts") >= cutoff), ["event_type"], "value")
    return finalize_stats(merge_stats(old, new))


SQL_INCREMENTAL_AGG = """
SELECT event_type,
       CAST(COUNT(value) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum,
       MIN(CAST(value AS DOUBLE)) AS mn,
       MAX(CAST(value AS DOUBLE)) AS mx,
       CASE WHEN COUNT(value) > 0
            THEN CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(COUNT(value) AS DOUBLE) END AS mean
FROM events GROUP BY event_type
"""


def q_chi2(spark, sf_dir):
    """Chi-squared independence cells for the n_chars quartile bin vs
    the lang='en' label — the significance twin of mutual_info over
    the same contingency table."""
    from fte.operators.encoding import quantile_bin
    from fte.operators.selection import chi2_cells

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    binned = quantile_bin(d, "n_chars", n_bins=4, exact=True)
    return chi2_cells(
        binned, F.col("bin").cast("long"), (F.col("lang") == "en").cast("long")
    )


SQL_CHI2 = """
WITH b AS (
  SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qb FROM documents
), rows_b AS (
  SELECT CAST((CASE WHEN d.n_chars > b.qb[1] THEN 1 ELSE 0 END)
            + (CASE WHEN d.n_chars > b.qb[2] THEN 1 ELSE 0 END)
            + (CASE WHEN d.n_chars > b.qb[3] THEN 1 ELSE 0 END) AS BIGINT) AS bin,
         CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents d, b
), observed AS (
  SELECT bin, y, CAST(COUNT(*) AS BIGINT) AS n_xy FROM rows_b GROUP BY 1, 2
), cells AS (
  -- full bins x labels grid: empty cells still contribute to chi2
  SELECT gb.bin, gy.y, CAST(COALESCE(o.n_xy, 0) AS BIGINT) AS n_xy
  FROM (SELECT DISTINCT bin FROM observed) gb
  CROSS JOIN (SELECT DISTINCT y FROM observed) gy
  LEFT JOIN observed o ON o.bin = gb.bin AND o.y = gy.y
), e AS (
  SELECT bin, y, n_xy,
         CAST(SUM(n_xy) OVER (PARTITION BY bin) AS BIGINT) AS n_x,
         CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y,
         CAST(SUM(n_xy) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT bin, y, n_xy, n_x, n_y, n,
       (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)) / CAST(n AS DOUBLE) AS expected,
       ((CAST(n_xy AS DOUBLE) - (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)) / CAST(n AS DOUBLE))
        * (CAST(n_xy AS DOUBLE) - (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)) / CAST(n AS DOUBLE)))
       / ((CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)) / CAST(n AS DOUBLE)) AS chi2_term
FROM e
"""
