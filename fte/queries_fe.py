"""Feature-engineering catalog queries: leakage-safe target encoding,
scaling, equal-frequency binning, drift, CV folds and sampling
(fte/operators/encoding.py, fte/operators/sampling.py), with DuckDB
oracle twins. Which of them the driver's 50-entry correctness window
re-proves is decided by ``fte.queries._DRIVER_WINDOW_FIRST``.
"""

from __future__ import annotations

from fte.scan import read_table as _t


def q_target_encode(spark, sf_dir):
    """Point-in-time target encoding of event_type by running mean of
    `value` over strictly PRIOR events of the same type (frame ends 1
    PRECEDING — a training row never sees its own target), plus the
    (smoothing=10, prior=0.5) smoothed encoding. The engine-level
    restatement of the groupby-expanding-mean pandas feature every
    FeatureHub-style user hand-writes, without its leakage foot-gun."""
    from fte.operators.encoding import target_encode

    e = _t(spark, sf_dir, "events", spread_scan=False)
    return target_encode(
        e, "event_type", "value", ["ts", "event_id"], smoothing=10.0, prior=0.5
    ).select("event_id", "event_type", "te_count", "te_mean", "te_smooth")


SQL_TARGET_ENCODE = """
SELECT event_id, event_type,
       CAST(COUNT(value) OVER w AS BIGINT) AS te_count,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
         / COUNT(value) OVER w AS te_mean,
       COALESCE(
         (CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER w AS DOUBLE)
            + CAST(5.0 AS DOUBLE))
           / (COUNT(value) OVER w + CAST(10.0 AS DOUBLE)),
         CAST(0.5 AS DOUBLE)) AS te_smooth
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def q_quantile_bin(spark, sf_dir):
    """Equal-frequency quartile binning of documents.n_chars — the
    discretization step of classic feature pipelines. exact=True here
    (interpolating percentile, integer inputs so the interpolation is
    FP-exact on both engines); the scale default is approx_percentile
    (mergeable t-digest)."""
    from fte.operators.encoding import quantile_bin

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return quantile_bin(d, "n_chars", n_bins=4, exact=True).select("doc_id", "bin")


SQL_QUANTILE_BIN = """
WITH b AS (
  SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qb FROM documents
)
SELECT d.doc_id,
       CAST((CASE WHEN d.n_chars > b.qb[1] THEN 1 ELSE 0 END)
          + (CASE WHEN d.n_chars > b.qb[2] THEN 1 ELSE 0 END)
          + (CASE WHEN d.n_chars > b.qb[3] THEN 1 ELSE 0 END) AS BIGINT) AS bin
FROM documents d, b
"""


def q_feature_hash(spark, sf_dir):
    """Hashing-trick vectorization of documents (k=64 buckets, signed
    term counts) in sparse (doc_id, bucket, weight) form — vocab-free:
    no dictionary aggregate or broadcast at any corpus size. md5
    bucket/sign so DuckDB reproduces every weight exactly."""
    from fte.operators.encoding import feature_hash_rows

    d = _t(spark, sf_dir, "documents")
    return feature_hash_rows(d, "doc_id", "text", k=64)


SQL_FEATURE_HASH = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\S+')) AS tok
  FROM documents
)
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(tok || '#fh42'), 1, 8)) AS BIGINT) % 64 AS BIGINT) AS bucket,
       CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(tok || '#fh42'), 9, 1)) AS BIGINT) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS weight
FROM toks
GROUP BY 1, 2
"""


def catalog_fe():
    return {
        "target_encode": (q_target_encode, SQL_TARGET_ENCODE),
        "quantile_bin": (q_quantile_bin, SQL_QUANTILE_BIN),
        "feature_hash": (q_feature_hash, SQL_FEATURE_HASH),
        "cv_folds": (q_cv_folds, SQL_CV_FOLDS),
        "temporal_split": (q_temporal_split, SQL_TEMPORAL_SPLIT),
        "zscore": (q_zscore, SQL_ZSCORE),
        "drift_psi": (q_drift_psi, SQL_DRIFT_PSI),
        "oof_target_encode": (q_oof_target_encode, SQL_OOF_TARGET_ENCODE),
        "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
        "sample_per_group": (q_sample_per_group, SQL_SAMPLE_PER_GROUP),
        "minmax_scale": (q_minmax_scale, SQL_MINMAX_SCALE),
        "robust_scale": (q_robust_scale, SQL_ROBUST_SCALE),
    }


def q_cv_folds(spark, sf_dir):
    """Grouped k-fold CV assignment by entity-key hash (5 folds):
    every row of a document/conversation lands in one fold — the
    data-side half of cross-validation (model fitting is out of
    engine scope, SURVEY §2.A A8). Key-stable md5 bucket, zero
    shuffle."""
    from fte.operators.sampling import with_fold

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return with_fold(d, "doc_id", n_folds=5).select("doc_id", "fold")


SQL_CV_FOLDS = """
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cv42'), 1, 8)) AS BIGINT) % 5 AS BIGINT) AS fold
FROM documents
"""


def q_temporal_split(spark, sf_dir):
    """Purged time-series split: train < cutoff − 1 day embargo,
    test >= cutoff, embargo rows flagged for dropping — the PIT-safe
    alternative to random splits when targets look into the future."""
    from fte.operators.sampling import temporal_split

    e = _t(spark, sf_dir, "events", spread_scan=False)
    return temporal_split(
        e, "ts", "2024-01-16 00:00:00", embargo_seconds=86400
    ).select("event_id", "tsplit")


SQL_TEMPORAL_SPLIT = """
SELECT event_id,
       CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
            WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 'test'
            ELSE 'embargo' END AS tsplit
FROM events
"""


def q_zscore(spark, sf_dir):
    """Z-score standardization of documents.n_chars — broadcast 1-row
    moments from decimal-exact Σx/Σx² (see standardize: bit-parity
    across engines, unlike order-dependent stddev_samp)."""
    from fte.operators.encoding import standardize

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return standardize(d, ["n_chars"]).select("doc_id", "n_chars_z")


SQL_ZSCORE = """
WITH m AS (
  SELECT COUNT(n_chars) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(27,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
                       AS DECIMAL(38,12))) AS DOUBLE) AS ss
  FROM documents)
SELECT doc_id,
       CASE WHEN sqrt((ss - s * s / n) / (n - 1)) > 0
            THEN (n_chars - s / n) / sqrt((ss - s * s / n) / (n - 1))
       END AS n_chars_z
FROM documents, m
"""


def q_drift_psi(spark, sf_dir):
    """Population Stability Index drift report between two snapshots
    (even vs odd doc_id halves of documents, n_chars, 10 reference-
    quantile bins) — the per-bin drift monitor a deployed feature
    pipeline runs between training and serving snapshots."""
    from pyspark.sql import functions as F

    from fte.operators.encoding import psi_report

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    ref = d.filter(F.col("doc_id") % 2 == 0)
    cur = d.filter(F.col("doc_id") % 2 == 1)
    return psi_report(ref, cur, "n_chars", n_bins=10, exact=True)


SQL_DRIFT_PSI = """
WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
b AS (
  SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qb
  FROM ref
),
rbin AS (
  -- NULL values get their own bin -1, mirroring psi_report's NULL
  -- bin (r5 ADVICE: without this branch NULLs silently fold into
  -- bin 0 and break Spark/DuckDB parity if the column has NULLs)
  SELECT CAST(CASE WHEN n_chars IS NULL THEN -1 ELSE
              (CASE WHEN n_chars > qb[1] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[2] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[3] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[4] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[5] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[6] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[7] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[8] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[9] THEN 1 ELSE 0 END) END AS BIGINT) AS bin
  FROM ref, b
),
cbin AS (
  SELECT CAST(CASE WHEN n_chars IS NULL THEN -1 ELSE
              (CASE WHEN n_chars > qb[1] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[2] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[3] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[4] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[5] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[6] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[7] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[8] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > qb[9] THEN 1 ELSE 0 END) END AS BIGINT) AS bin
  FROM cur, b
),
r AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref,
         COUNT(*) / CAST((SELECT COUNT(*) FROM rbin) AS DOUBLE) AS p_ref
  FROM rbin GROUP BY bin
),
c AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur,
         COUNT(*) / CAST((SELECT COUNT(*) FROM cbin) AS DOUBLE) AS p_cur
  FROM cbin GROUP BY bin
)
SELECT COALESCE(r.bin, c.bin) AS bin,
       COALESCE(n_ref, 0) AS n_ref,
       COALESCE(n_cur, 0) AS n_cur,
       ROUND(COALESCE(p_ref, 0.0), 6) AS p_ref,
       ROUND(COALESCE(p_cur, 0.0), 6) AS p_cur,
       ROUND((GREATEST(COALESCE(p_cur, 0.0), CAST(0.000001 AS DOUBLE))
              - GREATEST(COALESCE(p_ref, 0.0), CAST(0.000001 AS DOUBLE)))
             * ln(GREATEST(COALESCE(p_cur, 0.0), CAST(0.000001 AS DOUBLE))
                  / GREATEST(COALESCE(p_ref, 0.0), CAST(0.000001 AS DOUBLE))), 6) AS psi_term
FROM r FULL JOIN c ON r.bin = c.bin
"""


def q_oof_target_encode(spark, sf_dir):
    """Out-of-fold target encoding: event_type encoded by the mean of
    `value` over the OTHER four user-grouped CV folds — the standard
    leakage control when folds, not time, define what a model may see.
    Complement form: per-category totals minus the own-(cat, fold)
    partial, subtracted in DECIMAL. The statistics come from one
    (cat, fold) aggregate and join back null-safely (a NULL event_type
    is a category); the join strategy is Spark's."""
    from fte.operators.encoding import oof_target_encode
    from fte.operators.sampling import with_fold

    e = _t(spark, sf_dir, "events")
    ef = with_fold(e, "user_id", n_folds=5)
    return oof_target_encode(ef, "event_type", "value", "fold").select(
        "event_id", "fold", "oof_count", "oof_mean"
    )


SQL_OOF_TARGET_ENCODE = """
WITH f AS (
  SELECT *,
         CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cv42'), 1, 8)) AS BIGINT) % 5 AS BIGINT) AS fold
  FROM events),
a AS (
  SELECT event_type,
         SUM(CAST(value AS DECIMAL(27,6))) AS s_all,
         COUNT(value) AS n_all
  FROM f GROUP BY event_type),
i AS (
  SELECT event_type, fold,
         SUM(CAST(value AS DECIMAL(27,6))) AS s_in,
         COUNT(value) AS n_in
  FROM f GROUP BY event_type, fold)
SELECT f.event_id, f.fold,
       CAST(n_all - n_in AS BIGINT) AS oof_count,
       CASE WHEN n_all > n_in
            THEN CAST(COALESCE(s_all, 0) - COALESCE(s_in, 0) AS DOUBLE)
                 / (n_all - n_in) END AS oof_mean
FROM f
JOIN i ON f.event_type IS NOT DISTINCT FROM i.event_type
      AND f.fold IS NOT DISTINCT FROM i.fold
JOIN a ON f.event_type IS NOT DISTINCT FROM a.event_type
"""


def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement:
    top-50 documents by priority u^(wmax/n_chars) — inclusion odds
    scale with length; the max-weight normalization is a monotone
    transform (same selected set) that keeps boundary priorities
    O(1)-spread so the 9dp round is relative precision, not a
    collapse toward 1.0 (large-weight fix, r5 ADVICE). Global top-n
    plans as TakeOrderedAndProject."""
    from fte.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return weighted_sample(d, "doc_id", "n_chars", n=50).select(
        "doc_id", "n_chars", "priority"
    )


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars, priority FROM (
  SELECT doc_id, n_chars,
         ROUND(POWER(u, _wmax / CAST(n_chars AS DOUBLE)), 9) AS priority
  FROM (
    SELECT doc_id, n_chars,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) AS DOUBLE)
             / CAST(4294967296.0 AS DOUBLE) AS u,
           CAST(MAX(n_chars) OVER () AS DOUBLE) AS _wmax
    FROM documents
    WHERE n_chars > 0
  )
)
ORDER BY priority DESC, doc_id ASC
LIMIT 50
"""


def q_sample_per_group(spark, sf_dir):
    """Exact N-per-group selection: the 5 pseudo-randomly-first
    documents of each source by (md5-uniform, key) rank — eval-set
    construction with exact per-stratum counts (vs sample_sources'
    Bernoulli keep)."""
    from fte.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return sample_per_group(d, "doc_id", "source", n_per_group=5).select(
        "doc_id", "source"
    )


SQL_SAMPLE_PER_GROUP = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) AS DOUBLE)
                      / CAST(4294967296.0 AS DOUBLE) ASC,
                    doc_id ASC
         ) AS rk
  FROM documents
)
WHERE rk <= 5
"""


def q_minmax_scale(spark, sf_dir):
    """Min-max scaling of documents.n_chars to [0,1] — exact extremes
    broadcast from one aggregate; parity is free (no accumulation
    order)."""
    from fte.operators.encoding import minmax_scale

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return minmax_scale(d, ["n_chars"]).select("doc_id", "n_chars_mm")


SQL_MINMAX_SCALE = """
WITH m AS (SELECT CAST(MIN(n_chars) AS DOUBLE) AS mn,
                  CAST(MAX(n_chars) AS DOUBLE) AS mx FROM documents)
SELECT doc_id,
       CASE WHEN mx > mn THEN (CAST(n_chars AS DOUBLE) - mn) / (mx - mn) END AS n_chars_mm
FROM documents, m
"""


def q_robust_scale(spark, sf_dir):
    """Robust z (median/MAD) of documents.n_chars — the
    outlier-resistant scaler: two exact-median passes (approx
    t-digest is the scale default), first median broadcast between
    them."""
    from fte.operators.encoding import robust_scale

    d = _t(spark, sf_dir, "documents", spread_scan=False)
    return robust_scale(d, "n_chars", exact=True).select("doc_id", "n_chars_rz")


SQL_ROBUST_SCALE = """
WITH m1 AS (SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
m2 AS (
  SELECT quantile_cont(abs(CAST(n_chars AS DOUBLE) - med), 0.5) AS mad
  FROM documents, m1
)
SELECT doc_id,
       CASE WHEN CAST(1.4826 AS DOUBLE) * mad > 0
            THEN (CAST(n_chars AS DOUBLE) - med) / (CAST(1.4826 AS DOUBLE) * mad)
       END AS n_chars_rz
FROM documents, m1, m2
"""
