"""Cross-validated feature evaluation — FeatureHub's A8 loop,
re-realized data-side.

The reference's core user loop is submit → re-execute → METRIC: an
evaluator fits an sklearn decision tree with k-fold CV over the feature
matrix and posts the scores back to the registry
[U: featurehub/modeling/model.py::Model.compute_metrics_cv,
 featurehub/evaluation/future.py]. sklearn is out of engine scope
(SURVEY §2.A A8); what the ENGINE owes that loop is everything except
the tree: fold assembly, per-fold train/test matrices, a distributed
fit of a closed-form model, distributed scoring and metrics, and the
registry write-back. All of that is here:

- folds: grouped entity-key hash (``with_fold`` — rows of one
  conversation never straddle train/test);
- model: ridge-regularized LINEAR least squares fit by NORMAL
  EQUATIONS from Gram partials: one ``mapInArrow`` scan computes
  ZᵀZ for Z = [X, 1, y] in numpy, keyed by (fold, NULL pattern of the
  feature columns), and the driver sums sub-blocks of those d×d
  partials into any model's train-fold Gram and solves it (numpy d×d
  — the only driver data is O(folds × patterns × d²), never O(rows));
- NULL policy: complete-case per model. Rows with a NULL label are
  dropped; a model is fit and scored on the rows where all of ITS
  columns are non-NULL (the NULL-pattern key makes that exact in one
  pass: a model's Gram is the sum over the patterns that have no NULL
  in its columns);
- scoring: the fitted weights come back as COLUMN LITERALS —
  Σ wᵢ·xᵢ + b is whole-stage-codegen arithmetic, no UDF, no
  broadcast;
- metrics: mse/mae/r2 from residual sums in one aggregate; for binary
  labels also accuracy@0.5 and rank-based AUC (Mann-Whitney with
  midranks — the only sort is over ONE test fold's scores);
- write-back: ``FeatureRegistry.record_metrics`` / Session meta dir.

A custom model rides the same seam: pass ``fitter=`` returning any
``(test_df) -> DataFrame-with-_score`` scorer — e.g. one wrapping
``fte.operators.scoring.score_with_model`` for a worker-cached python
model. The default stays closed-form so the whole loop is
deterministic and cluster-scale (every step is aggregates + column
arithmetic; nothing materializes rows on the driver).

Scale shape at 100 TB: ONE scan of the matrix for every fold and every
model (each task accumulates its (fold, pattern) partials in numpy and
emits them once; one aggregate merges the ≤ tasks × folds × patterns ×
d(d+1)/2 partial rows), then ONE ``groupBy(fold)`` scoring aggregate
for every fold and model — two reads of the matrix in all, whatever
k or the number of models. A custom ``fitter`` keeps the per-fold
loop (k fits + k metric aggregates per model). No per-fold shuffle of
the matrix itself: train/test are filters on the fold column.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from fte.operators.sampling import with_fold

# ridge penalty of the default model (the intercept is penalized too)
_REG = 1e-6


# Expressions here are built as SQL text: one Column operation is one
# py4j round-trip (~1-10 ms), and a d-feature score over k folds is
# O(k·d) of them, while one SQL string is one call.
def _q(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _dbl(c: str) -> str:
    return f"CAST({_q(c)} AS DOUBLE)"


def _fold_grams(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    fold_col: str | None = None,
) -> dict[tuple[int, bytes], np.ndarray]:
    """Gram partials ZᵀZ of Z = [X, 1, y] in ONE ``mapInArrow`` scan,
    keyed by (fold, NULL mask).

    The mask is the row's packed NULL bitmap over ``feature_cols``
    (``np.packbits``, any d); NULL values enter Z as 0 and rows with a
    NULL label are dropped. Each task accumulates its partials in numpy
    over all its Arrow batches and emits them once, as (key, k, v) rows
    of the upper triangle; one aggregate merges them. Without
    ``fold_col`` every row is fold 0. Returns {(fold, mask): (d+2)×(d+2)
    matrix}; the driver never sees more than folds × patterns of them.
    """
    import pyarrow as pa

    d = len(feature_cols)
    iu, ju = np.triu_indices(d + 2)
    z = df.where(f"{_q(label_col)} IS NOT NULL").selectExpr(
        f"CAST({_q(fold_col) if fold_col else 0} AS BIGINT) AS _fold",
        *[f"{_dbl(c)} AS _x{i}" for i, c in enumerate(feature_cols)],
        f"{_dbl(label_col)} AS _y",
    )
    def partials(batches):
        acc: dict[tuple[int, bytes], np.ndarray] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            Z = np.ones((n, d + 2))
            nulls = np.zeros((n, d), dtype=bool)
            for i in range(d):
                col = batch.column(i + 1)
                nulls[:, i] = col.is_null().to_numpy(zero_copy_only=False)
                Z[:, i] = col.fill_null(0.0).to_numpy(zero_copy_only=False)
            Z[:, d + 1] = batch.column(d + 1).to_numpy(zero_copy_only=False)
            folds = batch.column(0).to_numpy(zero_copy_only=False)
            masks = np.packbits(nulls, axis=1)
            keys = np.hstack([folds.astype(">i8").view(np.uint8).reshape(n, 8), masks])
            uniq, inv = np.unique(keys, axis=0, return_inverse=True)
            for u, key in enumerate(uniq):
                Zu = Z[inv == u]
                k = (int(key[:8].view(">i8")[0]), key[8:].tobytes())
                acc[k] = acc.get(k, 0.0) + Zu.T @ Zu
        if not acc:
            return
        t = len(iu)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat([f for f, _ in acc], t).astype("int64")),
                pa.array([m for _, m in acc for _ in range(t)], pa.binary()),
                pa.array(np.tile(np.arange(t, dtype="int32"), len(acc))),
                pa.array(np.concatenate([g[iu, ju] for g in acc.values()])),
            ],
            names=["fold", "mask", "k", "v"],
        )

    merged = (
        z.mapInArrow(partials, "fold bigint, mask binary, k int, v double")
        .groupBy("fold", "mask", "k")
        .agg(F.sum("v").alias("v"))
        .toPandas()
    )
    grams: dict[tuple[int, bytes], np.ndarray] = {}
    for (f, m), g in merged.groupby(["fold", "mask"]):
        G = grams[(int(f), bytes(m))] = np.zeros((d + 2, d + 2))
        k = g["k"].to_numpy()
        G[iu[k], ju[k]] = G[ju[k], iu[k]] = g["v"].to_numpy()
    return grams


def _complete_case(
    grams: Mapping[tuple[int, bytes], np.ndarray], idx: Sequence[int], d: int, n_folds: int
) -> np.ndarray:
    """Per-fold Gram of the model on columns ``idx`` (of the d scanned),
    over exactly the rows where none of those columns is NULL: the sum
    of the partials whose NULL mask has no bit in ``idx``. Shape
    (n_folds, |idx|+2, |idx|+2), rows/cols = [idx..., 1, y]."""
    sub = np.ix_([*idx, d, d + 1], [*idx, d, d + 1])
    out = np.zeros((n_folds, len(idx) + 2, len(idx) + 2))
    for (f, mask), G in grams.items():
        nulls = np.unpackbits(np.frombuffer(mask, dtype=np.uint8))[:d]
        if not nulls[list(idx)].any():
            out[f] += G[sub]
    return out


def _solve(gram: np.ndarray, reg: float) -> np.ndarray:
    """Ridge normal equations (XᵀX + λI)w = Xᵀy from the Gram of
    [X, 1, y]; w has the intercept last."""
    XX, Xy = gram[:-1, :-1], gram[:-1, -1]
    return np.linalg.solve(XX + reg * np.eye(len(Xy)), Xy)


def fit_ridge(
    train: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    reg: float = _REG,
) -> np.ndarray:
    """Closed-form ridge fit: solve (X'X + λI)w = X'y on the
    complete-case rows, from one ``_fold_grams`` scan (the single-fold
    case of the CV primitive). Returns w of length d+1 (intercept last,
    via the constant-1 column). Driver data: O(patterns × d²)."""
    d = len(feature_cols)
    grams = _fold_grams(train, feature_cols, label_col)
    return _solve(_complete_case(grams, range(d), d, 1)[0], reg)


def _linear(feature_cols: Sequence[str], w: np.ndarray) -> str:
    """Σ wᵢ·xᵢ + b as SQL arithmetic (codegen); NULL when any of the
    columns is NULL. ``repr`` double literals round-trip exactly."""
    terms = [f"{float(wi)!r}D * {_dbl(c)}" for c, wi in zip(feature_cols, w[:-1])]
    return " + ".join([f"{float(w[-1])!r}D", *terms])


def _linear_scorer(
    feature_cols: Sequence[str], w: np.ndarray
) -> Callable[[DataFrame], DataFrame]:
    """Score = Σ wᵢ·xᵢ + b, added as ``_score``."""

    def score(df: DataFrame) -> DataFrame:
        return df.withColumn("_score", F.expr(_linear(feature_cols, w)))

    return score


def ridge_fitter(reg: float = _REG):
    """Default ``fitter``: distributed closed-form ridge (see
    ``fit_ridge``). Signature: (train, feature_cols, label_col) ->
    scorer mapping a DataFrame to itself + ``_score``."""

    def fit(train: DataFrame, feature_cols: Sequence[str], label_col: str):
        w = fit_ridge(train, feature_cols, label_col, reg=reg)
        return _linear_scorer(feature_cols, w)

    return fit


def _metric_aggs(e: str, y: str, p: str = "") -> list[str]:
    """SQL residual sums behind ``_metrics``, over the rows where the
    residual ``e`` (so both score and label) is non-NULL."""
    y = f"IF({e} IS NULL, NULL, {y})"
    return [
        f"count({e}) AS {p}n",
        f"sum({e} * {e}) AS {p}sse",
        f"sum(abs({e})) AS {p}sae",
        f"sum({y}) AS {p}sy",
        f"sum({y} * {y}) AS {p}syy",
    ]


def _metrics(row, p: str = "") -> dict:
    n = row[f"{p}n"] if row else 0
    if not n:
        return {"n": 0, "mse": float("nan"), "mae": float("nan"), "r2": float("nan")}
    sse = row[f"{p}sse"]
    sst = row[f"{p}syy"] - row[f"{p}sy"] ** 2 / n
    r2 = 1.0 - sse / sst if sst > 0 else float("nan")
    return {"n": n, "mse": sse / n, "mae": row[f"{p}sae"] / n, "r2": r2}


def regression_metrics(scored: DataFrame, label_col: str) -> dict:
    """mse / mae / r2 in one aggregate over the scored test fold. n, the
    label mean and sst cover the same rows as sse: those whose
    ``_score`` and label are both non-NULL."""
    y = _dbl(label_col)
    return _metrics(scored.selectExpr(*_metric_aggs(f"(_score - {y})", y)).first())


def binary_metrics(
    scored: DataFrame, label_col: str, exact: bool = True, n_bins: int = 65536
) -> dict:
    """accuracy@0.5 and rank AUC (Mann-Whitney with midranks, exact
    under ties).

    ``exact=True`` ranks with an UNPARTITIONED window — the whole test
    fold flows through one task, which is fine for the fold sizes CV
    metrics are read at but is the single-task-sort shape this engine
    bans in data paths (CLAUDE.md / global top-k rule). At scale pass
    ``exact=False``: scores quantize onto ``n_bins`` equal-width bins
    (min/max from one broadcast aggregate) and the Mann-Whitney
    rank-sum is computed from the per-bin (n_pos, n_neg) histogram —
    every step a map-side-combined aggregate over ≤ n_bins rows, no
    global sort anywhere. Within-bin ties take the midrank, so the
    binned AUC errs only where opposite-label scores share a bin:
    |err| ≤ P(pair lands in same bin) ≤ 1/n_bins · (pairs at that
    resolution) — at 2^16 bins the pytest holds it inside 1e-3 on
    continuous scores.
    """
    y = F.col(label_col).cast("double")
    scored = scored.filter(F.col("_score").isNotNull() & y.isNotNull())
    acc = scored.agg(
        F.avg(((F.col("_score") >= 0.5).cast("double") == y).cast("double")).alias("acc")
    ).first()["acc"]
    if exact:
        w_rank = Window.orderBy(F.col("_score"))
        w_tie = Window.partitionBy(F.col("_score"))
        ranked = scored.select(
            y.alias("_y"),
            (F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_tie) - F.lit(1)) / 2.0).alias(
                "_midrank"
            ),
        )
        row = ranked.agg(
            F.sum(F.when(F.col("_y") == 1.0, F.col("_midrank"))).alias("_rpos"),
            F.sum((F.col("_y") == 1.0).cast("long")).alias("_npos"),
            F.sum((F.col("_y") == 0.0).cast("long")).alias("_nneg"),
        ).first()
        npos, nneg = row["_npos"] or 0, row["_nneg"] or 0
        auc = (
            ((row["_rpos"] or 0.0) - npos * (npos + 1) / 2.0) / (npos * nneg)
            if npos and nneg
            else float("nan")
        )
        return {"accuracy": acc, "auc": auc}
    # binned scale path: histogram of (bin, n_pos, n_neg), then the
    # U statistic from cumulative counts over <= n_bins rows
    ext = scored.agg(
        F.min("_score").alias("_mn"), F.max("_score").alias("_mx")
    )
    b = scored.crossJoin(F.broadcast(ext)).select(
        y.alias("_y"),
        F.when(
            F.col("_mx") > F.col("_mn"),
            F.least(
                F.lit(n_bins - 1),
                F.floor(
                    (F.col("_score") - F.col("_mn"))
                    * F.lit(float(n_bins))
                    / (F.col("_mx") - F.col("_mn"))
                ),
            ),
        )
        .otherwise(F.lit(0))
        .alias("_bin"),
    )
    hist = (
        b.groupBy("_bin")
        .agg(
            F.sum((F.col("_y") == 1.0).cast("long")).alias("np"),
            F.sum((F.col("_y") == 0.0).cast("long")).alias("nn"),
        )
        .collect()
    )
    hist.sort(key=lambda r: r["_bin"])
    npos = sum(r["np"] for r in hist)
    nneg = sum(r["nn"] for r in hist)
    if not (npos and nneg):
        return {"accuracy": acc, "auc": float("nan")}
    u = 0.0
    neg_below = 0
    for r in hist:
        u += r["np"] * (neg_below + r["nn"] / 2.0)  # ties in bin: half credit
        neg_below += r["nn"]
    return {"accuracy": acc, "auc": u / (npos * nneg)}


def _ridge_cv(
    folded: DataFrame,
    models: Mapping[str, Sequence[str]],
    label_col: str,
    n_folds: int,
) -> tuple[dict[str, list[np.ndarray]], dict[str, list[dict]]]:
    """Every fold of every model from one ``_fold_grams`` scan over the
    union of the models' columns, then one ``groupBy(fold)`` aggregate
    of residual sums. Fold f of a model trains on the sum of the
    model's complete-case Grams of the other folds. Returns per-fold
    weights and regression metrics per model."""
    union = list(dict.fromkeys(c for cols in models.values() for c in cols))
    grams = _fold_grams(folded, union, label_col, "fold")
    weights = {}
    for name, cols in models.items():
        g = _complete_case(grams, [union.index(c) for c in cols], len(union), n_folds)
        weights[name] = [
            _solve(g[np.arange(n_folds) != f].sum(axis=0), _REG) for f in range(n_folds)
        ]
    y = _dbl(label_col)
    resid = [
        "CASE fold "
        + " ".join(f"WHEN {f} THEN {_linear(cols, w)}" for f, w in enumerate(weights[name]))
        + f" END - {y} AS _e{j}"
        for j, (name, cols) in enumerate(models.items())
    ]
    aggs = [a for j in range(len(models)) for a in _metric_aggs(f"_e{j}", "_y", f"_m{j}_")]
    scored = folded.selectExpr("fold", f"{y} AS _y", *resid)
    rows = {r["fold"]: r for r in scored.groupBy("fold").agg(*map(F.expr, aggs)).collect()}
    metrics = {
        name: [_metrics(rows.get(f), f"_m{j}_") for f in range(n_folds)]
        for j, name in enumerate(models)
    }
    return weights, metrics


def crossval_models(
    matrix: DataFrame,
    models: Mapping[str, Sequence[str]],
    label_col: str,
    entity_col: str = "conv_id",
    n_folds: int = 5,
    seed: int = 42,
    fitter: Callable | None = None,
    binary: bool = False,
) -> dict[str, dict]:
    """Grouped k-fold CV of several feature sets (``models``: name ->
    columns) over one matrix: {name: its ``crossval_evaluate``
    result}. Rows with a NULL label are dropped.

    The default ridge scores every fold of every model from one Gram
    scan and one scoring aggregate (``_ridge_cv``). A custom ``fitter``
    (same signature as ``ridge_fitter()``'s result — a non-linear
    model has no Gram) runs the per-fold loop: fit on fold != f, score
    fold == f, ``regression_metrics``. ``binary=True`` adds
    ``binary_metrics`` of each scored test fold.
    """
    if not models:
        return {}
    labelled = matrix.where(f"{_q(label_col)} IS NOT NULL")
    folded = with_fold(labelled, entity_col, n_folds=n_folds, seed=seed)
    if fitter is None:
        weights, metrics = _ridge_cv(folded, models, label_col, n_folds)
    out = {}
    for name, cols in models.items():
        folds = []
        for f in range(n_folds):
            test = f"fold = {f}"
            if fitter is None:
                m = metrics[name][f]
                if binary:
                    scored = _linear_scorer(cols, weights[name][f])(folded.where(test))
                    m.update(binary_metrics(scored, label_col))
            else:
                scorer = fitter(folded.where(f"fold != {f}"), cols, label_col)
                scored = scorer(folded.where(test))
                m = regression_metrics(scored, label_col)
                if binary:
                    m.update(binary_metrics(scored, label_col))
            m["fold"] = f
            folds.append(m)
        keys = [k for k in folds[0] if k != "fold"]
        mean = {k: float(np.nanmean([m[k] for m in folds])) for k in keys}
        out[name] = {"folds": folds, "mean": mean}
    return out


def crossval_evaluate(
    matrix: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    entity_col: str = "conv_id",
    n_folds: int = 5,
    seed: int = 42,
    fitter: Callable | None = None,
    binary: bool = False,
) -> dict:
    """Grouped k-fold CV of one feature set over an assembled matrix.

    Per fold f: fit on rows with fold != f, score rows with fold == f,
    reduce metrics. Returns {"folds": [per-fold dicts], "mean": {...}}.
    ``fitter`` defaults to the closed-form distributed ridge (all folds
    from one Gram scan, complete-case rows, see ``crossval_models``);
    any callable with the same signature plugs in (including one built
    on ``score_with_model`` for worker-cached python models).

    A fold can score far below the others when grouped folds put an
    outlying entity in it, since the model that scores it never saw
    that entity. On perfbench's ``pit_train`` matrix (seed 1) the whale
    conversation ``conv-00000000`` holds 517 of the 2,915 CV rows,
    with ``f_turn_idx`` up to 4999 against ≤ 199 everywhere else; its
    fold is scored by a model trained without it, which extrapolates
    (r2 −120.2 on that fold, 0.13–0.24 on the others). That design is
    also rank-deficient — ``f_has_question`` and ``f_upper_ratio`` are
    constant 0 on the synthetic text; the 22 NULL-free features plus
    the intercept have rank 18 of 23, cond(XᵀX + 1e-6·I) ≈ 1e17–1e21 —
    so its weights are not identifiable; compare predictions, not
    weights. The default ``reg`` stays 1e-6: another default would
    move every recorded metric.
    """
    return crossval_models(
        matrix, {"": feature_cols}, label_col, entity_col=entity_col, n_folds=n_folds,
        seed=seed, fitter=fitter, binary=binary,
    )[""]


def rank_features(
    matrix: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    metric: str = "r2",
    higher_is_better: bool = True,
    **kw,
) -> list[dict]:
    """Single-feature CV evaluation of each candidate — FeatureHub's
    leaderboard view (each submitted feature carries its own score),
    every candidate from one ``crossval_models`` call. Returns
    [{"feature", "metric", "value", "folds"}] sorted best first."""
    res = crossval_models(matrix, {c: [c] for c in feature_cols}, label_col, **kw)
    out = [
        {
            "feature": c,
            "metric": metric,
            "value": res[c]["mean"][metric],
            "folds": [m[metric] for m in res[c]["folds"]],
        }
        for c in feature_cols
    ]
    out.sort(key=lambda r: r["value"], reverse=higher_is_better)
    return out


def calibration_metrics(
    scored: DataFrame, label_col: str, n_bins: int = 10
) -> tuple[float, DataFrame]:
    """Probability-calibration view of a scored binary fold: the Brier
    score (one aggregate) plus the reliability table — per score-bin
    (bin, n, mean_score, frac_pos), the data behind a calibration
    curve. Scores are clamped to [0, 1] before binning (a linear
    scorer can leave the interval). Everything is one
    map-side-combined aggregate over ≤ n_bins keys."""
    y = F.col(label_col).cast("double")
    s = F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.col("_score")))
    brier = scored.agg(F.avg((s - y) * (s - y)).alias("b")).first()["b"]
    binned = scored.select(
        y.alias("_y"),
        s.alias("_s"),
        F.least(F.lit(n_bins - 1), F.floor(s * F.lit(float(n_bins)))).cast("long").alias("bin"),
    )
    table = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("_s").alias("mean_score"),
        F.avg("_y").alias("frac_pos"),
    )
    return float(brier), table


def sliced_metrics(
    scored: DataFrame, label_col: str, slice_col: str
) -> DataFrame:
    """Per-slice regression metrics — the segment/fairness view of a
    scored fold (metrics per language, per source, per user segment).
    One grouped aggregate of ``_metric_aggs``, so each slice follows
    ``regression_metrics``' NULL policy; |slices| output rows. r2 is
    NULL for a zero-variance slice."""
    y = _dbl(label_col)
    g = scored.groupBy(F.col(slice_col).alias("slice")).agg(
        *[F.expr(a) for a in _metric_aggs(f"(_score - {y})", y)]
    )
    sst = "(syy - sy * sy / n)"
    return g.selectExpr(
        "slice", "n", "sse / n AS mse", "sae / n AS mae",
        f"IF({sst} > 0, 1 - sse / {sst}, NULL) AS r2",
    )
