"""Leakage-safe categorical encoding, scaling and binning — the classic
feature-engineering transforms FeatureHub users hand-wrote in pandas
feature functions (FeatureHub ships no encoders: EvaluatorClient
re-executes arbitrary pandas `[U]`), restated as pure Catalyst
windows/aggregates.

Operators: target encoding over strictly PRIOR rows (``target_encode``:
one window, frame UNBOUNDED PRECEDING → 1 PRECEDING), OTHER folds
(``oof_target_encode``) or all OTHER rows (``loo_target_encode``);
``count_encode`` and ``woe_encode``; the scalers ``standardize``,
``minmax_scale`` and ``robust_scale``; ``quantile_bin`` and the drift
monitor ``psi_report``; and the vocab-free hashing trick
``feature_hash_rows`` (bucket = hash(token) % k with a ±1 sign,
Weinberger et al., ICML 2009: one (id, bucket) shuffle of 16-byte rows
at any corpus size).

Each shared decision has one definition:
- ``_join_back``: per-key statistics join back null-safely on every
  key — a NULL category is a category, and its rows get their group's
  statistics (a plain equi-join drops them: NULL != NULL).
- ``_complement``: "the category without this part" is (Σ_all − Σ_part,
  n_all − n_part) over ``_target_sums``' DECIMAL(27,6) sums and non-NULL
  counts, subtracted in DECIMAL, cast to double once and divided once;
  a NULL sum counts as 0 and the mean is NULL when no row remains. OOF's
  part is the row's (category, fold) partial, LOO's the row's own
  target ((0, 0) when it is NULL).
- ``_with_row``: a 1-row statistics frame (moments, extremes,
  boundaries, totals) is broadcast onto every row under one projection;
  the data itself never shuffles.
- ``_percentile``: exact interpolating percentile (sort-based —
  small/oracle runs) or approx_percentile (mergeable t-digest, bounded
  memory) at accuracy 10000.
Stratified sampling lives in fte.operators.sampling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from fte.functions import words

_DEC = "decimal(27,6)"


def _join_back(df: DataFrame, stats: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``df`` with the per-key ``stats`` on every row (null-safe on
    every key), without the stats' key copies. A left join: every row
    has its match anyway, and it keeps the rows from being picked as the
    broadcast side when their size estimate undercuts the stats'."""
    copies = [f"_cat{i or ''}" for i in range(len(keys))]
    stats = stats.select(
        *[F.col(k).alias(c) for k, c in zip(keys, copies)],
        *[c for c in stats.columns if c not in keys],
    )
    on = [F.col(k).eqNullSafe(F.col(c)) for k, c in zip(keys, copies)]
    return df.join(stats, on, "left").drop(*copies)


def _target_sums(df: DataFrame, keys: Sequence[str], target_col: str, tag: str) -> DataFrame:
    """Per-key target sum ``_s_{tag}`` (exact DECIMAL: double sums differ
    across engines in the last ulp) and non-NULL count ``_n_{tag}``."""
    return df.groupBy(*keys).agg(
        F.sum(F.col(target_col).cast(_DEC)).alias(f"_s_{tag}"),
        F.count(target_col).alias(f"_n_{tag}"),
    )


def _complement(
    s_all: Column, n_all: Column, s_part: Column, n_part: Column, prefix: str
) -> dict[str, Column]:
    """``{prefix}_count`` and ``{prefix}_mean`` of the whole minus the
    part (the rule in the module docstring)."""
    zero = F.lit(0).cast(_DEC)
    n = n_all - n_part
    s = F.coalesce(s_all, zero) - F.coalesce(s_part, zero)
    return {
        f"{prefix}_count": n.cast("long"),
        f"{prefix}_mean": F.when(n > 0, s.cast("double") / n),
    }


def _with_row(df: DataFrame, row: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """``df`` plus ``cols`` computed against the broadcast 1-row frame
    ``row``, whose own columns are dropped."""
    return df.crossJoin(F.broadcast(row)).withColumns(cols).drop(*row.columns)


def _percentile(x: Column, qs, exact: bool) -> Column:
    """Percentile aggregate of ``x`` at ``qs`` (a fraction, or a list of
    them for an array), exact or approximate."""
    return F.percentile(x, qs) if exact else F.percentile_approx(x, qs, 10000)


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    order_cols: Sequence[str],
    prefix: str = "te",
    smoothing: float = 0.0,
    prior: float = 0.0,
) -> DataFrame:
    """Point-in-time target encoding: for every row, the COUNT and
    MEAN of ``target_col`` over strictly PRIOR rows (frame ends at
    1 PRECEDING in ``order_cols`` order) of the same ``cat_col`` —
    plus the smoothed encoding (count*mean + smoothing*prior) /
    (count + smoothing) when ``smoothing`` > 0.

    The first row of each category has count 0 and NULL mean (no
    prior evidence — consumers either use the smoothed column, which
    falls back to ``prior``, or impute). ``order_cols`` must be a
    total order within each category (e.g. (ts, event_id)) or prior
    sets are ambiguous.

    Sums accumulate in DECIMAL(27,6) and divide only at the end —
    running double sums differ across engines in the last ulp, and
    the oracle gate hashes values (see fte/queries.py header).
    """
    w = (
        Window.partitionBy(cat_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stats = df.withColumns({
        "_n": F.count(F.col(target_col)).over(w),
        "_s": F.sum(F.col(target_col).cast(_DEC)).over(w),
    })
    n, s = F.col("_n"), F.col("_s")
    # decimal sum -> double FIRST, then divide: both engines then
    # divide bit-identical operands (the repo-wide oracle pattern)
    cols = {f"{prefix}_count": n.cast("long"), f"{prefix}_mean": s.cast("double") / n}
    if smoothing > 0:
        sm = (s.cast("double") + F.lit(float(smoothing * prior))) / (
            n + F.lit(float(smoothing))
        )
        cols[f"{prefix}_smooth"] = F.coalesce(sm, F.lit(float(prior)))
    return stats.withColumns(cols).drop("_n", "_s")


def quantile_bin(
    df: DataFrame,
    value_col: str,
    n_bins: int = 4,
    out_col: str = "bin",
    exact: bool = False,
) -> DataFrame:
    """Equal-frequency discretization: assign each row the index
    (0..n_bins-1) of its ``value_col`` quantile bin. Boundaries are
    the 1/n .. (n-1)/n quantiles; bin = number of boundaries <= value
    (right-closed, so the max value lands in the last bin).

    ``exact`` picks the percentile (``_percentile``): approx_percentile
    by default (the scale path), the exact interpolating percentile for
    small inputs / oracle parity. Either way the boundary row is a
    1-row aggregate broadcast onto the projection: no shuffle of the
    data itself. NULL values get a NULL bin (never silently bin 0 —
    missing is not "lowest quantile").
    """
    bounds = _quantile_bounds(df, value_col, n_bins, exact)
    return _bin_against(df, bounds, value_col, n_bins, out_col)


def _quantile_bounds(df: DataFrame, value_col: str, n_bins: int, exact: bool) -> DataFrame:
    """1-row frame of the n_bins−1 quantile boundaries of value_col."""
    qs = [i / n_bins for i in range(1, n_bins)]
    return df.select(_percentile(F.col(value_col), qs, exact).alias("_qb"))


def _bin_against(
    df: DataFrame, bounds: DataFrame, value_col: str, n_bins: int, out_col: str
) -> DataFrame:
    """Assign each row its bin vs a SHARED boundary frame. Sharing
    matters with approximate boundaries: two independent
    approx_percentile runs over the same data can return different
    t-digest results (partition merge order), so every consumer that
    must agree on edges (e.g. psi_report's two sides) bins against one
    bounds frame. n_bins is a plan-time constant: the comparisons are
    unrolled into a flat sum of WHENs (whole-stage codegen), never an
    interpreted higher-order aggregate (~100 µs/elem)."""
    bin_expr = F.lit(0)
    for i in range(n_bins - 1):
        bin_expr = bin_expr + (
            F.when(F.col(value_col) > F.element_at("_qb", i + 1), 1).otherwise(0)
        )
    return _with_row(
        df, bounds, {out_col: F.when(F.col(value_col).isNotNull(), bin_expr).cast("long")}
    )


def feature_hash_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Hashing-trick text vectorization, sparse form: (id, bucket,
    weight) with bucket = md5-bucket(token) in [0, k) and weight the
    signed term count (±1 hash sign — keeps the estimator unbiased,
    per the hashing-trick construction).

    Deliberately md5-based like hash_uniform, NOT xxhash64: the md5
    arithmetic is reproducible in ANSI SQL, so the whole vectorizer
    is oracle-checkable; weights are exact BIGINTs.

    Scale: normalize + split + explode are zero-shuffle scan work; the
    only exchange is the (id, bucket) hash aggregate of 16-byte rows
    with map-side combine. No vocabulary pass, no dictionary
    broadcast, no OOV path — the property that makes this the
    vectorizer of choice at 100 TB.
    """
    toks = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("_tok")
    ).filter(F.col("_tok") != "")
    h = F.md5(F.concat(F.col("_tok"), F.lit(f"#fh{seed}")))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % k).alias("bucket")
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        toks.select(id_col, bucket, sign.alias("_s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").cast("long").alias("weight"))
    )


def standardize(
    df: DataFrame,
    value_cols: Sequence[str],
    suffix: str = "_z",
) -> DataFrame:
    """Z-score standardization: (x − mean) / sample_std per column,
    with the moment row computed in ONE aggregate and broadcast back —
    no shuffle of the data itself.

    Moments come from decimal-accumulated Σx and Σx², NOT stddev_samp:
    the built-in central-moment accumulators are numerically stable
    but ORDER-dependent in the last ulp across engines, while decimal
    sums are exact, sqrt is IEEE correctly-rounded everywhere, and the
    final divisions see bit-identical operands — so the z-scores are
    engine-reproducible (the repo-wide oracle discipline). x² is
    squared in DOUBLE first (IEEE multiply — bit-identical on every
    engine; squaring inside DECIMAL would overflow the 38-digit cap)
    and then cast to DECIMAL(38,12) for the exact sum — lossless
    whenever x² is exactly representable at 12 fractional digits
    (integer and low-precision features; for arbitrary doubles the
    cast rounds half-up vs half-even across engines — round the
    outputs if bit-parity matters there).

    OVERFLOW GUARD: a value too large for the decimal casts (|x| ≥
    ~1e21, or x² ≥ ~1e26 i.e. |x| ≥ ~1e13) try_casts to NULL (a plain
    cast THROWS under Spark 4's default ANSI mode); a sum that
    silently skipped such rows while the count kept them would bias
    every z-score. The moment row therefore also counts successful
    casts, and if ANY row failed, every z for that column is NULL
    (honest refusal, not a wrong number) — rescale such features
    (epoch-micros class) first. For ill-conditioned data (|mean| ≫
    std) prefer the built-in stddev_samp and give up bit-parity; a
    constant column yields std 0 → NULL z (both engines)."""
    aggs = []
    for c in value_cols:
        x = F.col(c).cast("double")
        xd = x.try_cast(_DEC)
        xxd = (x * x).try_cast("decimal(38,12)")
        aggs += [
            F.count(F.col(c)).alias(f"_n_{c}"),
            F.sum(xd).cast("double").alias(f"_s_{c}"),
            F.sum(xxd).cast("double").alias(f"_ss_{c}"),
            # casts that overflowed to NULL (sum skips them; n doesn't)
            (F.count(F.col(c)) - F.least(F.count(xd), F.count(xxd)))
            .alias(f"_bad_{c}"),
        ]

    def z(c: str) -> Column:
        n = F.col(f"_n_{c}")
        mean = F.col(f"_s_{c}") / n
        var = (F.col(f"_ss_{c}") - F.col(f"_s_{c}") * F.col(f"_s_{c}") / n) / (n - 1)
        std = F.sqrt(var)
        return F.when(
            (F.col(f"_bad_{c}") == 0) & (std > 0), (F.col(c) - mean) / std
        ).otherwise(F.lit(None))

    return _with_row(df, df.select(*aggs), {c + suffix: z(c) for c in value_cols})


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
    exact: bool = False,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference snapshot and a
    current snapshot of one numeric column — the standard drift
    monitor for deployed feature pipelines. Bins are the REFERENCE
    quantiles (so ref shares are ~uniform); per bin:
    psi_term = (p_cur − p_ref) · ln(p_cur / p_ref), with both shares
    floored at ``eps`` so empty current bins stay finite. Total PSI =
    sum of terms (rule of thumb: <0.1 stable, >0.25 shifted).

    Output: (bin, n_ref, n_cur, p_ref, p_cur, psi_term) — one row per
    bin, terms rounded to 6dp (ln differs across engines in the last
    ulp; rounding restores hash-parity, the xent-query precedent).
    NULL values land in their own bin −1, so a change in the missing
    rate shows up as its own drift term instead of polluting bin 0.

    Scale: boundaries from ONE (approx_)percentile aggregate on ref,
    shared by BOTH sides — two independent approx_percentile runs over
    ref could return different t-digest edges (partition merge order)
    and silently bias every share. Each side is then scan → unrolled
    bin projection → n_bins-row count aggregate; the join is n_bins
    rows. Nothing large shuffles.
    """
    # localCheckpoint pins the 1-row boundary frame: even the SAME
    # approx plan evaluated once per consumer may merge t-digest
    # partials in a different order and yield different edges
    bounds = _quantile_bounds(ref, value_col, n_bins, exact).localCheckpoint(
        eager=False
    )
    binned_ref = _bin_against(ref, bounds, value_col, n_bins, "bin").fillna(
        -1, subset=["bin"]
    )
    binned_cur = _bin_against(cur, bounds, value_col, n_bins, "bin").fillna(
        -1, subset=["bin"]
    )

    def shares(binned: DataFrame, n_alias: str, p_alias: str) -> DataFrame:
        counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias(n_alias))
        total = counts.select(F.sum(n_alias).alias("_tot"))
        return _with_row(counts, total, {
            n_alias: F.col(n_alias).cast("long"),
            p_alias: F.col(n_alias) / F.col("_tot"),
        })

    r = shares(binned_ref, "n_ref", "p_ref")
    c = shares(binned_cur, "n_cur", "p_cur")
    joined = r.join(c, "bin", "full").fillna(0, subset=["n_ref", "n_cur"]).fillna(
        0.0, subset=["p_ref", "p_cur"]
    )
    p = F.greatest(F.col("p_cur"), F.lit(float(eps)))
    q = F.greatest(F.col("p_ref"), F.lit(float(eps)))
    return joined.select(
        "bin", "n_ref", "n_cur",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def oof_target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    fold_col: str = "fold",
    prefix: str = "oof",
) -> DataFrame:
    """Out-of-fold target encoding — the cross-validation twin of
    ``target_encode``: each row's encoding is the mean of
    ``target_col`` over rows of the same category in OTHER folds only
    (never its own fold, so a fold's model never sees statistics
    derived from its own labels — the standard CV leakage control;
    use ``target_encode`` when leakage is temporal rather than
    fold-structural).

    Computed by ``_complement``: per-category totals minus the row's
    own (category, fold) partial —
    oof_mean = (Σ_cat − Σ_cat,fold) / (n_cat − n_cat,fold) —
    so the cost is one map-side-combined hash aggregate over
    (cat, fold) (≈ |cats|·k rows), whose per-category totals are a
    window over those partial rows (exact: DECIMAL sums), joined back
    onto the rows by ``_join_back``. The join
    strategy is LEFT TO SPARK: low-cardinality categoricals
    auto-broadcast, while target encoding's primary high-cardinality
    use (user_id-class keys, 10^8+ categories at 100 TB) would break a
    forced broadcast hint — there the join shuffles on the (cat, fold)
    key, the corpus's own distribution. A category entirely inside one
    fold has no out-of-fold evidence → NULL; a (cat, fold) whose
    targets are all NULL still gets the other folds' mean; a NULL
    category is a category.
    """
    by_cat = Window.partitionBy(cat_col)
    stats = _target_sums(df, [cat_col, fold_col], target_col, "part").withColumns({
        "_s_all": F.sum("_s_part").over(by_cat),
        "_n_all": F.sum("_n_part").over(by_cat),
    })
    return (
        _join_back(df, stats, [cat_col, fold_col])
        .withColumns(_complement(
            F.col("_s_all"), F.col("_n_all"), F.col("_s_part"), F.col("_n_part"), prefix
        ))
        .drop("_s_all", "_n_all", "_s_part", "_n_part")
    )


def minmax_scale(
    df: DataFrame, value_cols: Sequence[str], suffix: str = "_mm"
) -> DataFrame:
    """Min-max scaling to [0, 1]: (x − min) / (max − min), extremes
    from one aggregate broadcast back. min/max are exact (no
    accumulation order), so cross-engine parity is free. A constant
    column (max == min) yields NULL."""
    aggs = []
    for c in value_cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]

    def scaled(c: str) -> Column:
        mn, mx = F.col(f"_mn_{c}").cast("double"), F.col(f"_mx_{c}").cast("double")
        return F.when(mx > mn, (F.col(c).cast("double") - mn) / (mx - mn))

    return _with_row(df, df.select(*aggs), {c + suffix: scaled(c) for c in value_cols})


def robust_scale(
    df: DataFrame,
    value_col: str,
    suffix: str = "_rz",
    exact: bool = False,
) -> DataFrame:
    """Robust z-score (x − median) / (1.4826 · MAD) — the
    outlier-resistant alternative to ``standardize`` (a single whale
    value drags mean/std arbitrarily; median/MAD don't move). Two
    passes: median of x, then median of |x − median| with the first
    result broadcast in between (MAD is not a one-pass aggregate); the
    (median, MAD) row is then broadcast onto the rows. ``exact`` as in
    quantile_bin. MAD 0 (>50% of values identical) yields NULL.
    """
    x = F.col(value_col).cast("double")
    med = df.select(_percentile(x, 0.5, exact).alias("_med"))
    med = med.localCheckpoint(eager=False)  # pin: two consumers
    mad = df.crossJoin(F.broadcast(med)).select(
        _percentile(F.abs(x - F.col("_med")), 0.5, exact).alias("_mad")
    )
    scale = F.lit(1.4826) * F.col("_mad")
    return _with_row(
        df, med.crossJoin(mad),
        {value_col + suffix: F.when(scale > 0, (x - F.col("_med")) / scale)},
    )


def count_encode(
    df: DataFrame, cat_col: str, prefix: str = "ce"
) -> DataFrame:
    """Count / frequency encoding: each row gets its category's total
    occurrence count and relative frequency — the cheapest useful
    categorical encoder (no target needed, so no leakage question).

    One hash aggregate over the category key (map-side combined,
    |cats| rows) joined back by ``_join_back`` (a NULL category is a
    category; the join strategy is Spark's, as in oof_target_encode),
    plus the 1-row total. ``{prefix}_freq`` = n_cat / n_total is a
    ratio of exact BIGINTs → bit-identical across engines.
    """
    per_cat = df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("_n_cat"))
    total = df.select(F.count(F.lit(1)).alias("_n_tot"))
    return _with_row(_join_back(df, per_cat, [cat_col]), total, {
        f"{prefix}_count": F.col("_n_cat").cast("long"),
        f"{prefix}_freq": F.col("_n_cat").cast("double") / F.col("_n_tot").cast("double"),
    }).drop("_n_cat")


def loo_target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    prefix: str = "loo",
) -> DataFrame:
    """Leave-one-out target encoding — the row-granular limit of
    ``oof_target_encode``: each row's encoding is the mean of
    ``target_col`` over all OTHER rows of its category,
    loo_mean = (Σ_cat − y_row) / (n_cat − 1).

    ``_complement`` with the row's own target as the part: only the
    per-category aggregate is needed (one hash agg + one
    ``_join_back``, so a NULL category is a category). A singleton
    category (n_cat = 1) has no other-row evidence → NULL. A NULL-target
    row takes nothing out: it gets the mean of its category's other
    rows (Σ_cat / n_cat), the encoding a scoring row with an unknown
    label needs.
    """
    y = F.col(target_col)
    return (
        _join_back(df, _target_sums(df, [cat_col], target_col, "all"), [cat_col])
        .withColumns(_complement(
            F.col("_s_all"), F.col("_n_all"), y.cast(_DEC), y.isNotNull().cast("long"), prefix
        ))
        .drop("_s_all", "_n_all")
    )


def woe_encode(
    df: DataFrame,
    cat_col: str,
    label_col,
    smoothing: float = 0.5,
    prefix: str = "woe",
) -> DataFrame:
    """Weight-of-evidence encoding for a binary label: per category,
    woe = ln( ((pos_c + s) / pos_tot) / ((neg_c + s) / neg_tot) )
    with Laplace smoothing ``s`` so single-class categories stay
    finite — the standard scorecard/credit-risk categorical encoder,
    also the log-odds feature LLM data-curation classifiers use.

    ``label_col`` is a Column (or name) that must evaluate to 0/1.
    Returns ONE ROW PER CATEGORY: (cat, n, pos, neg, woe) — join back
    onto rows if a per-row column is wanted (|cats| rows broadcast).
    All count arithmetic is exact-integer; the single ln() is applied
    to a ratio of bit-identical doubles, and ln is evaluated by the
    same libm on both engines (established repo-wide by the
    unigram-xent oracle family).

    Scale: one hash aggregate over the category key + one 1-row total
    aggregate broadcast back. No shuffle beyond the groupBy.
    """
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    per_cat = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y.cast("long")).cast("long").alias("pos"),
    )
    per_cat = per_cat.withColumn("neg", (F.col("n") - F.col("pos")).cast("long"))
    tot = per_cat.select(
        F.sum("pos").cast("long").alias("_pos_tot"),
        F.sum("neg").cast("long").alias("_neg_tot"),
    )
    s = F.lit(float(smoothing))
    return _with_row(per_cat, tot, {
        prefix: F.log(
            ((F.col("pos").cast("double") + s) / F.col("_pos_tot").cast("double"))
            / ((F.col("neg").cast("double") + s) / F.col("_neg_tot").cast("double"))
        ),
    })
