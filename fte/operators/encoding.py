"""Leakage-safe categorical encoding + quantile binning — the classic
feature-engineering transforms FeatureHub users hand-wrote in pandas
feature functions (running group statistics, discretization), built as
pure Catalyst windows/aggregates.

Reference parity note: FeatureHub itself ships no encoders — users
compute them inside feature functions (src/featurehub/evaluation/
client.py::EvaluatorClient re-executes arbitrary pandas `[U]`). These
operators are the engine-level, point-in-time-correct restatement of
the two most common such functions.

Scale shapes:
- target/count encoding: ONE window over (category) ordered by event
  time with an UNBOUNDED PRECEDING → 1 PRECEDING frame — strictly
  prior rows only, so training rows never see their own target
  (the leakage every naive groupby-mean target encoder commits). One
  shuffle on the category key; skewed categories are bounded by the
  running-frame computation being O(1) per row (no per-row rescans).
- quantile binning: boundaries from ONE aggregate (approx_percentile
  at scale — t-digest, mergeable, bounded memory; exact percentile
  for small/oracle runs), broadcast back as a 1-row literal join;
  bin assignment is a pure projection.
- feature hashing (the hashing trick): VOCAB-FREE text vectorization —
  no vocabulary aggregate, no broadcast dictionary, no OOV handling:
  bucket = hash(token) % k with a ±1 hash sign (Weinberger et al.,
  ICML 2009). The one text vectorizer whose cost is a single
  (id, bucket) shuffle of 16-byte rows at ANY corpus size.
(Per-stratum/stratified sampling already exists as
fte.operators.sampling.sample_sources — not duplicated here.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from fte.functions import words


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
    n = F.count(F.col(target_col)).over(w)
    s = F.sum(F.col(target_col).cast("decimal(27,6)")).over(w)
    # decimal sum -> double FIRST, then divide: both engines then
    # divide bit-identical operands (the repo-wide oracle pattern)
    mean = s.cast("double") / n
    out = df.withColumn(f"{prefix}_count", n.cast("long")).withColumn(
        f"{prefix}_mean", mean
    )
    if smoothing > 0:
        sm = (s.cast("double") + F.lit(float(smoothing * prior))) / (
            n + F.lit(float(smoothing))
        )
        out = out.withColumn(f"{prefix}_smooth", F.coalesce(sm, F.lit(float(prior))))
    return out


def quantile_bin(
    df: DataFrame,
    value_col: str,
    n_bins: int = 4,
    out_col: str = "bin",
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Equal-frequency discretization: assign each row the index
    (0..n_bins-1) of its ``value_col`` quantile bin. Boundaries are
    the 1/n .. (n-1)/n quantiles; bin = number of boundaries <= value
    (right-closed, so the max value lands in the last bin).

    ``exact=False`` (the scale default) uses approx_percentile — a
    mergeable t-digest aggregate with bounded memory at any corpus
    size; ``exact=True`` uses the exact interpolating percentile
    (sort-based — small inputs / oracle parity only). Either way the
    boundary row is a 1-row aggregate broadcast onto the projection:
    no shuffle of the data itself. NULL values get a NULL bin (never
    silently bin 0 — missing is not "lowest quantile").
    """
    bounds = _quantile_bounds(df, value_col, n_bins, exact, accuracy)
    return _bin_against(df, bounds, value_col, n_bins, out_col)


def _quantile_bounds(
    df: DataFrame, value_col: str, n_bins: int, exact: bool, accuracy: int = 10000
) -> DataFrame:
    """1-row frame of the n_bins−1 quantile boundaries of value_col."""
    qs = [i / n_bins for i in range(1, n_bins)]
    if exact:
        agg = F.percentile(F.col(value_col), F.array(*[F.lit(q) for q in qs]))
    else:
        agg = F.percentile_approx(
            F.col(value_col), F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)
        )
    return df.select(agg.alias("_qb"))


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
    binned = df.crossJoin(F.broadcast(bounds)).withColumn(
        out_col,
        F.when(F.col(value_col).isNotNull(), bin_expr).cast("long"),
    )
    return binned.drop("_qb")


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


def feature_hash_vectors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    seed: int = 42,
    out_col: str = "features",
) -> DataFrame:
    """Dense form of feature_hash_rows: (id, features: array<long> of
    length k). Assembly is one per-doc hash aggregate into a map,
    then k UNROLLED element_at lookups (k is a plan-time constant —
    flat codegen expressions, never an interpreted per-element
    higher-order transform at ~100 µs/element)."""
    sparse = feature_hash_rows(df, id_col, text_col, k, seed)
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("bucket"), F.col("weight")))
    ).alias("_m")
    dense = sparse.groupBy(id_col).agg(m)
    vec = F.array(
        *[F.coalesce(F.element_at("_m", F.lit(i)), F.lit(0)) for i in range(k)]
    )
    return dense.select(id_col, vec.alias(out_col))


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
        xd = x.try_cast("decimal(27,6)")
        xxd = (x * x).try_cast("decimal(38,12)")
        aggs += [
            F.count(F.col(c)).alias(f"_n_{c}"),
            F.sum(xd).cast("double").alias(f"_s_{c}"),
            F.sum(xxd).cast("double").alias(f"_ss_{c}"),
            # casts that overflowed to NULL (sum skips them; n doesn't)
            (F.count(F.col(c)) - F.least(F.count(xd), F.count(xxd)))
            .alias(f"_bad_{c}"),
        ]
    moments = df.select(*aggs)
    out = df.crossJoin(F.broadcast(moments))
    for c in value_cols:
        n = F.col(f"_n_{c}")
        mean = F.col(f"_s_{c}") / n
        var = (F.col(f"_ss_{c}") - F.col(f"_s_{c}") * F.col(f"_s_{c}") / n) / (n - 1)
        std = F.sqrt(var)
        out = out.withColumn(
            c + suffix,
            F.when(
                (F.col(f"_bad_{c}") == 0) & (std > 0), (F.col(c) - mean) / std
            ).otherwise(F.lit(None)),
        )
    drop = [f"_{p}_{c}" for c in value_cols for p in ("n", "s", "ss", "bad")]
    return out.drop(*drop)


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
        return counts.crossJoin(F.broadcast(total)).select(
            "bin",
            F.col(n_alias).cast("long").alias(n_alias),
            (F.col(n_alias) / F.col("_tot")).alias(p_alias),
        )

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

    Computed by complement: per-category totals minus the row's own
    (category, fold) partial —
    oof_mean = (Σ_cat − Σ_cat,fold) / (n_cat − n_cat,fold) —
    so the cost is two hash aggregates over (cat) and (cat, fold)
    (both map-side combined, key cardinality ≈ |cats|·k) joined back
    onto the rows. The join strategy is LEFT TO SPARK: low-cardinality
    categoricals auto-broadcast, while target encoding's primary
    high-cardinality use (user_id-class keys, 10^8+ categories at
    100 TB) would break a forced broadcast hint — there the join
    shuffles on the (cat, fold) key, the corpus's own distribution.
    Decimal
    accumulation, double division of bit-identical operands (the
    repo-wide oracle pattern). A category entirely inside one fold
    has no out-of-fold evidence → NULL.
    """
    d = F.col(target_col).cast("decimal(27,6)")
    per_cat = df.groupBy(cat_col).agg(
        F.sum(d).cast("double").alias("_s_all"),
        F.count(target_col).alias("_n_all"),
    )
    per_cat_fold = df.groupBy(cat_col, fold_col).agg(
        F.sum(d).cast("double").alias("_s_in"),
        F.count(target_col).alias("_n_in"),
    )
    oof = (
        per_cat_fold.join(per_cat, cat_col)
        .select(
            cat_col,
            fold_col,
            (F.col("_n_all") - F.col("_n_in")).cast("long").alias(f"{prefix}_count"),
            # coalesce: a (cat,fold) whose targets are ALL NULL has
            # _s_in NULL but _n_in 0 — NULL-target rows must reduce
            # the count, not NULL-out the encoding (r5 ADVICE)
            F.when(
                F.col("_n_all") > F.col("_n_in"),
                (F.coalesce("_s_all", F.lit(0.0)) - F.coalesce("_s_in", F.lit(0.0)))
                / (F.col("_n_all") - F.col("_n_in")),
            ).alias(f"{prefix}_mean"),
        )
    )
    return df.join(oof, [cat_col, fold_col], "left")


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
    ext = df.select(*aggs)
    out = df.crossJoin(F.broadcast(ext))
    for c in value_cols:
        mn, mx = F.col(f"_mn_{c}").cast("double"), F.col(f"_mx_{c}").cast("double")
        out = out.withColumn(
            c + suffix,
            F.when(mx > mn, (F.col(c).cast("double") - mn) / (mx - mn)),
        )
    return out.drop(*[f"_{p}_{c}" for c in value_cols for p in ("mn", "mx")])


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
    result broadcast in between (MAD is not a one-pass aggregate).
    ``exact`` as in quantile_bin: approx_percentile (t-digest,
    mergeable) at scale, exact interpolating percentile for
    small/oracle runs. MAD 0 (>50% of values identical) yields NULL.
    """
    def med(frame: DataFrame, col) -> DataFrame:
        agg = (
            F.percentile(col, F.lit(0.5))
            if exact
            else F.percentile_approx(col, F.lit(0.5), F.lit(10000))
        )
        return frame.select(agg.alias("_m"))

    x = F.col(value_col).cast("double")
    m1 = med(df, x).localCheckpoint(eager=False)  # pin: two consumers
    with_med = df.crossJoin(F.broadcast(m1.select(F.col("_m").alias("_med"))))
    m2 = med(with_med, F.abs(x - F.col("_med"))).select(F.col("_m").alias("_mad"))
    out = with_med.crossJoin(F.broadcast(m2))
    scale = F.lit(1.4826) * F.col("_mad")
    return out.withColumn(
        value_col + suffix, F.when(scale > 0, (x - F.col("_med")) / scale)
    ).drop("_med", "_mad")


def count_encode(
    df: DataFrame, cat_col: str, prefix: str = "ce"
) -> DataFrame:
    """Count / frequency encoding: each row gets its category's total
    occurrence count and relative frequency — the cheapest useful
    categorical encoder (no target needed, so no leakage question).

    One hash aggregate over the category key (map-side combined,
    |cats| rows) joined back; the join strategy is Spark's choice —
    low-cardinality categoricals auto-broadcast, high-cardinality
    keys shuffle on the corpus's own key (same reasoning as
    oof_target_encode). ``{prefix}_freq`` = n_cat / n_total is a
    ratio of exact BIGINTs → bit-identical across engines.
    """
    per_cat = df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("_n_cat"))
    total = df.select(F.count(F.lit(1)).alias("_n_tot"))
    # null-SAFE join back: groupBy keeps a NULL-category group, but a
    # plain equi-join would silently DROP every NULL-category row on
    # the way back (NULL != NULL) — missing is a category here
    per_cat = per_cat.select(F.col(cat_col).alias("_cat"), "_n_cat")
    return (
        df.join(per_cat, F.col(cat_col).eqNullSafe(F.col("_cat")))
        .drop("_cat")
        .crossJoin(F.broadcast(total))
        .withColumn(f"{prefix}_count", F.col("_n_cat").cast("long"))
        .withColumn(
            f"{prefix}_freq",
            F.col("_n_cat").cast("double") / F.col("_n_tot").cast("double"),
        )
        .drop("_n_cat", "_n_tot")
    )


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

    Same complement-aggregate shape as OOF but the "fold" is the row
    itself, so only the per-category aggregate is needed (one hash
    agg + one join back — no second aggregate). Decimal subtraction
    keeps Σ_cat − y exact before the single double division, so the
    oracle can reproduce every value. A singleton category (n_cat=1)
    and a NULL-target row both yield NULL (no other-row evidence /
    undefined complement); NULL targets reduce the count like the
    OOF coalesce rule.
    """
    d = F.col(target_col).cast("decimal(27,6)")
    per_cat = df.groupBy(cat_col).agg(
        F.sum(d).alias("_s_cat"),
        F.count(target_col).alias("_n_cat"),
    )
    # null-safe join back (see count_encode): NULL category is a
    # category; a plain equi-join would drop those rows entirely
    per_cat = per_cat.select(F.col(cat_col).alias("_cat"), "_s_cat", "_n_cat")
    joined = df.join(per_cat, F.col(cat_col).eqNullSafe(F.col("_cat"))).drop("_cat")
    n_others = F.col("_n_cat") - F.when(F.col(target_col).isNotNull(), 1).otherwise(0)
    return (
        joined.withColumn(f"{prefix}_count", n_others.cast("long"))
        .withColumn(
            f"{prefix}_mean",
            F.when(
                (n_others > 0) & F.col(target_col).isNotNull(),
                (F.coalesce(F.col("_s_cat"), F.lit(0).cast("decimal(27,6)")) - d)
                .cast("double")
                / n_others,
            ),
        )
        .drop("_s_cat", "_n_cat")
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
    return (
        per_cat.crossJoin(F.broadcast(tot))
        .withColumn(
            f"{prefix}",
            F.log(
                ((F.col("pos").cast("double") + s) / F.col("_pos_tot").cast("double"))
                / ((F.col("neg").cast("double") + s) / F.col("_neg_tot").cast("double"))
            ),
        )
        .drop("_pos_tot", "_neg_tot")
    )
