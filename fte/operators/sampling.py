"""Deterministic sampling / splitting / packing for training-data
pipelines.

Everything here is KEY-STABLE: assignment depends only on
(key, seed) — no RNG state, no partition order — so the same document
lands in the same split/bin across runs, incremental batches, and
cluster sizes. That property is what makes 100 TB train/val splits
reproducible and leak-free (a conv_id never straddles train and test
because the split key IS conv_id).

Hashes are md5-prefix uniforms (u = first 32 bits of md5(key||seed) /
2^32) rather than xxhash64 so a SQL oracle reproduces every assignment
bit-for-bit; swap the uniform for xxhash64 when oracle parity is not
needed (same one-projection shape, no shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def hash_uniform(key: Column | str, seed: int = 42) -> Column:
    """u ∈ [0,1): first 32 bits of md5(key || '#seed') over 2^32.
    Exactly reproducible in SQL: CAST(('0x' || substr(md5(k),1,8)) AS
    BIGINT) / 4294967296.0 — u is k/2^32, exactly representable as a
    double, so threshold comparisons are deterministic."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(c.cast("string"), F.lit(f"#{seed}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)


def with_split(
    df: DataFrame,
    key_col: str,
    splits: Sequence[tuple[str, float]] = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by cumulative hash-uniform
    thresholds. Key-stable and leak-safe: split on the ENTITY key
    (conv_id / doc_id), never on row position, so correlated rows
    stay together. One projection, no shuffle, no RNG."""
    total = sum(f for _, f in splits)
    if abs(total - 1.0) >= 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    u = hash_uniform(key_col, seed)
    chain = None
    acc = 0.0
    for name, frac in splits[:-1]:
        # round the cumulative threshold so 0.9 + 0.05 is 0.95 exactly
        # (float drift would desync the thresholds from a SQL oracle's
        # decimal literals)
        acc = round(acc + frac, 12)
        chain = F.when(u < acc, name) if chain is None else chain.when(u < acc, name)
    last = splits[-1][0]
    out = last if chain is None else chain.otherwise(last)
    return df.withColumn(out_col, F.lit(out) if isinstance(out, str) else out)


def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: int = 42,
    pos_col: str = "shuffle_pos",
    n_partitions: int | None = None,
) -> DataFrame:
    """Seed-stable global training order: every row gets a dense 0-based
    position in the order (hash_uniform(key, seed), key) — the
    reproducible corpus shuffle a training run reads, identical across
    runs, partitionings, and cluster sizes (the position is a pure
    function of the key set and seed).

    Scale shape — global positions WITHOUT a global single-task
    window: rows are range-partitioned and sorted on the shuffle key
    (a normal distributed sort), materialized once (localCheckpoint),
    then position = partition-local row_number (parallel per
    partition) + the exclusive prefix sum of partition sizes. The only
    driver traffic is one count per partition (the same two-pass
    offset scheme a sorted writer uses). Positions are independent of
    where range boundaries land because (u, key) is a total order.

    PRECONDITION: ``key_col`` values must be UNIQUE (the engine's
    doc_id contract). With duplicate keys (u, key) is no longer a
    total order, so the relative positions of duplicate-key rows are
    arbitrary and may differ across runs/partitionings — pass a
    uniquified key (e.g. concat(doc_id, chunk_idx)) if rows share one.
    """
    from pyspark.sql import Window

    base = df.withColumn("_u", hash_uniform(key_col, seed))
    parts = n_partitions or base.sparkSession.sparkContext.defaultParallelism
    arranged = (
        base.repartitionByRange(parts, F.col("_u"), F.col(key_col))
        .sortWithinPartitions("_u", key_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: the size pass
        # and the position pass must see identical partitions
    )
    sizes = arranged.groupBy("_pid").count().collect()
    acc = 0
    offset_rows = []
    for r in sorted(sizes, key=lambda r: r["_pid"]):
        offset_rows.append((int(r["_pid"]), acc))
        acc += r["count"]
    # offsets join as a BROADCAST table, not a create_map literal: at
    # thousands of partitions a map literal is thousands of
    # expressions Catalyst must analyze/codegen per task, while the
    # broadcast join stays constant-size in the plan
    offsets_df = F.broadcast(
        arranged.sparkSession.createDataFrame(offset_rows, "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy("_u", key_col)
    return (
        arranged.join(offsets_df, "_pid")
        .withColumn(
            pos_col,
            (F.row_number().over(w) - 1 + F.col("_off")).cast("long"),
        )
        .drop("_u", "_pid", "_off")
    )


def sample_sources(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    source_col: str = "source",
    default_weight: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Dataset mixing: keep each row with the probability assigned to
    its source (e.g. {'web': 0.3, 'wiki': 1.0, 'forums': 0.6}) — the
    mixture-reweighting step before training. Key-stable like
    everything in this module: a document's fate depends only on
    (key, seed), so mixtures are reproducible across runs, cluster
    sizes, and incremental batches, and MONOTONE — raising a source's
    weight only ADDS documents (the kept set at w1 ⊆ kept set at w2
    for w1 ≤ w2), so mixture sweeps reuse work. One projection over a
    CASE on the bounded source domain; no shuffle, no RNG state.

    Sources absent from ``weights`` keep ``default_weight`` (1.0 =
    pass through; set 0.0 to drop unknown sources).
    """
    u = hash_uniform(key_col, seed)
    w = None
    for s, frac in weights.items():
        cond = F.col(source_col) == s
        w = F.when(cond, F.lit(float(frac))) if w is None else w.when(cond, F.lit(float(frac)))
    w = F.lit(float(default_weight)) if w is None else w.otherwise(F.lit(float(default_weight)))
    return df.filter(u < w)


def with_fold(
    df: DataFrame, key_col: str, n_folds: int = 5, seed: int = 42,
    out_col: str = "fold",
) -> DataFrame:
    """K-fold assignment by ENTITY-KEY hash — grouped/leakage-safe CV
    folds: every row of a conversation/document lands in the same fold
    (correlated rows never straddle train and validation, the grouped
    k-fold rule), stable across runs, partitionings, and appends.
    fold = md5-bucket(key) in [0, n_folds); one projection, no
    shuffle, no RNG. The data-side half of CV — model fitting stays
    out of engine scope (SURVEY §2.A A8)."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#cv{seed}")))
    fold = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_folds
    return df.withColumn(out_col, fold)


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo_seconds: int = 0,
    out_col: str = "tsplit",
) -> DataFrame:
    """Point-in-time train/test split with an embargo gap: rows with
    ts < cutoff − embargo are 'train', rows with ts >= cutoff are
    'test', rows inside the embargo window are 'embargo' (DROPPED from
    both sides by convention — they leak label horizon into training
    when targets look up to embargo_seconds into the future; the
    standard purged time-series split). Pure projection.

    The cutoff literal is cast to the ts COLUMN's own type: parquet
    timestamps load as TIMESTAMP_NTZ in Spark 4 (CLAUDE.md), and
    comparing NTZ against a session-zoned to_timestamp literal would
    silently shift the boundary with spark.sql.session.timeZone."""
    cut = F.lit(cutoff).cast(df.schema[ts_col].dataType)
    train_end = cut - F.make_interval(secs=F.lit(float(embargo_seconds)))
    c = F.col(ts_col)
    return df.withColumn(
        out_col,
        F.when(c < train_end, F.lit("train"))
        .when(c >= cut, F.lit("test"))
        .otherwise(F.lit("embargo")),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    seed: int = 42,
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (n items,
    inclusion odds ∝ weight): the Efraimidis–Spirakis priority scheme
    — priority = u^(1/w) with u = hash_uniform(key), keep the n
    largest priorities. Key-stable like everything here: the sample
    is a pure function of (key set, weights, seed); reweighting only
    a few rows only perturbs those rows' priorities.

    Scale shape: one projection + a global top-n, which the engine's
    standing rule plans as TakeOrderedAndProject (per-partition heaps
    of n, no global sort/shuffle of the corpus). Priorities are
    rounded to 9dp BEFORE ordering with the key as tiebreak, so the
    selected set is identical across engines (raw pow() differs in
    the last ulp across libm implementations — rounding + a total
    tiebreak makes the order, and therefore the cut, reproducible).
    Rows with weight <= 0 or NULL are never selected.

    Weights are normalized by max(w) before the pow — x ↦ x^wmax is
    strictly increasing on [0,1), so the selected set is the same as
    raw E-S, but the numerics change decisively: with raw 1/w
    exponents, large weights (w ≳ 1e5, e.g. char counts of long docs)
    compress every priority into 0.9999999xx and the 9dp rounding
    collapses the top-n boundary into key-ordered ties; normalized,
    the heaviest item's exponent is 1 and boundary priorities stay
    O(1)-spread, so 9dp is ~1e-9 RELATIVE precision where the cut
    happens. The 1-row max(w) rides in on a broadcast cross join
    (same 1-row-moment shape as the scalers), not a collect.
    """
    u = hash_uniform(key_col, seed)
    w = F.col(weight_col).cast("double")
    pos = df.filter(w > 0)
    wmax = pos.agg(F.max(w).alias("_wmax"))
    pri = F.round(F.pow(u, F.col("_wmax") / w), 9)
    out = (
        pos.crossJoin(F.broadcast(wmax))
        .withColumn(priority_col, pri)
        .drop("_wmax")
        .orderBy(F.col(priority_col).desc(), F.col(key_col).asc())
        .limit(n)
    )
    return out


def sample_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    n_per_group: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic N-per-group selection (eval-set construction,
    per-source caps): rank rows inside each group by (md5-uniform,
    key) — a stable pseudo-random total order — and keep the first
    ``n_per_group``. Unlike sample_sources' Bernoulli keep, the
    output size per group is EXACT (min(n, group size)). One window
    over the group key; the shuffle is the group-key distribution
    itself, and with n_per_group small the post-filter output is
    tiny."""
    from pyspark.sql import Window

    u = hash_uniform(key_col, seed)
    w = Window.partitionBy(group_col).orderBy(u.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_group)
        .drop("_rk")
    )
