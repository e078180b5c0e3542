"""Helper expressions shared across operators and the catalog.

Pure JVM Column expressions (SURVEY.md §2.B scalar functions): the
epoch converters, ``norm_text`` (the one text normalizer) and
``words`` (the one tokenizer), plus ``top_k``, the one global top-k
with a rank column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def epoch_seconds(col: Column | str) -> Column:
    """Timestamp → epoch seconds (long), handling both TIMESTAMP and
    TIMESTAMP_NTZ (parquet `timestamp[us]` without tz loads as NTZ in
    Spark 4; NTZ can't cast straight to long). The session timezone is
    pinned to UTC (fte.conf), so NTZ→TZ is value-preserving and matches
    DuckDB's epoch()."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def epoch_micros(col: Column | str) -> Column:
    """Timestamp → epoch microseconds (long) — the exact-precision twin
    of epoch_seconds (parquet timestamp[us] is µs-precise; second
    truncation would alias distinct turn times). Same NTZ handling and
    UTC-session caveat; matches DuckDB's epoch_us()."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def norm_text(col: Column | str) -> Column:
    """Whitespace-normalized, lowercased text: trim, collapse each
    whitespace run to one space, lowercase — the one text normalization
    behind fingerprints, shingles, tokens and segments. Matches the
    DuckDB oracles' ``lower(regexp_replace(trim(text), '\\s+', ' ',
    'g'))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def words(col: Column | str) -> Column:
    """The words of a text: ``norm_text`` split on its single spaces —
    the one definition of a word behind shingles, n-grams, chunks,
    segments, BM25, simhash and the term statistics. An empty (or
    all-whitespace) text yields one ``""`` token; only
    ``feature_hash_rows`` and ``q_top_terms`` drop it."""
    return F.split(norm_text(col), " ")


def top_k(df: DataFrame, order_cols, k: int, rank_col: str = "rank") -> DataFrame:
    """Global top-k as ``orderBy(...).limit(k)`` → TakeOrderedAndProject
    (each partition keeps a k-row heap; the driver merges k·n_parts
    rows), then ``rank_col`` = row_number over the ≤k survivors — the
    single-partition window touches k rows, never the input. Never
    rank with ``row_number`` over an unpartitioned Window of the whole
    input: that is one task. ``order_cols`` must be a total order
    (tie-broken) so the limit is deterministic."""
    limited = df.orderBy(*order_cols).limit(k)
    return limited.withColumn(rank_col, F.row_number().over(Window.orderBy(*order_cols)))
