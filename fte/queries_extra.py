"""Catalog extras: set ops, non-equi range join, pivot, cube,
approx-distinct, and the Arrow-vectorized pandas UDF surface
(scalar + grouped-agg) that input_hint mandates (BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Window, functions as F
from pyspark.sql.functions import pandas_udf

from fte.scan import read_table as _t


# ------------------------------------------------------------ set ops

def q_set_ops(spark, sf_dir):
    """Users who clicked AND purchased minus users who errored —
    intersect/except composition on distinct key sets."""
    # restricted to the first week so the three sets actually differ
    ev = _t(spark, sf_dir, "events").filter(F.col("ts") < F.lit("2024-01-08"))
    clickers = ev.filter("event_type = 'click'").select("user_id").distinct()
    buyers = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    errored = ev.filter("event_type = 'error'").select("user_id").distinct()
    return clickers.intersect(buyers).exceptAll(errored)


SQL_SET_OPS = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-08'
"""


# --------------------------------------------------------- range join

def q_range_join(spark, sf_dir):
    """Non-equi interval join: for each purchase, count same-user
    events in the preceding 10 minutes (exclusive of the purchase
    instant).

    Round-6 rewrite: the equi-key self-join (SMJ whose within-user
    pair explosion then re-aggregated — two scans, join, agg; 4.9 s at
    the driver's sf1.0) is replaced by ONE µs-exact RANGE window over
    a single scan: frame [-600 s, -1 µs] ≡ the join predicate
    ts ∈ [p_ts − 600 s, p_ts), count(*) over the frame ≡ the left-join
    count (empty frame → 0, same-instant rows excluded on both
    formulations, µs is the storage precision so no aliasing). One
    user_id Exchange total, no pair explosion; bit-identical integer
    output.

    The frame counts ``ts``, not rows: the RANGE frame of a NULL order
    key is the whole NULL-ts group, and a NULL ts never satisfies the
    join predicate, so a NULL-ts purchase counts 0 and a NULL-ts event
    counts for no purchase (COUNT(e.ts) in the SQL form)."""
    from fte.functions import epoch_micros

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros("ts"))
        .rangeBetween(-600_000_000, -1)
    )
    return (
        ev.withColumn("_n", F.count("ts").over(w))
        .filter("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("_n").cast("long").alias("n_prior_10m"),
        )
    )


SQL_RANGE_JOIN = """
SELECT p.event_id AS purchase_id, p.user_id AS p_user,
       CAST(COUNT(e.ts) AS BIGINT) AS n_prior_10m
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL 600 SECONDS
 AND e.ts < p.ts
GROUP BY p.event_id, p.user_id
"""


# -------------------------------------------------------------- pivot

def q_pivot_user_types(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    # pivot yields nullable counts; normalize to 0 for oracle parity
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in ("click", "view", "purchase", "signup", "error")],
    )


SQL_PIVOT = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------- cube

def q_cube_day_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .cube("day", "event_type")
        .agg(F.count("*").alias("n"))
    )


SQL_CUBE = """
SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
FROM events GROUP BY CUBE (day, event_type)
"""


def q_rank_functions(spark, sf_dir):
    """Ranking-window family: rank / dense_rank / percent_rank /
    ntile / first_value over per-user value ordering."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first_value("event_id").over(w).alias("top_event_id"),
    )


SQL_RANK_FUNCTIONS = """
SELECT event_id, user_id,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       FIRST_VALUE(event_id) OVER w AS top_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
"""


def q_tumbling_hour(spark, sf_dir):
    """Tumbling 1-hour event-time windows per user (F.window)."""
    from fte.operators.windows import with_time_bucket_counts

    ev = _t(spark, sf_dir, "events")
    return with_time_bucket_counts(ev, "1 hour", conv_col="user_id")


SQL_TUMBLING = """
SELECT user_id,
       time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS bucket_end,
       COUNT(*) AS n
FROM events GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
"""


def q_ewma(spark, sf_dir):
    """Per-user EWMA of event value (bucketed grouped-map pandas ewm).

    Oracle: a DuckDB recursive CTE that replicates pandas
    ewm(adjust=True)'s float-op order BIT-FOR-BIT — state
    (weighted_avg, old_wt) with wa' = (0.7·ow·wa + x) / (0.7·ow + 1),
    ow' = 0.7·ow + 1, exactly the recursion pandas'
    window_aggregations.ewm runs in C (verified 0 diffs on 10k rows
    pre-rounding). Every literal is CAST AS DOUBLE: DuckDB otherwise
    types 1.0/0.7 as DECIMAL and the recursion silently degrades to
    2-decimal arithmetic."""
    from fte.operators.windows import with_ewma

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    out = with_ewma(ev, "value", alpha=0.3, conv_col="user_id",
                    order_cols=("ts", "event_id"))
    return out.select("event_id", "user_id", F.round("ewma_value", 6).alias("ewma_value"))


SQL_EWMA = """
WITH RECURSIVE s AS (
  SELECT event_id, user_id, CAST(value AS DOUBLE) AS x,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, rn, event_id, x AS wa, CAST(1.0 AS DOUBLE) AS ow FROM s WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.event_id,
         CASE WHEN r.wa = s.x THEN r.wa
              ELSE ((r.ow * CAST(0.7 AS DOUBLE)) * r.wa + s.x)
                   / ((r.ow * CAST(0.7 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) END AS wa,
         (r.ow * CAST(0.7 AS DOUBLE)) + CAST(1.0 AS DOUBLE) AS ow
  FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
)
SELECT event_id, user_id, ROUND(wa, 6) AS ewma_value FROM r
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via the SQL API (rollup/cube siblings):
    totals by (day,type), by (type), and grand total — skipping the
    by-day-only set that ROLLUP would force."""
    ev = _t(spark, sf_dir, "events")
    ev.withColumn("day", F.date_trunc("day", "ts")).createOrReplaceTempView("_ev_gs")
    return spark.sql(
        """
        SELECT day, event_type, COUNT(*) AS n
        FROM _ev_gs
        GROUP BY GROUPING SETS ((day, event_type), (event_type), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
FROM events
GROUP BY GROUPING SETS ((date_trunc('day', ts), event_type), (event_type), ())
"""


# ------------------------------------------------------ approx sketch

def q_approx_distinct(spark, sf_dir):
    """HLL++ distinct-user estimate per event_type, value-checked via the
    quantile_sketch pattern: the EXACT distinct count is oracle-checked
    and the sketch must land within a pinned relative-error gate (rsd
    0.05 → gate 3σ = 15%; HLL++ is exact below its dense threshold so
    small-SF error is usually 0).  The sketch value itself is not SQL-
    reproducible across engines by design; the gate boolean is."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("_approx"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    ok = (
        F.abs(F.col("_approx") - F.col("exact_users"))
        <= 0.15 * F.greatest(F.col("exact_users"), F.lit(1).cast("long"))
    )
    return g.select("event_type", "exact_users", ok.alias("approx_ok"))


SQL_APPROX_DISTINCT = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS approx_ok
FROM events GROUP BY event_type
"""


# ----------------------------------------------- pandas UDF surface

def q_pandas_scalar(spark, sf_dir):
    """Vectorized scalar pandas UDF over documents.text — the
    input_hint-mandated UDF surface, with a JVM cross-check column.
    The UDF is built inside the function: a module-level @pandas_udf
    parses its DDL return type at import time, which requires an
    active SparkSession and breaks import-before-session consumers."""

    @pandas_udf("long")
    def _digit_count(s: pd.Series) -> pd.Series:
        # Scalar Arrow-vectorized UDF: digits per string (batch regex)
        return s.str.count(r"[0-9]").astype("int64")

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        _digit_count(F.col("text")).alias("n_digits"),
    )


SQL_PANDAS_SCALAR = """
SELECT doc_id,
       CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
FROM documents
"""


def q_pandas_udaf_median(spark, sf_dir):
    """Grouped-agg pandas UDF (UDAF): per-user median event value.
    np.percentile, Spark's percentile() and DuckDB's quantile_cont all
    use linear interpolation → values agree exactly. UDF built inside
    the function (module-level @pandas_udf needs a live session at
    import — see q_pandas_scalar)."""

    @pandas_udf("double")
    def _median_udaf(v: pd.Series) -> float:
        # grouped-agg Arrow UDAF: exact linear-interpolated median
        return float(np.percentile(v.to_numpy(dtype="float64"), 50))

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(_median_udaf(F.col("value")), 6).alias("median_value")
    )


SQL_PANDAS_UDAF = """
SELECT user_id, ROUND(quantile_cont(value, 0.5), 6) AS median_value
FROM events GROUP BY user_id
"""


def q_quantile_sketch(spark, sf_dir):
    """Approximate quantiles (percentile_approx — the Greenwald-Khanna
    sketch: mergeable per-partition partials, the only viable quantile
    path at 10^12 rows) next to exact interpolated percentiles, with
    an agreement gate: the sketch value must land within 2% relative
    error of exact. The oracle value-checks the EXACT percentiles
    (DuckDB quantile_cont uses the same (n-1)p linear interpolation)
    and pins the agreement booleans — the sketch itself is not SQL-
    reproducible (same class as approx_distinct/HLL), the gate is."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_p50e"),
        F.expr("percentile(value, 0.95)").alias("_p95e"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_p50a"),
        F.expr("percentile_approx(value, 0.95, 10000)").alias("_p95a"),
    )

    def ok(a: str, e: str):
        return F.abs(F.col(a) - F.col(e)) <= 0.02 * F.greatest(
            F.abs(F.col(e)), F.lit(1.0)
        )

    return g.select(
        "event_type",
        F.round("_p50e", 6).alias("p50_exact"),
        F.round("_p95e", 6).alias("p95_exact"),
        ok("_p50a", "_p50e").alias("p50_ok"),
        ok("_p95a", "_p95e").alias("p95_ok"),
    ).orderBy("event_type")


SQL_QUANTILE_SKETCH = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
       ROUND(quantile_cont(value, 0.95), 6) AS p95_exact,
       true AS p50_ok, true AS p95_ok
FROM events GROUP BY event_type ORDER BY event_type
"""
