"""Driver-facing query catalog: Spark query + DuckDB oracle SQL pairs.

Each entry exercises one operator family from SURVEY.md §2.B on the
driver's read-only testdata (TESTDATA.md). The `events` table is the
transcript analog (user_id≈conv_id, event_id≈turn_idx, event_type≈role,
props≈text payload). Column names and types are aligned pairwise:
counts/ids are BIGINT on both sides; SUM/AVG over doubles go through
exact DECIMAL accumulation on BOTH sides and only then cast to double
(double accumulation order differs between engines in the last ulp, so
even ROUND(...,6) flips at rounding boundaries); ratios computed from
identical operands are left as raw doubles (bit-identical).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fte.functions import epoch_seconds
from fte.operators.asof import asof_join_merge, asof_join_window
from fte.operators.sessionize import sessionize
from fte.operators.windows import (
    dedup_turns, with_backfill, with_rolling_counts, with_rolling_role_freq,
)
from fte.scan import read_table as _t

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


# ---------------------------------------------------------------- events

def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize(
        ev, gap_seconds=1800, conv_col="user_id", ts_col="ts",
        order_cols=("ts", "event_id"), out_col="session_id",
    )
    return out.select("event_id", "user_id", F.col("session_id").cast("long").alias("session_id"))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT event_id, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN prev_ts IS NULL
                      OR (epoch_us(ts) - epoch_us(prev_ts)) > 1800 * 1000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       AS session_id
FROM g
"""


def q_session_stats(spark, sf_dir):
    """Composition: sessionize → per-session aggregate."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, 1800, "user_id", "ts", ("ts", "event_id"), "session_id")
    return (
        s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            (F.max(epoch_seconds("ts")) - F.min(epoch_seconds("ts"))).alias("duration_s"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
    )


SQL_SESSION_STATS = """
WITH g AS (
  SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), s AS (
  SELECT *, CAST(SUM(CASE WHEN prev_ts IS NULL
                           OR (epoch_us(ts) - epoch_us(prev_ts)) > 1800 * 1000000
                          THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       (epoch_us(MAX(ts)) // 1000000) - (epoch_us(MIN(ts)) // 1000000) AS duration_s,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, session_id
"""


def q_rolling_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = with_rolling_counts(ev, conv_col="user_id", order_cols=("ts", "event_id"))
    return out.selectExpr(
        "event_id", "user_id", "turns_so_far AS n_so_far", "turns_last_300s AS n_last_300s"
    )


SQL_ROLLING_COUNTS = """
SELECT event_id, user_id,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
                      RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) AS n_last_300s
FROM events
"""


def q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        (epoch_seconds("ts") - F.lag(epoch_seconds("ts"), 1).over(w)).alias("gap_s"),
    )


SQL_LAG_LEAD = """
SELECT event_id, user_id,
       LAG(value, 1)      OVER w AS prev_value,
       LAG(event_type, 1) OVER w AS prev_type,
       LEAD(event_type, 1) OVER w AS next_type,
       (epoch_us(ts) // 1000000) - LAG(epoch_us(ts) // 1000000, 1) OVER w AS gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_backfill(spark, sf_dir):
    """Forward-fill the last seen purchase value per user."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "purchase_value", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    out = with_backfill(
        ev, ["purchase_value"], conv_col="user_id", order_cols=("ts", "event_id"),
        prefix="ffill_",
    )
    return out.select("event_id", "user_id", "ffill_purchase_value")


SQL_BACKFILL = """
SELECT event_id, user_id,
       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_purchase_value
FROM events
"""


def _asof_frames(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"), "user_id", "ts"
    )
    turns = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    return anchors, turns


_ASOF_KW = dict(
    by="user_id", ts_col="ts",
    right_cols=("event_id", "event_type", "value", "ts"),
    prefix="r_", seq_col="event_id",
)


def q_asof_join(spark, sf_dir):
    """PIT join: for each purchase, the latest prior non-purchase event
    (inclusive bound, ties → max event_id). Pure-Catalyst impl."""
    anchors, turns = _asof_frames(spark, sf_dir)
    out = asof_join_window(anchors, turns, **_ASOF_KW)
    return out.select(
        "anchor_id", "user_id", "r_event_id", "r_event_type", "r_value",
        (epoch_seconds("ts") - epoch_seconds("r_ts")).alias("age_s"),
    )


def q_asof_join_merge(spark, sf_dir):
    """Same PIT join through the broadcast-pruned cogroup merge_asof."""
    anchors, turns = _asof_frames(spark, sf_dir)
    out = asof_join_merge(anchors, turns, **_ASOF_KW)
    return out.select(
        "anchor_id", "user_id", "r_event_id", "r_event_type", "r_value",
        (epoch_seconds("ts") - epoch_seconds("r_ts")).alias("age_s"),
    )


SQL_ASOF = """
WITH a AS (
  SELECT event_id AS anchor_id, user_id, ts FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT event_id, user_id, event_type, value, ts FROM events WHERE event_type <> 'purchase'
)
SELECT a.anchor_id, a.user_id, r.event_id AS r_event_id, r.event_type AS r_event_type,
       r.value AS r_value,
       (epoch_us(a.ts) // 1000000) - (epoch_us(r.ts) // 1000000) AS age_s
FROM a LEFT JOIN LATERAL (
  SELECT t.event_id, t.event_type, t.value, t.ts
  FROM t WHERE t.user_id = a.user_id AND t.ts <= a.ts
  ORDER BY t.ts DESC, t.event_id DESC LIMIT 1
) r ON TRUE
"""


def q_role_freq_running(spark, sf_dir):
    """Running per-type counts + fraction at each event (conditional
    cumulative sums sharing one window pass)."""
    ev = _t(spark, sf_dir, "events")
    out = with_rolling_role_freq(
        ev, roles=EVENT_TYPES, role_col="event_type", conv_col="user_id",
        order_cols=("ts", "event_id"),
    )
    cols = ["event_id", "user_id"]
    for t in EVENT_TYPES:
        cols += [f"CAST(cnt_{t} AS BIGINT) AS cnt_{t}", f"ROUND(frac_{t}, 6) AS frac_{t}"]
    return out.selectExpr(*cols)


def _sql_role_freq() -> str:
    parts = []
    for t in EVENT_TYPES:
        parts.append(
            f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS cnt_{t}"
        )
        parts.append(
            f"ROUND(CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) OVER w AS DOUBLE)"
            f" / COUNT(*) OVER w, 6) AS frac_{t}"
        )
    return (
        "SELECT event_id, user_id, " + ", ".join(parts) + " FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


def q_dedup(spark, sf_dir):
    """Late-data dedup: one event per (user_id, second-bucket), highest
    event_id wins — row_number dedup, one shuffle."""
    ev = _t(spark, sf_dir, "events").withColumn("ts_sec", F.date_trunc("minute", "ts"))
    out = dedup_turns(ev, keys=("user_id", "ts_sec"), order_cols=(F.col("event_id").desc(),))
    return out.select("event_id", "user_id", "ts_sec")


SQL_DEDUP = """
SELECT event_id, user_id, date_trunc('minute', ts) AS ts_sec
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('minute', ts)
                           ORDER BY event_id DESC) = 1
"""


def q_topk_recent(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_id", "user_id", F.col("rn").cast("long").alias("rn"))
    )


SQL_TOPK = """
SELECT event_id, user_id, CAST(rn AS BIGINT) AS rn FROM (
  SELECT event_id, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 3
"""


def q_user_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        (
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double") / F.count("*")
        ).alias("avg_value"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


SQL_USER_STATS = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_value,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def q_rollup_day_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .rollup("day", "event_type")
        .agg(F.count("*").alias("n"))
    )


SQL_ROLLUP = """
SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
FROM events GROUP BY ROLLUP (day, event_type)
"""


def q_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


SQL_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
"""


# ---------------------------------------------------------------- tpch

def q_tpch_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("sum_disc_price"),
            (
                F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double") / F.count("*")
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_segment(spark, sf_dir):
    """3-way join: lineitem ⨝ orders ⨝ broadcast(customer).

    r6 (guide §2.3, aggregate before you shuffle): lineitem is first
    reduced to per-order decimal partials (revenue sum + line count) —
    the groupBy(l_orderkey) collapses onto the scan-spread exchange,
    and the order join then moves ~4x fewer rows through the
    sort-merge. Decimal sums are associative and exact, so
    sum-of-order-partials per segment is bit-identical to the flat
    per-line sum; n_lines is a sum of per-order counts. NULL order
    keys drop at the inner join in both formulations."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
        F.count("*").alias("_n"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.sum("_n").cast("long").alias("n_lines"),
        )
    )


SQL_REVENUE_SEGMENT = """
SELECT c_mktsegment,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_customers_no_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


SQL_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
"""


# ---------------------------------------------------------------- documents

def q_doc_text_stats(spark, sf_dir):
    """Text-analysis scalars: token count, punctuation/upper ratios,
    stopword share — all JVM expressions (quality-scoring family)."""
    d = _t(spark, sf_dir, "documents")
    txt = F.col("text")
    words = F.split(F.trim(txt), r"\s+")
    # stopword hits via ONE boundary-anchored regexp_count instead of
    # the interpreted per-token HOF filter (~100µs/element — the
    # fte/operators/text.py lang_id lesson): a match flanked by
    # ^/whitespace/$ is exactly a full \s+-split token, so the count
    # equals size(filter(words, w -> lower(w) IN stop)) bit-for-bit.
    stop_pat = r"(?<=^|\s)(the|a|of|and|to|in|is)(?=\s|$)"
    return d.select(
        "doc_id",
        F.length(txt).alias("n_chars_actual"),
        F.size(words).cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(txt, r"[^.,;:!?]", "")) / F.greatest(F.length(txt), F.lit(1)),
            6,
        ).alias("punct_ratio"),
        F.round(
            F.regexp_count(F.lower(F.trim(txt)), F.lit(stop_pat))
            / F.greatest(F.size(words), F.lit(1)),
            6,
        ).alias("stopword_ratio"),
    )


SQL_DOC_STATS = """
SELECT doc_id,
       LENGTH(text) AS n_chars_actual,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       ROUND(CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
             / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
       ROUND(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains(['the','a','of','and','to','in','is'], lower(w)))) AS DOUBLE)
             / GREATEST(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6) AS stopword_ratio
FROM documents
"""


def q_doc_exact_dedup(spark, sf_dir):
    """Exact dedup by content hash: keep min doc_id per md5(text)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


SQL_DOC_DEDUP = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------- embeddings

def q_knn_bruteforce(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding, via the
    library's scale path (``brute_force_topk``): one vectorized numpy
    GEMV per Arrow batch against the query vector, global top-k as
    orderBy+limit → TakeOrderedAndProject. The bench therefore
    measures the operator a 100 TB run would use; the DuckDB oracle's
    sequential dot agrees after the 6-dp rounding (same precedent as
    emb_top_pairs_gemm)."""
    from fte.operators.similarity import brute_force_topk
    from fte.queries_ml import query_vector

    e = _t(spark, sf_dir, "embeddings", spread_scan=False)
    return brute_force_topk(e, query_vector(e), k=10).select(
        "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_KNN = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))) AS sim
  FROM embeddings, q
)
SELECT vec_id, ROUND(sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT vec_id, sim, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS rank FROM s
) WHERE rank <= 10
"""


# ---------------------------------------------------------------- catalog

def catalog() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from fte.queries_ml import catalog_ml

    base = {
        "sessionize": (q_sessionize, SQL_SESSIONIZE),
        "session_stats": (q_session_stats, SQL_SESSION_STATS),
        "rolling_counts": (q_rolling_counts, SQL_ROLLING_COUNTS),
        "lag_lead": (q_lag_lead, SQL_LAG_LEAD),
        "backfill": (q_backfill, SQL_BACKFILL),
        "asof_join": (q_asof_join, SQL_ASOF),
        "asof_join_merge": (q_asof_join_merge, SQL_ASOF),
        "role_freq_running": (q_role_freq_running, _sql_role_freq()),
        "dedup": (q_dedup, SQL_DEDUP),
        "topk_recent": (q_topk_recent, SQL_TOPK),
        "user_stats": (q_user_stats, SQL_USER_STATS),
        "rollup_day_type": (q_rollup_day_type, SQL_ROLLUP),
        "json_extract": (q_json_extract, SQL_JSON),
        "tpch_pricing": (q_tpch_pricing, SQL_TPCH_PRICING),
        "revenue_by_segment": (q_revenue_by_segment, SQL_REVENUE_SEGMENT),
        "customers_no_orders": (q_customers_no_orders, SQL_NO_ORDERS),
        "doc_text_stats": (q_doc_text_stats, SQL_DOC_STATS),
        "doc_exact_dedup": (q_doc_exact_dedup, SQL_DOC_DEDUP),
        "knn_bruteforce": (q_knn_bruteforce, SQL_KNN),
    }
    from fte.queries_analytics import catalog_analytics
    from fte.queries_extra import catalog_extra
    from fte.queries_fe import catalog_fe
    from fte.queries_pipeline import catalog_pipeline

    base.update(catalog_ml())
    base.update(catalog_extra())
    base.update(catalog_pipeline())
    base.update(catalog_fe())
    base.update(catalog_analytics())
    return _driver_window_order(base)


# The driver's CORRECTNESS snapshot records only the FIRST 50 catalog
# entries (dict insertion order), so this tuple decides which queries
# a round re-proves: the most recently changed first.
_DRIVER_WINDOW_FIRST = (
    # encoding-family core: the null-safe join-back and the exact
    # DECIMAL complement (OOF and LOO values move by design; NULL
    # categories now survive every oracle join)
    "oof_target_encode", "loo_target_encode", "count_encode",
    # the other encoders, now one projection over one broadcast
    # statistics row and one percentile helper
    "target_encode", "robust_scale", "quantile_bin", "zscore",
    "minmax_scale", "drift_psi", "woe_encode", "feature_hash",
    # rest of the previous window, most recently changed first
    "winnow_fp", "winnow_pairs", "segment_dedup", "repetition_stats",
    "bm25_topk", "bm25_batch", "top_terms", "range_join", "minhash_neardup",
    "ngram_neardup", "decontaminate", "doc_chunks", "doc_quality",
    "lang_id", "pii_redact", "unigram_xent", "knn_bruteforce", "knn_batch",
    "lsh_topk", "ivf_topk", "ivf_knn_batch", "lsh_recall_vs_exact",
    "ivf_recall_vs_exact", "ivf_knn_recall_vs_exact", "quant_knn",
    "quant_recall_vs_exact", "emb_top_pairs", "emb_top_pairs_gemm",
    "emb_neardup", "emb_norms", "emb_covariance", "simhash_neardup",
    "simhash_recall_vs_exact", "hash_split", "doc_text_stats",
    "revenue_by_segment", "minhash_recall_vs_exact", "incremental_neardup",
    "rolling_counts",
)


def _driver_window_order(base: dict) -> dict:
    ordered = {name: base[name] for name in _DRIVER_WINDOW_FIRST}
    ordered.update({n: v for n, v in base.items() if n not in ordered})
    return ordered
