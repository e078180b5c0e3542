"""Round-2 training-pipeline query/oracle pairs: training-example
extraction, repetition filters, PII redaction, RAG chunking, BM25.

Same contract as fte.queries: each q_* takes (spark, sf_dir) and has a
DuckDB oracle twin with identical column names/types. The `events`
table stands in for transcripts (user_id≈conv_id, ts/event_id≈turn
order, event_type≈role); `documents` is the curation corpus.

Rendered-turn payloads use only integer ids and enum strings
(``event_type#event_id``) so Spark and DuckDB format them identically —
double→string formatting differs between engines.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from fte.functions import words
from fte.operators.pairs import make_training_pairs, render_conversations
from fte.scan import read_table as _t


# ------------------------------------------------- training pairs

def q_training_pairs(spark, sf_dir):
    """(context, response) pairs over the transcript analog: response
    turns are 'click' events, context is the previous 3 turns rendered
    ``event_type#event_id``. Exercises make_training_pairs end-to-end
    (bounded-frame collect_list window, leakage-safe by frame)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_txt", F.concat_ws("#", "event_type", F.col("event_id").cast("string"))
    )
    out = make_training_pairs(
        ev,
        conv_col="user_id",
        order_cols=("ts", "event_id"),
        role_col="event_type",
        text_col="_txt",
        response_role="click",
        context_turns=3,
        turn_sep=" | ",
    )
    # rendered turn = "role: role#id"; ids make every turn unique
    return out.select(
        "user_id",
        F.col("event_id").alias("pair_id"),
        "n_context",
        "context",
        "response",
    ).orderBy("pair_id")


SQL_TRAINING_PAIRS = """
WITH r AS (
  SELECT user_id, event_id, ts, event_type,
         event_type || ': ' || event_type || '#' || CAST(event_id AS VARCHAR) AS rt
  FROM events
), w AS (
  SELECT user_id, event_id, event_type, rt,
         COUNT(*) OVER fr AS n_context,
         COALESCE(string_agg(rt, ' | ') OVER fr, '') AS context
  FROM r
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS pair_id, CAST(n_context AS BIGINT) AS n_context,
       context, rt AS response
FROM w WHERE event_type = 'click' ORDER BY pair_id
"""


def q_sft_render(spark, sf_dir):
    """Whole-conversation SFT rendering: every user's event stream
    flattened to one ordered chat-template document (one hash agg,
    in-aggregate array_sort ordering, no window pass)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "_txt", F.concat_ws("#", "event_type", F.col("event_id").cast("string"))
    )
    out = render_conversations(
        ev,
        conv_col="user_id",
        order_cols=("ts", "event_id"),
        role_col="event_type",
        text_col="_txt",
        turn_sep="\n",
    )
    return out.orderBy("user_id")


SQL_SFT_RENDER = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       string_agg(event_type || ': ' || event_type || '#' ||
                  CAST(event_id AS VARCHAR), chr(10) ORDER BY ts, event_id)
         AS sft_text
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_sft_spans(spark, sf_dir):
    """Loss-mask spans inside the rendered SFT documents: 0-based
    [start, end) character ranges of every 'click' (loss-role) turn —
    the offsets a trainer uses to mask non-assistant tokens. Window
    cumsum over rendered-turn lengths, same single conv shuffle as
    the renderer; substring-exactness is pytest-gated."""
    from fte.operators.pairs import sft_loss_spans

    ev = _t(spark, sf_dir, "events").withColumn(
        "_txt", F.concat_ws("#", "event_type", F.col("event_id").cast("string"))
    )
    out = sft_loss_spans(
        ev,
        conv_col="user_id",
        order_cols=("ts", "event_id"),
        role_col="event_type",
        text_col="_txt",
        loss_role="click",
        turn_sep="\n",
    )
    return out.select(
        "user_id", F.col("event_id").alias("span_id"), "span_start", "span_end"
    ).orderBy("span_id")


SQL_SFT_SPANS = """
WITH r AS (
  SELECT user_id, event_id, ts, event_type,
         event_type || ': ' || event_type || '#' || CAST(event_id AS VARCHAR) AS rt
  FROM events
), w AS (
  SELECT user_id, event_id, event_type,
         COALESCE(SUM(LENGTH(rt) + 1) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS span_start,
         LENGTH(rt) AS rlen
  FROM r
)
SELECT user_id, event_id AS span_id,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(span_start + rlen AS BIGINT) AS span_end
FROM w WHERE event_type = 'click' ORDER BY span_id
"""


# ------------------------------------------------- repetition filters

def q_repetition_stats(spark, sf_dir):
    from fte.operators.text import with_repetition_stats

    d = _t(spark, sf_dir, "documents")
    return with_repetition_stats(d).select(
        "doc_id", "n_words", "n_distinct_words", "top_word_count",
        "n_distinct_bigrams", "distinct_word_ratio", "dup_bigram_ratio",
        "repetition_keep",
    ).orderBy("doc_id")


SQL_REPETITION = """
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
), w AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM base
), wc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w
), ws AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
         CAST(MAX(c) AS BIGINT) AS top_word_count
  FROM wc GROUP BY doc_id
), bg AS (
  SELECT doc_id, w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM w
), bs AS (
  SELECT doc_id, CAST(COUNT(DISTINCT b) AS BIGINT) AS n_distinct_bigrams,
         CAST(COUNT(b) AS BIGINT) AS n_bigrams
  FROM bg GROUP BY doc_id
)
SELECT ws.doc_id, n_words, n_distinct_words, top_word_count,
       n_distinct_bigrams,
       CAST(n_distinct_words AS DOUBLE) / n_words AS distinct_word_ratio,
       CASE WHEN n_bigrams > 0
            THEN CAST(1.0 AS DOUBLE) - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
            ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_ratio,
       (CAST(n_distinct_words AS DOUBLE) / n_words >= CAST(0.2 AS DOUBLE)
        AND CAST(top_word_count AS DOUBLE) / n_words <= CAST(0.2 AS DOUBLE)
        AND (CASE WHEN n_bigrams > 0
                  THEN CAST(1.0 AS DOUBLE) - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
                  ELSE CAST(0.0 AS DOUBLE) END) <= CAST(0.9 AS DOUBLE))
         AS repetition_keep
FROM ws JOIN bs USING (doc_id) ORDER BY ws.doc_id
"""


# ------------------------------------------------- PII redaction

def q_pii_redact(spark, sf_dir):
    """Regex PII scrub over documents. The synthetic corpus carries no
    PII, so both sides append deterministic PII derived from doc_id
    (an email, a phone, an SSN-shaped string) and the oracle verifies
    the redaction machinery on real matches, not on a no-op."""
    from fte.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-6789."),
        ).alias("text"),
    )
    out = redact_pii(aug)
    return out.select(
        "doc_id", "n_emails", "n_phones", "n_ssns", "text_redacted"
    ).orderBy("doc_id")


SQL_PII = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' ssn 123-45-6789.' AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssns,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
         '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS text_redacted
FROM aug ORDER BY doc_id
"""


# ------------------------------------------------- RAG chunking

def q_chunk_documents(spark, sf_dir):
    from fte.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_words=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


SQL_CHUNKS = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
  FROM documents
), s AS (
  -- starts stop once the previous chunk reaches the doc end (a
  -- trailing subset chunk would duplicate text), mirroring
  -- fte.operators.text.chunk_documents
  SELECT doc_id, words, len(words) AS n,
         UNNEST(generate_series(
           0, greatest(least(len(words) - 1, len(words) - 32 + 24 - 1), 0), 24
         )) AS start
  FROM w
)
SELECT doc_id,
       CAST(start / 24 AS BIGINT) AS chunk_idx,
       CAST(least(32, n - start) AS BIGINT) AS n_chunk_words,
       array_to_string(words[start + 1 : start + 32], ' ') AS chunk
FROM s ORDER BY doc_id, chunk_idx
"""


# ------------------------------------------------- BM25 retrieval

BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75


def q_bm25(spark, sf_dir):
    from fte.operators.text import bm25_scores

    d = _t(spark, sf_dir, "documents")
    scored = bm25_scores(d, BM25_QUERY_TERMS, k1=BM25_K1, b=BM25_B)
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)
    return top.select(
        "doc_id",
        F.col("n_words"),
        F.col("n_hit_terms"),
        F.round("bm25", 6).alias("bm25_r"),
    )


SQL_BM25 = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM base
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(CAST(n_words AS DOUBLE)) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
  WHERE w IN ('spark', 'join', 'window') GROUP BY doc_id, w
), df AS (
  SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY w
), sc AS (
  SELECT tf.doc_id, tf.w,
         ln((stats.n_docs - df.df + CAST(0.5 AS DOUBLE))
            / (df.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
         * tf.tf * CAST(2.2 AS DOUBLE)
         / (tf.tf + CAST(1.2 AS DOUBLE) *
            (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             + CAST(0.75 AS DOUBLE) * dl.n_words / stats.avgdl)) AS s
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  -- fixed-order sum (s0+s1+s2), mirroring the Spark side: an
  -- arbitrary-order SUM() differs in the last ulp across engines
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
         MAX(CASE WHEN w = 'spark'  THEN s END) AS s0,
         MAX(CASE WHEN w = 'join'   THEN s END) AS s1,
         MAX(CASE WHEN w = 'window' THEN s END) AS s2
  FROM sc GROUP BY doc_id
), total AS (
  SELECT doc_id, n_hit_terms,
         COALESCE(s0, CAST(0 AS DOUBLE)) + COALESCE(s1, CAST(0 AS DOUBLE))
           + COALESCE(s2, CAST(0 AS DOUBLE)) AS bm25
  FROM agg
)
SELECT total.doc_id, dl.n_words, total.n_hit_terms,
       ROUND(total.bm25, 6) AS bm25_r
FROM total JOIN dl USING (doc_id)
ORDER BY total.bm25 DESC, total.doc_id ASC LIMIT 20
"""


# ------------------------------------------------- batch retrieval

BM25_BATCH_QUERIES = {
    0: ("spark", "join"),
    1: ("window", "filter"),
    2: ("scan", "table", "value"),
}


def q_bm25_batch(spark, sf_dir):
    """Batch BM25: top-5 docs for each of 3 term-bag queries in one
    pass (broadcast query-term table onto one corpus explode)."""
    from fte.operators.text import bm25_topk_batch

    d = _t(spark, sf_dir, "documents", min_bytes=2 << 20)
    out = bm25_topk_batch(d, BM25_BATCH_QUERIES, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        "rank",
        "doc_id",
        "n_hit_terms",
        F.round("bm25", 6).alias("bm25_r"),
    ).orderBy("query_id", "rank")


SQL_BM25_BATCH = r"""
WITH q(query_id, w, ti) AS (
  VALUES (0, 'spark', 0), (0, 'join', 1),
         (1, 'window', 0), (1, 'filter', 1),
         (2, 'scan', 0), (2, 'table', 1), (2, 'value', 2)
), base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM base
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(CAST(n_words AS DOUBLE)) AS avgdl
  FROM dl
), tf AS (
  SELECT q.query_id, tok.doc_id, tok.w, q.ti, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok JOIN q ON tok.w = q.w
  GROUP BY q.query_id, tok.doc_id, tok.w, q.ti
), df AS (
  SELECT query_id, w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY query_id, w
), sc AS (
  SELECT tf.query_id, tf.doc_id, tf.ti,
         ln((stats.n_docs - df.df + CAST(0.5 AS DOUBLE))
            / (df.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
         * tf.tf * CAST(2.2 AS DOUBLE)
         / (tf.tf + CAST(1.2 AS DOUBLE) *
            (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
             + CAST(0.75 AS DOUBLE) * dl.n_words / stats.avgdl)) AS s
  FROM tf JOIN df USING (query_id, w) JOIN dl USING (doc_id) CROSS JOIN stats
), scored AS (
  -- fixed-order per-term-index sum (s0+s1+s2), mirroring the Spark
  -- side: unordered SUM differs in the last ulp across engines
  SELECT query_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
         COALESCE(MAX(CASE WHEN ti = 0 THEN s END), CAST(0 AS DOUBLE))
           + COALESCE(MAX(CASE WHEN ti = 1 THEN s END), CAST(0 AS DOUBLE))
           + COALESCE(MAX(CASE WHEN ti = 2 THEN s END), CAST(0 AS DOUBLE)) AS bm25
  FROM sc GROUP BY query_id, doc_id
), ranked AS (
  SELECT query_id, doc_id, n_hit_terms, bm25,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
       doc_id, n_hit_terms, ROUND(bm25, 6) AS bm25_r
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


# ------------------------------------------------- dataset mixing

def q_source_mix(spark, sf_dir):
    """Mixture reweighting: downsample src0 to 20%, src1 to 60%, keep
    everything else (key-stable md5 uniforms — the same document
    survives at any parallelism). Output: per-source survivor counts."""
    from fte.operators.sampling import sample_sources

    # spread_scan=False: md5-uniform filter + tiny groupBy — no scan-side
    # compute worth an exchange (r6 A/B)
    d = _t(spark, sf_dir, "documents", spread_scan=False)
    mixed = sample_sources(d, {"src0": 0.2, "src1": 0.6}, seed=42)
    return (
        mixed.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .orderBy("source")
    )


SQL_SOURCE_MIX = """
WITH u AS (
  SELECT source,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT) AS DOUBLE)
           / CAST(4294967296.0 AS DOUBLE) AS u
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM u
WHERE u < CASE source WHEN 'src0' THEN CAST(0.2 AS DOUBLE)
                      WHEN 'src1' THEN CAST(0.6 AS DOUBLE)
                      ELSE CAST(1.0 AS DOUBLE) END
GROUP BY source ORDER BY source
"""


# ------------------------------------------------- model scoring

def q_model_score(spark, sf_dir):
    """Batch model-scoring seam exercised end-to-end: the deterministic
    fake classifier (distinct-word ratio) runs through the real
    mapInPandas contract (Arrow batches, one model load per worker,
    text never returns) and is value-checked against the same
    definition in SQL."""
    from fte.operators.scoring import score_with_model

    d = _t(spark, sf_dir, "documents")
    return (
        score_with_model(d)
        .select("doc_id", F.round("model_score", 6).alias("score_r"))
        .orderBy("doc_id")
    )


SQL_MODEL_SCORE = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM base
)
SELECT doc_id,
       ROUND(CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*), 6) AS score_r
FROM tok GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------- skew diagnostics

def q_key_skew(spark, sf_dir):
    """Heavy-hitter report over the join key (user_id): top-10 keys
    with their share of all events — the salting-decision input."""
    from fte.operators.skew import key_skew_report

    ev = _t(spark, sf_dir, "events")
    out = key_skew_report(ev, "user_id", top_n=10)
    return out.select(
        F.col("key").cast("long").alias("key"), "n_rows",
        F.round("share", 6).alias("share_r"),
    ).orderBy(F.desc("n_rows"), F.asc("key"))


SQL_KEY_SKEW = """
WITH c AS (
  SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY user_id
), t AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS total FROM c)
SELECT key, n_rows, ROUND(n_rows / t.total, 6) AS share_r
FROM c CROSS JOIN t
ORDER BY n_rows DESC, key ASC LIMIT 10
"""


# ------------------------------------------------- VARIANT (semi-structured)

def q_variant_extract(spark, sf_dir):
    """Semi-structured payloads via Spark 4's VARIANT type: parse the
    events props JSON once into a variant, extract a typed field with
    variant_get, aggregate per event type. The modern alternative to
    schema-on-read from_json when payload shapes drift (open
    content-type columns in web-scale scrapes)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_VARIANT = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_with_k,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------- percentile gate

def q_xent_percentile_gate(spark, sf_dir):
    """Per-source quality-percentile gate (the CCNet bucket step):
    keep each source's best 75% of documents by unigram cross-entropy.
    Ranking uses ROUND(xent,6) + doc_id so the cut is reproducible
    across engines (raw-double ordering can flip ulp-adjacent docs)."""
    from pyspark.sql import Window

    from fte.operators.text import unigram_logprob_scores

    d = _t(spark, sf_dir, "documents")
    scored = unigram_logprob_scores(d).join(d.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(F.round("xent", 6), F.asc("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.75)
        .select("source", "doc_id", F.round("xent", 6).alias("xent_r"))
        .orderBy("source", "doc_id")
    )


SQL_XENT_GATE = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM base
), vocab AS (
  SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY w
), totals AS (
  SELECT SUM(c) AS n_total, CAST(COUNT(*) AS DOUBLE) AS v FROM vocab
), xent AS (
  SELECT doc_id,
         ROUND(AVG(-ln((vocab.c + CAST(0.5 AS DOUBLE))
                       / (totals.n_total + CAST(0.5 AS DOUBLE) * totals.v))), 6)
           AS xent_r
  FROM tok JOIN vocab USING (w) CROSS JOIN totals
  GROUP BY doc_id
), ranked AS (
  SELECT d.source, x.doc_id, x.xent_r,
         PERCENT_RANK() OVER (PARTITION BY d.source
                              ORDER BY x.xent_r, x.doc_id) AS pr
  FROM xent x JOIN documents d USING (doc_id)
)
SELECT source, doc_id, xent_r FROM ranked
WHERE pr <= CAST(0.75 AS DOUBLE) ORDER BY source, doc_id
"""


# ------------------------------------------------- embedding pooling

def q_emb_pool(spark, sf_dir):
    """Mean-pool embeddings into 50 groups (vec_id % 50 — the stand-in
    for conv_id over the embeddings table), flattened back to
    (group, pos, mean) rows so every component is value-checked."""
    from fte.operators.similarity import mean_pool_embeddings

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "grp", (F.col("vec_id") % 50).cast("long")
    )
    pooled = mean_pool_embeddings(e, "grp")
    return pooled.select(
        "grp",
        "n_vecs",
        F.posexplode("pooled").alias("pos", "m"),
    ).select(
        "grp", "n_vecs", F.col("pos").cast("long").alias("pos"),
        F.round("m", 6).alias("m_r"),
    ).orderBy("grp", "pos")


SQL_EMB_POOL = """
WITH ex AS (
  SELECT vec_id % 50 AS grp,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(pos AS BIGINT) AS pos, ROUND(AVG(x), 6) AS m_r
FROM ex GROUP BY grp, pos ORDER BY grp, pos
"""


# ------------------------------------------------- unigram LM scoring

def q_unigram_xent(spark, sf_dir):
    """Unigram-LM cross-entropy per document (CCNet-style perplexity
    filter stand-in), value-checked to 6 decimals."""
    from fte.operators.text import unigram_logprob_scores

    d = _t(spark, sf_dir, "documents", min_bytes=2 << 20)
    out = unigram_logprob_scores(d)
    return out.select(
        "doc_id", "n_words", F.round("xent", 6).alias("xent_r")
    ).orderBy("doc_id")


SQL_UNIGRAM_XENT = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM base
), vocab AS (
  SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY w
), totals AS (
  SELECT SUM(c) AS n_total, CAST(COUNT(*) AS DOUBLE) AS v FROM vocab
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       ROUND(AVG(-ln((vocab.c + CAST(0.5 AS DOUBLE))
                     / (totals.n_total + CAST(0.5 AS DOUBLE) * totals.v))), 6)
         AS xent_r
FROM tok JOIN vocab USING (w) CROSS JOIN totals
GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------- decontamination

def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (13-gram overlap, GPT-3 appx C): the
    'benchmark' is the 20-word normalized prefix of every 25th doc, so
    contamination is via a PARTIAL n-gram match, not whole-doc
    equality. Expected contaminated set = exactly those source docs
    (random word-soup 13-gram collisions across other docs are
    ~30^-13). hashed=False joins raw gram strings so DuckDB reproduces
    the join; production uses xxhash64 grams (8-byte broadcast keys)."""
    from fte.operators.dedup import contaminated_ids

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(words("text"), 1, 20), " ").alias("text"),
    )
    bad = contaminated_ids(d, bench, n=13, hashed=False)
    return bad.orderBy("doc_id")


SQL_DECONTAMINATE = r"""
WITH tw AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), tg AS (
  SELECT DISTINCT doc_id,
         array_to_string(ws[i : i + 12], ' ') AS gram
  FROM (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 12, 1))) AS i
        FROM tw)
), bw AS (
  SELECT list_slice(string_split_regex(lower(trim(text)), '\s+'), 1, 20) AS ws
  FROM documents WHERE doc_id % 25 = 0
), bg AS (
  SELECT DISTINCT array_to_string(ws[i : i + 12], ' ') AS gram
  FROM (SELECT ws,
               unnest(generate_series(1, greatest(len(ws) - 12, 1))) AS i
        FROM bw)
)
SELECT DISTINCT doc_id FROM tg JOIN bg USING (gram) ORDER BY doc_id
"""


def catalog_pipeline():
    return {
        "training_pairs": (q_training_pairs, SQL_TRAINING_PAIRS),
        "sft_render": (q_sft_render, SQL_SFT_RENDER),
        "sft_spans": (q_sft_spans, SQL_SFT_SPANS),
        "repetition_stats": (q_repetition_stats, SQL_REPETITION),
        "pii_redact": (q_pii_redact, SQL_PII),
        "doc_chunks": (q_chunk_documents, SQL_CHUNKS),
        "bm25_topk": (q_bm25, SQL_BM25),
        "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
        "source_mix": (q_source_mix, SQL_SOURCE_MIX),
        "unigram_xent": (q_unigram_xent, SQL_UNIGRAM_XENT),
        "emb_pool": (q_emb_pool, SQL_EMB_POOL),
        "bm25_batch": (q_bm25_batch, SQL_BM25_BATCH),
        "xent_percentile_gate": (q_xent_percentile_gate, SQL_XENT_GATE),
        "key_skew": (q_key_skew, SQL_KEY_SKEW),
        "variant_extract": (q_variant_extract, SQL_VARIANT),
        "model_score": (q_model_score, SQL_MODEL_SCORE),
    }
